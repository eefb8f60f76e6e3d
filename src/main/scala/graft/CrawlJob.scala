package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CharsetSniff, Html, PdfText}
import graft.queries.CrawlQueries
import graft.sources.WarcReader

/** End-to-end crawl ingestion job — the crawl-stack twin of
  * [[IngestJob]] and the deployment surface the r16 extract operators
  * compose into: WARC shards in, a documents table + crawl frontier +
  * quarantine report out.
  *
  * Stages (each one an independently oracle-proven op):
  *   1. [[WarcReader.records]] — shard scan, framing, HTTP split;
  *   2. format dispatch: `application/pdf` (or a `%PDF-` magic) →
  *      [[PdfText]]; everything else → [[CharsetSniff]] then [[Html]];
  *   3. quality gate: `gopher_stats` token counts (Gopher-style floor:
  *      ≥ `minTokens` tokens AND unique-token fraction ≥ 1/4 — pages
  *      that are all boilerplate repetition fail the second clause);
  *   4. exact dedup: md5(text) keep-first (min URL), the
  *      `dedup_exact` shape — dropped rows keep their `dup_of` key;
  *   5. frontier: [[Html.extractLinks]] resolved against the page URL,
  *      anti-joined with everything crawled (`pipeline_crawl_frontier`
  *      shape).
  *
  * Scale shape: stages 1–3 are per-record map work (zero shuffles, the
  * ScaleCurveSmoke-proven linear path); stage 4 shuffles once on the
  * text hash; stage 5 shuffles once on the URL. One pass over the
  * records frame feeds both the docs and frontier branches via an
  * explicit persist (released before return) — bodies are read once.
  */
object CrawlJob {

  final case class RunReport(records: Long, quarantined: Long, docs: Long,
      kept: Long, frontier: Long)

  /** Stopword-dictionary language guess (the text_langid heuristic as a
    * reusable column): most-hit wins with the en > es > de > fr
    * precedence on ties, `und` when nothing hits.
    */
  private[graft] def langGuess(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def hits(ws: Seq[String]) = Functions.wordSetHits(lower(text), ws)
    val en = hits(Seq("the", "and", "of", "to", "in"))
    val es = hits(Seq("el", "la", "de", "y", "que"))
    val de = hits(Seq("der", "die", "und", "das", "ist"))
    val fr = hits(Seq("le", "et", "les", "des", "une"))
    when(en > 0 && en >= es && en >= de && en >= fr, "en")
      .when(es > 0 && es >= de && es >= fr, "es")
      .when(de > 0 && de >= fr, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Extracted-but-unfiltered rows for a records frame (stage 2). */
  private[graft] def extracted(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records
      .where(col("warc_type") === "response" && col("http_status") === 200)
      .select(col("target_uri"), col("http_content_type"), col("body"))
      .as[(String, Option[String], Array[Byte])]
      .map { case (uri, ctOpt, body) =>
        val ct = ctOpt.getOrElse("")
        val isPdf = ct.toLowerCase(java.util.Locale.ROOT).contains("application/pdf") ||
          (body.length >= 5 &&
            new String(body, 0, 5, "US-ASCII").startsWith("%PDF-"))
        if (isPdf) {
          val text = PdfText.extractText(body)
          (uri, "pdf", "binary", null.asInstanceOf[String],
            text.replace("\n", " "), Seq.empty[String])
        } else {
          val (charset, raw) = CharsetSniff.sniffDecode(body, ct)
          (uri, "html", charset, Html.extractTitle(raw),
            Html.extractText(raw).replace("\n", " "), Html.extractLinks(raw))
        }
      }
      .toDF("url", "format", "charset", "title", "text", "links")
  }

  /** Run the pipeline; writes `$outDir/{documents,frontier,quarantine}`
    * parquet and returns the counts.
    */
  def run(spark: SparkSession, warcDir: String, outDir: String,
          minTokens: Long = 5, agent: String = "graftbot"): RunReport = {
    val records = WarcReader.records(spark, warcDir)
    val quarantine = WarcReader.quarantine(spark, warcDir)
    // robots.txt responses captured by the crawl become the per-host
    // rule table (ops/Robots): tiny next to the frontier → broadcast,
    // decision map-side. min() picks a deterministic body should a
    // host's robots appear in several shards.
    val robotsRx = "^[a-z]+://[^/]+/robots\\.txt$"
    val robots = records
      .where(col("warc_type") === "response" && col("http_status") === 200 &&
        col("target_uri").rlike(robotsRx))
      .select(graft.ops.Urls.host(col("target_uri")).as("host"),
        decode(col("body"), "UTF-8").as("robots_body"))
      .groupBy("host").agg(min("robots_body").as("robots_body"))
    // one pass over shard bytes feeds docs AND frontier — persist the
    // extracted frame (small: text, not payloads), release before return
    val ex = extracted(records
      .where(!coalesce(col("target_uri"), lit("")).rlike(robotsRx))).persist()
    try {
      val scored = ex
        .withColumn("g", Functions.gopherStats(col("text")))
        .withColumn("keep_quality",
          col("g.n_tok") >= minTokens &&
            col("g.n_uniq") * 4 >= col("g.n_tok"))
        .withColumn("text_md5", md5(col("text")))
        .withColumn("lang", langGuess(col("text")))
      // exact dedup: keep the minimum URL per text hash (deterministic
      // canonical member — the dedup_exact/dedup_canonical shape)
      val canon = scored.groupBy("text_md5").agg(min("url").as("canon_url"))
      val docs = scored.join(canon, "text_md5")
        .withColumn("is_dup", col("url") =!= col("canon_url"))
        .select(col("url"), col("format"), col("charset"), col("title"),
          col("text"), col("lang"), col("g.n_tok").as("n_tok"),
          col("keep_quality"), col("is_dup"),
          when(col("is_dup"), col("canon_url")).as("dup_of"))
      docs.write.mode("overwrite").parquet(s"$outDir/documents")
      val crawled = ex.select(col("url"))
      val frontier = ex
        .select(col("url").as("base_url"), explode(col("links")).as("href"))
        // full reference resolution (plain-relative, ../, protocol-
        // relative); mailto:/javascript:/fragment links resolve to null
        // and are not enqueued
        .select(graft.ops.Urls.resolveUrl(col("base_url"), col("href"))
          .as("url"))
        .where(col("url").isNotNull)
        .join(crawled, Seq("url"), "left_anti")
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
        // RFC 9309 gate on the NEXT fetch list: annotated, not dropped —
        // the fetch policy decision belongs to the crawler, the report
        // shows what compliance costs
        .withColumn("host", graft.ops.Urls.host(col("url")))
        .join(broadcast(robots), Seq("host"), "left")
        .withColumn("allowed", graft.ops.Robots.robotsAllowed(
          col("robots_body"), lit(agent), graft.ops.Urls.path(col("url"))))
        .select("url", "n_refs", "allowed")
      frontier.write.mode("overwrite").parquet(s"$outDir/frontier")
      quarantine.write.mode("overwrite").parquet(s"$outDir/quarantine")
      val outDocs = spark.read.parquet(s"$outDir/documents")
      RunReport(
        records = records.count(),
        quarantined = spark.read.parquet(s"$outDir/quarantine").count(),
        docs = outDocs.count(),
        kept = outDocs.where(col("keep_quality") && !col("is_dup")).count(),
        frontier = spark.read.parquet(s"$outDir/frontier").count())
    } finally ex.unpersist()
  }

  /** Self-contained demo: stage a mixed HTML/PDF WARC fixture from the
    * sf0.001 documents table (every 4th page a PDF, one duplicated
    * body, one corrupt shard), run the job, print the report.
    */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-crawl-job")
    val dir = if (args.nonEmpty) args(0) else {
      val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").limit(200).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val tmp = java.nio.file.Files.createTempDirectory("graft_crawljob_")
      docs.grouped(50).zipWithIndex.foreach { case (chunk, shard) =>
        val recs = chunk.flatMap { case (id, text) =>
          val uri = s"http://corpus.example/doc/$id"
          val rec =
            if (id % 4 == 0) {
              val collapsed = Option(text).getOrElse("")
                .replaceAll("[ \t\n\r\f]+", " ").trim
              val lines = s"Doc $id" +: collapsed.split(" ").filter(_.nonEmpty)
                .grouped(8).map(_.mkString(" ")).toSeq
              WarcReader.WriteRec("response", uri, "", 200, "application/pdf",
                PdfText.pdfBytes(lines.grouped(5).map(_.toSeq).toSeq,
                  flate = true))
            } else WarcReader.WriteRec("response", uri, "", 200,
              "text/html; charset=utf-8",
              CrawlQueries.htmlFixturePage(id, text).getBytes("UTF-8"),
              chunked = id % 2 == 0)
          // one deliberate exact duplicate body under another URL
          if (id == 7)
            Seq(rec, rec.copy(targetUri = s"http://mirror.example/doc/$id"))
          else Seq(rec)
        }
        java.nio.file.Files.write(tmp.resolve(f"shard-$shard%02d.warc.gz"),
          WarcReader.writeShardGz(recs))
      }
      java.nio.file.Files.write(tmp.resolve("corrupt.warc.gz"),
        "not a warc shard".getBytes("UTF-8"))
      tmp.toString
    }
    val out = java.nio.file.Files.createTempDirectory("graft_crawlout_").toString
    val r = run(spark, dir, out)
    println(s"CRAWL_RECORDS=${r.records}")
    println(s"CRAWL_QUARANTINED=${r.quarantined}")
    println(s"CRAWL_DOCS=${r.docs}")
    println(s"CRAWL_KEPT=${r.kept}")
    println(s"CRAWL_FRONTIER=${r.frontier}")
    spark.stop()
  }
}

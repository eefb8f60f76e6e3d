package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.queries.CrawlQueries

/** sf1 scale-curve smoke for the headline ops (VERDICT r15 #2): run each
  * op at sf0.1 and at a synthesized 10× (sf1-equivalent) volume in the
  * same warm JVM, and HARD-ASSERT near-linear growth (ratio ≤ 12×). This
  * is the first direct evidence for the "survives a scale-up" claim that
  * no sf0.1 bench can give — a hidden driver bottleneck, quadratic
  * candidate blow-up, or single-task sort shows up here as a
  * super-linear ratio.
  *
  * Scaled corpora are 10 DISJOINT per-copy clones of the sf0.1 tables:
  * ids offset per copy, and text tokens suffixed per copy so token/
  * shingle/gram spaces are disjoint across copies — "10× more of the
  * same distribution", which keeps per-copy candidate densities equal to
  * sf0.1's instead of manufacturing cross-copy near-duplicates that no
  * real corpus growth would produce. Copy 0 is byte-identical sf0.1.
  *
  * Expect ratios WELL below 10 for the fixed-overhead-dominated ops
  * (stage scheduling amortizes — that is the point of the design) and
  * near-10 only where per-row work dominates. A ratio above 12 fails the
  * run loudly.
  *
  * Usage: ScaleCurveSmoke [copies] [op ...]
  */
object ScaleCurveSmoke {
  private val Copies = 10
  private val MaxRatio = 12.0

  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty && args(0).forall(_.isDigit)) args(0).toInt else Copies
    val only = args.dropWhile(_.forall(_.isDigit)).toSet
    val spark = GraftSession.local("graft-scale-curve")
    val dir = "/root/testdata/sf0.1"

    def docs1 = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source")
    def docsN = docs1
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(expr(s"sequence(0, ${copies - 1})")).as("k"))
      .select((col("doc_id") + col("k") * 100000000L).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            x => concat(x, lit("c"), col("k"))), " ")).as("text"),
        col("lang"), col("source"))

    def emb1 = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    def embN = emb1
      .select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(0, ${copies - 1})")).as("k"))
      .select((col("vec_id") + col("k") * 100000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + col("k").cast("float") * lit(0.001f)).as("embedding"))

    def events1 = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "event_id", "value")
    def eventsN = events1
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        explode(expr(s"sequence(0, ${copies - 1})")).as("k"))
      .select((col("user_id") + col("k") * 100000000L).as("user_id"),
        col("ts"), (col("event_id") + col("k") * 100000000L).as("event_id"),
        col("value"))

    def edges(scaleUp: Boolean): DataFrame = {
      val li = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_custkey")
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      if (!scaleUp) cs
      else cs.select(col("src"), col("dst"),
          explode(expr(s"sequence(0, ${copies - 1})")).as("k"))
        .select((col("src") + col("k") * 100000000L).as("src"),
          (col("dst") + col("k") * 100000000L).as("dst"))
    }

    // parts-co-ordered-together edges (the graph_triangles graph shape),
    // cloned per copy into disjoint id spaces when scaled
    def coEdges(scaleUp: Boolean): DataFrame = {
      val li0 = Tables.load(spark, dir, "lineitem")
        .where(col("l_linenumber") <= 4)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val li = if (!scaleUp) li0
        else li0.select(col("k"), col("p"),
            explode(expr(s"sequence(0, ${copies - 1})")).as("c"))
          .select((col("k") + col("c") * 100000000L).as("k"),
            (col("p") + col("c") * 100000000L).as("p"))
      li.groupBy("k").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("w"))
        .select(col("w.src"), col("w.dst"))
    }

    def part1 = Tables.load(spark, dir, "part")
      .select("p_partkey", "p_name", "p_brand", "p_type")
    def partN = part1
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        explode(expr(s"sequence(0, ${copies - 1})")).as("c"))
      .select((col("p_partkey") + col("c") * 100000000L).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"))

    // mirrors the fast_docs query: fragments materialized at the call
    // site, then FastIngest.termDocs
    def fastDocs(part: DataFrame): DataFrame = {
      val lines = DemoCorpus.ntFromPart(part, widen = true)
        .select(col("line"), lit("Topical").as("doc_type"))
      ingest.FastIngest.termDocs(graft.ops.Iterate.materialize(
        ingest.FastIngest.project(ingest.FastIngest.parse(lines))).df)
    }

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def sessionize(ev: DataFrame): DataFrame = {
      val gapMicros = 30L * 60 * 1000000L
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      ev.select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > gapMicros ||
              lag("ts_us", 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_seq",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"))
    }

    def warcHtml(docs: DataFrame): DataFrame = {
      import spark.implicits._
      import graft.sources.WarcReader
      docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val shard = WarcReader.writeShardGz(Seq(WarcReader.WriteRec(
            "response", s"http://c.example/doc/$id", "", 200, "text/html",
            CrawlQueries.htmlFixturePage(id, text).getBytes("UTF-8"),
            chunked = id % 2 == 0)))
          WarcReader.parseShard(s"d$id",
              WarcReader.inflateShard(shard).get)._1
            .map(r => (id,
              graft.ops.Html.extractText(new String(r.body, "UTF-8"))))
        }
        .toDF("doc_id", "text")
    }

    def pdfExtract(docs: DataFrame): DataFrame = {
      import spark.implicits._
      docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val collapsed = Option(text).getOrElse("")
            .replaceAll("[ \t\n\r\f]+", " ").trim
          val words =
            if (collapsed.isEmpty) Array.empty[String] else collapsed.split(" ")
          val lines = s"Doc $id" +: words.grouped(8).map(_.mkString(" ")).toSeq
          (id, graft.ops.PdfText.extractText(graft.ops.PdfText.pdfBytes(
            lines.grouped(5).map(_.toSeq).toSeq, flate = id % 2 == 0)))
        }
        .toDF("doc_id", "text")
    }

    // op name -> (1x frame, Nx frame) builders; each op consumed via a
    // noop write (the Bench action)
    val ops: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("dedup_ppjoin",
        () => graft.ops.Dedup.prefixJaccardJoin(docs1, "text", "doc_id",
          k = 3, tNum = 1, tDen = 2),
        () => graft.ops.Dedup.prefixJaccardJoin(docsN, "text", "doc_id",
          k = 3, tNum = 1, tDen = 2)),
      ("dedup_spans_sa",
        () => graft.ops.Dedup.dedupSpansSa(docs1, "text", "doc_id", k = 5),
        () => graft.ops.Dedup.dedupSpansSa(docsN, "text", "doc_id", k = 5)),
      ("dedup_clusters",
        () => graft.ops.Dedup.connectedComponents(
          graft.ops.Dedup.minhashCandidates(
            graft.ops.Dedup.minhashSignature(docs1, "text", "doc_id"),
            "doc_id", threshold = 0.25), "a_id", "b_id"),
        () => graft.ops.Dedup.connectedComponents(
          graft.ops.Dedup.minhashCandidates(
            graft.ops.Dedup.minhashSignature(docsN, "text", "doc_id"),
            "doc_id", threshold = 0.25), "a_id", "b_id")),
      // the dedup_ngram query's parameters, widened like dedup_winnow_pairs:
      // the dfCap clamp must keep candidate work linear in corpus size
      ("dedup_ngram",
        () => graft.ops.Dedup.ngramCandidates(
          docs1.repartition(spark.sparkContext.defaultParallelism),
          "text", "doc_id", k = 3, dfCap = 100, threshold = 0.5),
        () => graft.ops.Dedup.ngramCandidates(
          docsN.repartition(spark.sparkContext.defaultParallelism),
          "text", "doc_id", k = 3, dfCap = 100, threshold = 0.5)),
      ("ann_ivf",
        () => {
          val e = emb1
          graft.ops.Similarity.ivfTopK(e,
            a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
            "vec_id", "embedding",
            e.where(col("vec_id") < 8)
              .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
            "c_id", "c_emb", k = 3)
        },
        () => {
          val e = embN
          graft.ops.Similarity.ivfTopK(e,
            a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
            "vec_id", "embedding",
            e.where(col("vec_id") < 8)
              .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
            "c_id", "c_emb", k = 3)
        }),
      ("graph_pagerank",
        () => graft.ops.Graph.pageRank(edges(false), "src", "dst", iterations = 3),
        () => graft.ops.Graph.pageRank(edges(true), "src", "dst", iterations = 3)),
      ("text_bm25",
        () => graft.ops.Rank.bm25TopTerms(docs1, "text", "doc_id"),
        () => graft.ops.Rank.bm25TopTerms(docsN, "text", "doc_id")),
      ("q35_sessionize",
        () => sessionize(events1),
        () => sessionize(eventsN)),
      // the r16 crawl stack: per-row work dominates (encode is fixture
      // scaffolding, decode is the op), zero shuffles — the ratio IS the
      // per-row-linearity proof for the WARC/HTML/PDF chain
      ("crawl_warc_html",
        () => warcHtml(docs1),
        () => warcHtml(docsN)),
      ("text_pdf_extract",
        () => pdfExtract(docs1),
        () => pdfExtract(docsN)),
      // r17 additions (VERDICT r16 #10): the remaining headline ops
      ("suffix_array",
        () => graft.ops.SuffixArray.build(docs1, "text", "doc_id"),
        () => graft.ops.SuffixArray.build(docsN, "text", "doc_id")),
      // localBound = 0 pins the DISTRIBUTED wedge path at both sizes: the
      // shipped local endgame would otherwise fire at 1× and not at 10×,
      // making the ratio compare two different algorithms — the curve's
      // question is how the scale path grows
      ("graph_triangles",
        () => graft.ops.Graph.triangleCountImpl(coEdges(false), "src", "dst",
          neighborListWedges = None, localBound = 0L),
        () => graft.ops.Graph.triangleCountImpl(coEdges(true), "src", "dst",
          neighborListWedges = None, localBound = 0L)),
      // mirrors the r17 query call site: the one-split source is widened to
      // session parallelism before the heavy winnow pass (without it the
      // 10× clone explodes inside ONE scan task and the curve measures the
      // synthetic input skew, not the op)
      ("dedup_winnow_pairs",
        () => graft.ops.Dedup.winnowPairs(
          docs1.repartition(spark.sparkContext.defaultParallelism),
          "text", "doc_id", k = 8, w = 4, dfCap = 20, minShared = 10,
          minContainBp = 2500),
        () => graft.ops.Dedup.winnowPairs(
          docsN.repartition(spark.sparkContext.defaultParallelism),
          "text", "doc_id", k = 8, w = 4, dfCap = 20, minShared = 10,
          minContainBp = 2500)),
      // the VERDICT r16 #3 sf1 decision: widen + eager materialize must
      // stay near-linear when the parse input is 10×
      ("fast_docs", () => fastDocs(part1), () => fastDocs(partN)))

    var failed = List.empty[String]
    val rows = ops.filter(o => only.isEmpty || only(o._1)).map {
      case (name, f1, fN) =>
        // warm codegen/readers on the small side, then measure both
        run(f1())
        GraftSession.releaseAll(spark)
        val t0 = System.nanoTime(); run(f1())
        val t1x = (System.nanoTime() - t0) / 1e9
        GraftSession.releaseAll(spark)
        val t2 = System.nanoTime(); run(fN())
        val tNx = (System.nanoTime() - t2) / 1e9
        GraftSession.releaseAll(spark)
        val ratio = tNx / math.max(t1x, 0.001)
        val ok = ratio <= MaxRatio
        if (!ok) failed ::= name
        println(f"SCALE_CURVE op=$name%-16s t1x=$t1x%6.2f s  t${copies}x=$tNx%7.2f s  ratio=$ratio%5.2f  ${if (ok) "OK" else "FAIL"}")
        (name, t1x, tNx, ratio)
    }
    println(f"SCALE_CURVE_SUMMARY copies=$copies ops=${rows.size} " +
      f"maxRatio=${rows.map(_._4).max}%.2f bound=$MaxRatio failed=${failed.size}")
    spark.stop()
    if (failed.nonEmpty)
      sys.error(s"scale-curve violations (> ${MaxRatio}x): ${failed.mkString(", ")}")
  }
}

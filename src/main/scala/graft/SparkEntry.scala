package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ingest.FastIngest
import graft.ops.{Dedup, Similarity, Urls, Validate}
import graft.sources.WarcReader

/** Driver contract (see SURVEY.md §7 + the builder prompt): one `queries`
  * entry per implemented operator from SURVEY.md §2, each with a DuckDB
  * oracle in `oracleSql` producing identical column names / values.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Widen a narrow fixture scan to session parallelism when the source
    * yields fewer splits than cores (guide §2.5 input skew: one
    * unsplittable file → repartition right after the read; every sf0.1
    * fixture parquet is a single ≤11 MB file = ONE scan task, so a heavy
    * corpus pass downstream runs single-threaded however many cores the
    * session has). Gated on the scan's resolved file count — cheap, the
    * file index is already built (ADVICE r16: no RDD-conversion probe) —
    * so a many-split production source takes the else branch and pays no
    * shuffle. Apply ONLY where the heavy derived stream is persisted or
    * has a single heavy consumer (the r16 fast_docs lesson: widening
    * several uncached one-task subtrees of one plan serializes stages
    * that otherwise overlap); each call site below was kept or rejected
    * by interleaved same-host A/B (OPTIMIZATION_r17.md). The embeddings
    * family (embed_label_outliers, sample_coreset, embed_ivfpq,
    * ann_ivf_trained) measured 15-130% SLOWER widened — iterative
    * training/coreset rounds re-pay the repartition exchange every pass,
    * and the per-row vector work on the 5k-row fixture never amortizes
    * it; rejected as a class.
    */
  private def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  private def ntFromPart(part: DataFrame): DataFrame = DemoCorpus.ntFromPart(part)

  /** Clustered (non-uniform) integer-grid embedding fixture for the
    * trained-IVF oracle row: 16-dim vectors = center(vec_id % 16) +
    * per-vector noise, all integers, derived from vec_id alone so the
    * DuckDB oracle rebuilds it with the same arithmetic. Center spacing
    * (multiples of 10, range ±80) dominates member noise (±15), so the
    * 16 clusters are well separated — but the 16 SEED vectors (vec_id <
    * 16) carry 12× noise, modeling the real seed hazard: a seed is an
    * arbitrary sample and may be an outlier, so seed-centroid Voronoi
    * cells misassign boundary vectors while trained means sit at the
    * true centers. AnnRecallSpec measures the recall lift; near-uniform
    * fixtures could not show it.
    */
  private[graft] def clusteredEmbFixture(emb: DataFrame): DataFrame =
    emb.select(col("vec_id")).withColumn("embedding", expr(
      "transform(sequence(0, 15), d -> CAST(" +
        "(((vec_id % 16) * 37 + d * 11) % 17 - 8) * 10 + " +
        "((vec_id * 17 + d * 29) % 31 - 15) * " +
        "(CASE WHEN vec_id < 16 THEN 12 ELSE 1 END) AS FLOAT))"))

  /** The same fixture in DuckDB (list comprehension over d). */
  private def clusteredEmbFixtureSql: String =
    """SELECT vec_id, [CAST((((vec_id % 16) * 37 + d * 11) % 17 - 8) * 10
      | + ((vec_id * 17 + d * 29) % 31 - 15)
      |   * (CASE WHEN vec_id < 16 THEN 12 ELSE 1 END) AS FLOAT)
      | FOR d IN range(16)] AS embedding FROM embeddings""".stripMargin
      .replace("\n", " ")

  /** Pinned multilingual sentences for the unicode-segmentation oracle
    * row (text_tokens_unicode) — shapes chosen so JDK BreakIterator and
    * the oracle's RE2 script-run regex provably agree: no mixed-script
    * runs without separators, no combining sequences (precomposed
    * forms), joiners limited to ' - . , _ between alphanumerics.
    */
  private[graft] val multilingualFixture: Seq[String] = Seq(
    "Hello, world! It's 42 meters-long.",
    "naïve café résumé",
    "Ελληνικά κείμενο",
    "русский текст тут",
    "日本語のテキスト",
    "中文文本处理",
    "한국어 텍스트",
    "mixed 中文 and English 1,000")

  /** BMP fixture corpus for the mm_phash family, staged once per (sfDir,
    * source fingerprint) — VERDICT r13 #5: the synthetic ENCODE half is
    * fixture scaffolding, not the operator under test, so it runs at
    * staging time and the timed queries read payload bytes from parquet
    * (scan → decode → hash only, the shape a real image corpus has).
    */
  private def stagedBmpCorpus(s: SparkSession,
      dir: String): org.apache.spark.sql.Dataset[graft.model.MediaRecord] = {
    import s.implicits._
    import graft.model.MediaRecord
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_bmp_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      stagingFingerprint(dir, "documents.parquet")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_SUCCESS")))
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 16).toInt + 1
          val h = (id % 12).toInt + 1
          val base = (id % 5).toInt
          val payload = graft.ops.BmpPixels.bmpBytes(w, h, (x, y) => {
            val v = x * 7 + y * 11 + base
            (v, v + 3, v + 6)
          })
          MediaRecord(id, "image/bmp", payload, Map.empty)
        }
        .write.mode("overwrite").parquet(staged)
    s.read.parquet(staged).as[MediaRecord]
  }

  /** ONE generator for the DC-exact JPEG fixture — mm_decode_jpeg encodes
    * it inline, [[stagedJpegCorpus]] (mm_phash_jpeg) stages it; both
    * DuckDB oracles re-derive the same formulas, so the parameters live
    * in exactly one Scala place (review r15: two drifting copies).
    */
  private def jpegFixtureRecord(id: Long): graft.model.MediaRecord = {
    val w = (id % 21).toInt + 6
    val h = (id % 17).toInt + 6
    val base = ((id * 3) % 160).toInt
    val payload = graft.ops.JpegPixels.jpegBytes(w, h,
      grey = id % 2 == 0,
      (bx, by) => 40 + ((bx * 5 + by * 7 + base) % 160),
      cb = 128 + ((id % 3).toInt - 1) * 10,  // Cb−128 ∈ {−10,0,10}
      cr = 128 + ((id % 5).toInt - 2) * 5,   // Cr−128 ∈ {−10..10}
      restartInterval = if (id % 4 == 0) 2 else 0)
    graft.model.MediaRecord(id, "image/jpeg", payload, Map.empty)
  }

  /** The mm_decode_jpeg fixture staged as a parquet media corpus (the
    * stagedBmpCorpus discipline: encode is scaffolding, the timed path is
    * scan → decode → hash).
    */
  private def stagedJpegCorpus(s: SparkSession,
      dir: String): org.apache.spark.sql.Dataset[graft.model.MediaRecord] = {
    import s.implicits._
    import graft.model.MediaRecord
    // layout-tagged: the staged corpus is written one file per core so
    // the TIMED decode scan parallelizes like a real many-file media
    // corpus (a single-file staging made every decode query single-task)
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_jpeg_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      stagingFingerprint(dir, "documents.parquet") +
      s"_p${s.sparkContext.defaultParallelism}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_SUCCESS")))
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map(jpegFixtureRecord)
        .write.mode("overwrite").parquet(staged)
    s.read.parquet(staged).as[MediaRecord]
  }

  /** The 16-entry GIF fixture palette — formulas the DuckDB oracles
    * re-derive: entry i = (i·17, i·29 mod 256, i·41 mod 256).
    */
  private val gifPal16: IndexedSeq[(Int, Int, Int)] =
    IndexedSeq.tabulate(16)(i => (i * 17, (i * 29) % 256, (i * 41) % 256))

  /** ONE generator for the static GIF fixture (the jpegFixtureRecord
    * discipline): full-canvas frame, pixel (x,y) = palette index
    * (x·3 + y·7 + id) mod 16, every even id interlaced — same pixels,
    * different bitstream, so one oracle covers both scan orders.
    */
  private def gifFixtureRecord(id: Long): graft.model.MediaRecord = {
    val w = (id % 14).toInt + 2
    val h = (id % 11).toInt + 2
    val payload = graft.ops.GifPixels.gifBytes(w, h, gifPal16, 0,
      Seq(graft.ops.GifPixels.FrameSpec(0, 0, w, h,
        (x, y) => ((x * 3 + y * 7 + id) % 16).toInt,
        interlace = id % 2 == 0)),
      clearEvery = if (id % 3 == 0) 11 else 0)
    graft.model.MediaRecord(id, "image/gif", payload, Map.empty)
  }

  /** The mm_decode_gif fixture staged as a parquet media corpus (the
    * stagedBmpCorpus discipline: encode is scaffolding, the timed path
    * is scan → decode).
    */
  private def stagedGifCorpus(s: SparkSession,
      dir: String): org.apache.spark.sql.Dataset[graft.model.MediaRecord] = {
    import s.implicits._
    import graft.model.MediaRecord
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_gif_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      stagingFingerprint(dir, "documents.parquet")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_SUCCESS")))
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map(gifFixtureRecord)
        .write.mode("overwrite").parquet(staged)
    s.read.parquet(staged).as[MediaRecord]
  }

  /** ONE generator for the HTML fixture page (the jpegFixtureRecord
    * discipline — text_html_extract and pipeline_warc_html share it, and
    * both oracles re-derive the same block structure): title and h1 carry
    * "Doc id", the document text rides one escaped `<p>`, two links and a
    * footer paragraph follow, and the head carries markup-shaped script /
    * style / comment content that must stay dead.
    */
  private[graft] def htmlFixturePage(id: Long, text: String): String = {
    val body = graft.ops.Html.escapeText(Option(text).getOrElse(""))
    s"""<!DOCTYPE html><html><head><title>Doc $id</title>
       |<style>p { content: "</p> not text"; }</style>
       |<script type="text/js">var s = "<p>fake</p>"; if (a<b && c>d) {}</script>
       |</head><body><!-- <div>hidden</div> -->
       |<h1 class="t" data-x="a>b">Doc $id</h1>
       |<p>$body</p>
       |<p><a href="/doc/${id + 1}">next</a> <a href='https://ex.com/${id % 7}'>more</a></p>
       |<p>footer &amp; fin</p></body></html>""".stripMargin
  }

  /** DuckDB spelling of the text [[htmlFixturePage]] must extract to:
    * title block, h1 block, collapsed document text (dropped when
    * empty), the link-anchor block, the footer block. RE2 `\s` is
    * exactly the extractor's `[ \t\n\r\f]` collapse class.
    */
  private val duckHtmlText: String =
    "'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) || " +
      "(CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN '' " +
      "ELSE trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10) END) || " +
      "'next more' || chr(10) || 'footer & fin'"

  /** WARC fixture shards for source_warc / source_wet, staged once per
    * (sfDir, source fingerprint) — the stagedBmpCorpus discipline:
    * encode is scaffolding, the timed path is binaryFile scan →
    * member inflate → framing walk. 8 shards of the Common Crawl
    * member-per-record layout; every third response chunked, every
    * fifth document also gets a WET conversion record.
    */
  private def stagedWarcCorpus(s: SparkSession, dir: String): String = {
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_warc_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      stagingFingerprint(dir, "documents.parquet")
    val stagedPath = java.nio.file.Paths.get(staged)
    if (!java.nio.file.Files.exists(stagedPath)) {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val tmp = java.nio.file.Files.createTempDirectory(
        stagedPath.getParent, ".warc_staging")
      (0 until 8).foreach { shard =>
        val recs = Seq(WarcReader.WriteRec("warcinfo", "",
          "2026-01-01T00:00:00Z", 0, "",
          s"software: graft\r\nshard: $shard\r\n"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))) ++
          docs.filter(_._1 % 8 == shard).flatMap { case (id, text) =>
            val body = Option(text).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val uri = s"http://corpus.example/doc/$id"
            val resp = WarcReader.WriteRec("response", uri,
              "2026-01-01T00:00:00Z", 200, "text/html; charset=utf-8",
              body, chunked = id % 3 == 0)
            val wet =
              if (id % 5 == 0)
                Seq(WarcReader.WriteRec("conversion", uri,
                  "2026-01-01T00:00:00Z", 0, "", body))
              else Seq.empty
            resp +: wet
          }
        java.nio.file.Files.write(
          tmp.resolve(f"crawl-shard-$shard%02d.warc.gz"),
          WarcReader.writeShardGz(recs))
      }
      try java.nio.file.Files.move(tmp, stagedPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // a concurrent run staged it first — theirs is identical
        case _: java.nio.file.FileAlreadyExistsException =>
          tmp.toFile.listFiles().foreach(_.delete())
          java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    staged
  }

  /** Fingerprint of a source table's files (name, size, mtime — no Spark
    * job) for fixture-staging keys: a regenerated table, or two checkouts
    * sharing one tmpdir, can never silently replay stale staging (the
    * streaming_replay_q14 discipline, shared by source_zip / mm_phash).
    */
  private def stagingFingerprint(dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(dir, table)
    val walk = java.nio.file.Files.walk(src)
    val sig = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
        .toSeq.sorted.mkString("|")
    } finally walk.close()
    (scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff).toString
  }

  /** DuckDB spelling of [[graft.functions.Normalize.normalize]]. */
  private def normSql(x: String): String =
    s"trim(regexp_replace(regexp_replace(lower(strip_accents($x)), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB spelling of [[graft.functions.Normalize.singularize]] (same rule
    * chain, regex-for-regex; irregular final-token branches generated from
    * the SAME map so the engines cannot drift). `$n` must be a pure
    * expression (re-evaluated).
    */
  private def singSql(n: String): String = {
    val irregulars = graft.functions.Normalize.Irregulars.toSeq.sorted
      .map { case (plural, singular) =>
        s"WHEN regexp_matches($n, '(^| )$plural$$') THEN regexp_replace($n, '$plural$$', '$singular')"
      }.mkString(" ")
    s"""(CASE $irregulars
       | WHEN regexp_matches($n, '[a-z]ies$$') THEN regexp_replace($n, 'ies$$', 'y')
       | WHEN regexp_matches($n, '(sses|ches|shes|xes|zes)$$') THEN regexp_replace($n, 'es$$', '')
       | WHEN regexp_matches($n, '(ss|[aiou]s)$$') THEN $n
       | WHEN regexp_matches($n, '[a-z0-9]s$$') THEN regexp_replace($n, 's$$', '')
       | ELSE $n END)""".stripMargin.replace("\n", " ")
  }

  private def nsSql(x: String): String = singSql(normSql(x))

  private val stopEn = Seq("the", "a", "and", "of", "to")
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** NDCG@10 integer position weights — w(i) = round(10^6 / log2(i+1)) —
    * and their prefix sums (the ideal-DCG lookup by relevant-result
    * count). Pinned as literals and rendered into BOTH engines' SQL from
    * this one table, so the log never enters either query
    * (retrieval_ndcg).
    */
  private val NdcgWeights = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  private val NdcgCums = NdcgWeights.scanLeft(0L)(_ + _).tail
  private def NdcgW = NdcgWeights.mkString("array(", "L, ", "L)")
  private def NdcgCw = NdcgCums.mkString("array(", "L, ", "L)")
  private def duckNdcgW = NdcgWeights.mkString("[", ", ", "]")
  private def duckNdcgCw = NdcgCums.mkString("[", ", ", "]")

  /** Kneser-Ney cross-multiplied ppm over the bigram-type columns
    * (c, cv, n1pv, ncw, t) — ONE formula string for both engines so the
    * two Spark rows and their two oracles can never drift (`idiv` is
    * Spark's `div` / DuckDB's `//`). Magnitude bound: BIGINT-safe while
    * T·max(c) < ~2·10¹²; past that the multiply moves to DECIMAL(38,0)
    * (same plan shape) — change it HERE, in one place.
    */
  private def knPpm(idiv: String): String =
    s"(1000000 * (t * greatest(4 * c - 3, 0) + 3 * n1pv * ncw)) $idiv (4 * cv * t)"

  /** Shared DuckDB CTE chain rebuilding the perceptual hash arithmetically
    * from the BMP generator formula — spliced into mm_phash AND
    * mm_phash_pairs so a derivation fix cannot be applied one-sided.
    * Expects `documents`; yields `p` (media params) and `hashes`
    * (media_id, phash_hex).
    */
  private val duckPhashCte: String =
    """p AS (SELECT doc_id::BIGINT AS media_id,
      |        (doc_id % 16 + 1)::BIGINT AS w,
      |        (doc_id % 12 + 1)::BIGINT AS h,
      |        (doc_id % 5)::BIGINT AS base
      |        FROM documents),
      | xs AS (SELECT media_id, w, h, base, unnest(range(0, w)) AS x FROM p),
      | xy AS (SELECT media_id, w, h, base, x, unnest(range(0, h)) AS y FROM xs),
      | px AS (SELECT media_id, w, h,
      |        3 * (x * 7 + y * 11 + base) + 9 AS lum,
      |        (x * 8) // w AS bx, (y * 8) // h AS by FROM xy),
      | blocks AS (SELECT media_id, w, h, by, bx,
      |        sum(lum)::BIGINT AS bs, count(*)::BIGINT AS bc
      |   FROM px GROUP BY media_id, w, h, by, bx),
      | tot AS (SELECT media_id, sum(lum)::BIGINT AS ts FROM px GROUP BY media_id),
      | rb AS (SELECT b.media_id, b.by,
      |     sum(CASE WHEN b.bs * (b.w * b.h) > t.ts * b.bc
      |              THEN 1 << b.bx ELSE 0 END)::BIGINT AS rbyte
      |   FROM blocks b JOIN tot t ON t.media_id = b.media_id
      |   GROUP BY b.media_id, b.by),
      | grid AS (SELECT media_id, unnest(range(0, 8)) AS by FROM p),
      | fullrows AS (SELECT g.media_id, g.by, coalesce(rb.rbyte, 0) AS rbyte
      |   FROM grid g LEFT JOIN rb ON rb.media_id = g.media_id AND rb.by = g.by),
      | hashes AS (SELECT media_id,
      |     string_agg(printf('%02x', rbyte), '' ORDER BY by) AS phash_hex
      |   FROM fullrows GROUP BY media_id)""".stripMargin.replace("\n", " ")

  private def duckCosine(a: String, b: String): String =
    s"""(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       | / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |    * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))""".stripMargin.replace("\n", " ")

  /** Deterministic raw-URL builder over `documents` — ONE snippet valid in
    * both Spark SQL and DuckDB (concat/CASE/% only), so both engines build
    * byte-identical inputs and the oracle tests the NORMALIZER, not the
    * generator. Exercises: mixed-case scheme/host, www/m. subdomains,
    * default and non-default ports, trailing slashes, utm_* params (alone,
    * first, last), fragments, and cross-doc canonical collisions.
    */
  private val rawUrlSql: String =
    """concat(
      | CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'http://' ELSE 'HTTPS://' END,
      | CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.' WHEN 2 THEN 'WWW.' ELSE 'm.' END,
      | source, '.example',
      | CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.ORG' END,
      | CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END,
      | '/p', CAST(doc_id % 50 AS STRING),
      | CASE doc_id % 6 WHEN 0 THEN '/' ELSE '' END,
      | CASE doc_id % 7
      |   WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 11 AS STRING))
      |   WHEN 1 THEN concat('?id=', CAST(doc_id % 11 AS STRING), '&utm_campaign=x')
      |   WHEN 2 THEN concat('?id=', CAST(doc_id % 11 AS STRING))
      |   WHEN 3 THEN '?utm_medium=email'
      |   ELSE '' END,
      | CASE doc_id % 8 WHEN 0 THEN '#frag' ELSE '' END)""".stripMargin.replace("\n", " ")

  /** PQ decomposition helpers (embed_pq_codes / embed_pq_adc): 8 subspaces
    * × 8 dims over the 64-d embeddings; codewords = subvectors of the
    * first 16 corpus vectors (k-means codebooks at deploy).
    */
  private def pqSubs(df: DataFrame, idAs: String, vecAs: String): DataFrame = df
    .select(col("vec_id").as(idAs), explode(expr("sequence(0, 7)")).as("m"),
      col("embedding"))
    .select(col(idAs), col("m"), expr("slice(embedding, m * 8 + 1, 8)").as(vecAs))

  /** Squared L2 between two 8-dim float slices, as an in-order fold. */
  private def pqD2(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b,
            | (x, y) -> pow(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2D)),
            | CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""
      .stripMargin.replace("\n", " "))

  /** Nearest codeword per (vector, subspace): (vec_id, m, code, d2). */
  private def pqAssign(emb: DataFrame): DataFrame = {
    val cb = pqSubs(emb.where(col("vec_id") < 16), "code", "cb_sub")
    pqSubs(emb, "vec_id", "sub")
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"), pqD2("sub", "cb_sub").as("d2"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("code"))).as("_best"))
      .select(col("vec_id"), col("m"), col("_best.code").as("code"),
        col("_best.d2").as("d2"))
  }

  // ---------------------------------------------------------------- entry

  /** Flagship: the reference's whole term-ingest dataflow (parse → project →
    * group → enrich) over an NT corpus generated from `part` at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val (lines, docType) = (
      ntFromPart(t(spark, "/root/testdata/sf0.001", "part")), lit("Topical"))
    FastIngest.termDocs(FastIngest.project(FastIngest.parse(
      lines.select(col("line"), docType.as("doc_type")))))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- core relational surface (SURVEY.md §5.3) ----

    "q1_filter_project" -> ((s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderstatus") === "F" && col("o_totalprice") > 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")),

    "q2_string_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        length(col("p_name")).as("name_len"),
        element_at(split(col("p_type"), " "), -1).as("type_last"))
        .orderBy("p_partkey")),

    "q3_cast_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(IntegerType).as("qty_int"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Verification projections serialize ARRAY/STRUCT results with to_json
    // (mirrored in the oracle): the driver's checker canonicalizes rows in
    // pandas, which cannot sort ndarray/dict cells. The *operators* still
    // build real arrays/structs; only the final projection is a string.
    "q4_groupby_collect" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          sort_array(collect_set(col("l_returnflag"))).as("flags"))
        .select(col("l_orderkey"), col("cnt"), col("sum_qty"),
          to_json(col("flags")).as("flags"))
        .orderBy("l_orderkey")),

    "q5_first_nonnull" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          min(col("o_orderdate").cast("date")).as("first_date"),
          max(col("o_orderpriority")).as("max_priority"),
          coalesce(
            max(when(col("o_orderstatus") === "F", col("o_orderstatus"))),
            min(col("o_orderstatus"))).as("pick_status"))
        .orderBy("o_custkey")),

    "q6_join_chain" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
        .orderBy("c_custkey")),

    // Disjunctive equi-join as a union of two hash joins (SURVEY.md §2.4 J2):
    // both branches stay shuffle-hash/broadcast joinable at scale — no
    // BroadcastNestedLoop from the OR predicate.
    "q7_disjunctive_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val j1 = c.join(sup, col("c_nationkey") === col("s_nationkey"))
      val j2 = c.join(sup, col("c_custkey") === col("s_suppkey"))
      // per-branch dedup before the union: the nationkey branch is
      // many-to-many (25 hot keys), so dropping its duplicates early
      // halves the final distinct's input
      j1.select("c_custkey", "s_suppkey").dropDuplicates()
        .union(j2.select("c_custkey", "s_suppkey").dropDuplicates())
        .distinct()
        .orderBy("c_custkey", "s_suppkey")
    }),

    "q8_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")),

    "q8_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")),

    // K3/A4 merge-dedup: union two conflicting projections, keep the
    // "richest" (longest, then lexicographically greatest) name per key and
    // set-union the brands — the deterministic form of the reference's
    // error-driven merge (lib/ingest.js:134-165).
    "q9_merge_dedup" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val proj1 = part.select(col("p_partkey"), col("p_name"), lit("Brand#A").as("p_brand"))
      val proj2 = part.select(col("p_partkey"),
        when(col("p_partkey") % 2 === 0, concat(col("p_name"), lit(" extended")))
          .otherwise(substring(col("p_name"), 1, 4)).as("p_name"),
        col("p_brand"))
      proj1.union(proj2)
        .groupBy("p_partkey")
        .agg(
          max_by(col("p_name"), struct(length(col("p_name")), col("p_name"))).as("name_kept"),
          sort_array(collect_set(col("p_brand"))).as("brands"))
        .select(col("p_partkey"), col("name_kept"), to_json(col("brands")).as("brands"))
        .orderBy("p_partkey")
    }),

    "q10_explode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .where(length(col("token")) >= 2)
        .orderBy("doc_id", "token")
        .limit(1000)),

    "q11_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "q12_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("cnt"))
        .orderBy("status", "priority")),

    "q13_window" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          row_number().over(
            Window.partitionBy("l_orderkey")
              .orderBy(col("l_extendedprice").desc, col("l_linenumber"))).as("rn"))
        .orderBy("l_orderkey", "l_linenumber", "rn")),

    // events.ts is INT64 nanos (read as BIGINT via nanosAsLong); 1-hour
    // tumbling window in pure integer arithmetic — the batch twin of the
    // Structured Streaming window (graft.streaming).
    "q14_event_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          (col("ts") - (col("ts") % 3600000000000L)).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
        .orderBy("window_start", "event_type")),

    // q14 REPLAYED through Structured Streaming (the streaming oracle row
    // VERDICT r9/r10 asked for): the events table is staged into 8 files,
    // read back through the file SOURCE one file per trigger — 8 real
    // micro-batches whose windowed-aggregation state merges incrementally
    // (EventStream.windowedCounts, the deploy path's exact plan) — and the
    // final complete-mode result is checked against the SAME DuckDB oracle
    // as the batch twin. Complete mode because the oracle sees all data:
    // watermark eviction/append timing is pinned separately by
    // StreamingSpec; THIS row pins replay ⇒ batch-answer parity.
    // Hour buckets via micros are exact vs the oracle's nano arithmetic:
    // 3.6e12 % 1000 = 0, so floor(ts div 1000 / 3.6e9) = floor(ts / 3.6e12).
    "streaming_replay_q14" -> ((s, dir) => {
      // staging key carries a fingerprint of the SOURCE files (name, size,
      // mtime — no Spark job): a regenerated events table, or two
      // checkouts sharing one tmpdir, can never silently replay stale
      // staging (the failure mode was a confusing oracle hash mismatch)
      val srcFp = {
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val walk = java.nio.file.Files.walk(src)
        val sig = try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted.mkString("|")
        } finally walk.close()
        (scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff).toString
      }
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_q14_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + srcFp
      val events = t(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      // staging is deterministic per (sfDir, source fingerprint) — skip
      // the rewrite on re-runs (bench passes re-invoke the query; only
      // the replay should be timed)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_SUCCESS")))
        events.repartition(8).write.mode("overwrite").parquet(staged)
      val src = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      // 8 state partitions for the replay: state-store task count is fixed
      // by shuffle.partitions at checkpoint creation, and 32 tiny state
      // snapshots per micro-batch are pure per-task overhead at this
      // volume (conf restored after the run — queries run sequentially)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.EventStream.windowedCounts(src)
          .writeStream.format("memory").queryName("streaming_replay_q14_sink")
          .outputMode("complete")
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("streaming_replay_q14_sink")
        .select((unix_micros(col("window_start")) * 1000L).as("window_start"),
          col("event_type"), col("cnt"), round(col("sum_val"), 2).as("sum_val"))
        .orderBy("window_start", "event_type")
    }),

    // REAL streaming replay of the CUSTOM-STATE sessionizer
    // (EventStream.sessionizedCustom, flatMapGroupsWithState + event-time
    // timeout): the events table drains through file-source micro-batches
    // in a CONTROLLED order (chunk files staged with increasing mtimes),
    // then a per-user far-future flush file advances the watermark past
    // every real session's end+gap, so the timeout path closes and emits
    // them all. The emitted table must hash-match the batch q35
    // sessionize rollup — per-user session ORDINALS included, the
    // property that proves the state machine is batch-split-invariant.
    // Flush events' own singleton sessions stay open forever and are
    // never emitted. Lateness is set past the fixture's time span so no
    // real row is ever late under any file order.
    "streaming_replay_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val srcFp = {
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val walk = java.nio.file.Files.walk(src)
        val sig = try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted.mkString("|")
        } finally walk.close()
        (scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff).toString
      }
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_sess_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + srcFp
      val lateNanos = 3650L * 86400L * 1000000000L // 10y > fixture span
      val gapNanos = 30L * 60 * 1000000000L
      val events = t(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val donePath = java.nio.file.Paths.get(staged, "_DONE")
      if (!java.nio.file.Files.exists(donePath)) {
        val root = java.nio.file.Paths.get(staged)
        java.nio.file.Files.createDirectories(root)
        // one parquet FILE per chunk, moved into the staged root in
        // sequence — the file source processes oldest-mtime first, so
        // the flush file (written last) is guaranteed the final batch
        def stageOne(df: DataFrame, name: String): Unit = {
          val tmp = s"$staged/_stage_$name"
          df.repartition(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            root.resolve(s"$name.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
        (0 until 4).foreach(i => stageOne(
          events.where(pmod(col("event_id"), lit(4)) === i), s"c$i"))
        val maxTs = events.agg(max("ts")).head.getLong(0)
        val flushTs = maxTs + lateNanos + gapNanos + 86400L * 1000000000L
        stageOne(events.select("user_id").distinct()
          .select(lit(-1L).as("event_id"), lit(flushTs).as("ts"),
            col("user_id"), lit("_flush").as("event_type"),
            lit(0.0).as("value")), "zflush")
        java.nio.file.Files.createFile(donePath)
      }
      val src = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        import s.implicits._
        val q = graft.streaming.EventStream.sessionizedCustom(
            src.as[graft.streaming.EventStream.Event],
            lateness = "3650 days")
          .writeStream.format("memory")
          .queryName("streaming_replay_sessionize_sink")
          .outputMode(OutputMode.Append())
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("streaming_replay_sessionize_sink")
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("dur_us"), col("sum_val"))
        .orderBy("user_id", "session_seq")
    }),

    // Hopping (sliding) window: 2h windows every 1h — each event lands in
    // exactly two windows via a 2-element generator, then one grouped agg
    // (the batch twin of a Structured Streaming sliding window; no
    // self-join, no window table build).
    "q49_hopping_window" -> ((s, dir) => {
      val hop = 3600000000000L
      val s0 = col("ts") - (col("ts") % hop)
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          explode(array(s0, s0 - hop)).as("window_start"))
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
        .orderBy("window_start", "event_type")
    }),

    "q15_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Functions.normalizeSingular(col("text")).as("norm_text"))
        .orderBy("doc_id")),

    "q16_json" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"))
        .orderBy("event_id")),

    "q17_datetime" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy("o_orderkey")),

    "q18_intersect" -> ((s, dir) =>
      t(s, dir, "customer").where(col("c_nationkey") < 12).select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")),

    "q19_except" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"))
        .except(t(s, dir, "lineitem").select(col("l_partkey").as("p_partkey")))
        .orderBy("p_partkey")),

    // SQL:2023 LISTAGG (new in Spark 4) with WITHIN GROUP ordering and
    // DISTINCT — the ordered string-aggregation surface, vs DuckDB's
    // string_agg. Distinct statuses keep the strings bounded.
    "q54_listagg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("orders_la")
      s.sql("""SELECT o_orderpriority,
              | listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
              | count(*) AS n
              |FROM orders_la GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }),

    // Value-window family: first/last/nth over explicit frames (the
    // UNBOUNDED FOLLOWING last_value trap included — the default frame
    // would return the current row; both engines get the full frame).
    "q53_value_windows" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          first("o_orderkey").over(full).as("top_key"),
          last("o_orderkey").over(full).as("bottom_key"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_key"))
        .orderBy("o_orderkey")
    }),

    // The custom two-phase physical operator (plans/TopKPerGroup —
    // logical node + strategy + SparkPlan via SparkSessionExtensions):
    // map-side bounded heaps prune to ≤ k rows/group/partition BEFORE the
    // exchange, where the window form shuffles and sorts everything.
    // Oracle = the window formulation in DuckDB; TopKPerGroupSpec pins
    // plan shape and equivalence.
    "q52_topk_exec" -> ((s, dir) =>
      graft.ops.TopK.topKPerGroupExec(t(s, dir, "orders"),
          Seq("o_orderstatus"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderstatus", "o_orderkey")),

    // Bag-semantics set ops (the ALL variants q18/q19 don't cover):
    // multiplicities survive — INTERSECT ALL keeps min(count), EXCEPT ALL
    // subtracts counts. Both engines implement the SQL-standard bag rules.
    "q51_set_ops_all" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
      val b = t(s, dir, "orders")
        .select((col("o_custkey") % 100).as("k"))
      val ia = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_inter"))
      val ea = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except"))
      ia.join(ea, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
        .orderBy("k")
    }),

    // Pareto concentration: revenue share of the top-k% customers (the
    // 80/20 report). Customer ranks from the range-partitioned
    // globalRowNumber; decile shares as integer basis points.
    "orders_pareto" -> ((s, dir) => {
      // integer CENTS end to end: decimal sums are exact but the two
      // engines promote precision differently at the *10000 step — cents
      // as BIGINT make every later op integer arithmetic
      // materialized once: the per-customer spend feeds three passes
      // (range-partition sampling, the rank shuffle, the totals agg) and
      // DataFrames share no common subplans — unmaterialized, the orders
      // aggregation ran three times
      val spend = graft.ops.Iterate.materialize(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,6))) * 100) AS BIGINT)")
            .as("cents"))).df
      val ranked = graft.ops.Rank.globalRowNumber(spend,
        Seq(col("cents").desc, col("o_custkey")))
      val totals = spend.agg(count(lit(1)).as("_n"), sum("cents").as("_tot"))
      ranked.crossJoin(broadcast(totals))
        .select(expr("CAST(((rn - 1) * 10) div _n AS INT) + 1").as("decile"),
          col("cents"), col("_tot"))
        .groupBy("decile")
        .agg(expr("CAST(sum(cents) * 10000 div max(_tot) AS BIGINT)").as("share_bp"),
          count(lit(1)).as("n_cust"))
        .orderBy("decile")
    }),

    "q20_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("yr"), lit(-1)).as("yr"), col("cnt"))
        .orderBy("status", "yr")),

    "q21_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(lag("o_totalprice", 1).over(w), 2).as("prev_price"),
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
            .as("run_sum"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Range join: same-user event pairs within a 1-hour forward window.
    // The user_id equality keeps this a hash/sort-merge join with a range
    // filter — never a nested-loop cross product.
    "q22_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
      val b = e.select(col("user_id"), col("event_id").as("b_id"), col("ts").as("b_ts"))
      a.join(b, col("a_id") =!= col("b_id") &&
          a("user_id") === b("user_id") &&
          col("b_ts") >= col("a_ts") && col("b_ts") <= col("a_ts") + 3600000000000L)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_follow"))
        .orderBy("a_id")
    }),

    "q30_struct" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            round(col("o_totalprice"), 2).as("price")).as("info"))
        .select(col("o_orderkey"), to_json(col("info")).as("info"))
        .orderBy("o_orderkey")),

    "profile_orders" -> ((s, dir) =>
      graft.ops.Profile.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_totalprice"))
        .orderBy("column")),

    // Fixed-width histogram: the 100 TB histogram moves only n_bins rows
    // per partition through the exchange (map-side combine).
    "profile_histogram" -> ((s, dir) =>
      graft.ops.Profile.histogram(t(s, dir, "orders"), "o_totalprice", 1000.0)
        .orderBy("bin")),

    // ---- approximate sketches (Sketch): the oracle pins the exact value
    // and expects the within-tolerance flag to be 1, so an estimator
    // drifting out of its error bound hash-mismatches.

    // HLL++ distinct estimate (rsd 2%) vs exact, tolerance 3 sigma.
    "sketch_distinct" -> ((s, dir) =>
      graft.ops.Sketch.approxDistinct(
          t(s, dir, "lineitem"), "l_orderkey", rsd = 0.02, tol = 0.06, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"), col("approx_ok"))
        .orderBy("l_returnflag")),

    // Mergeable DataSketches HLL: sketch at (flag, status) grain, roll up
    // to flag by unioning sketches — no rescan — and check the rolled-up
    // estimate against the exact flag-level distinct.
    "sketch_hll_merge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val profile = graft.ops.Sketch.hllProfile(
        li, "l_orderkey", lgK = 12, "l_returnflag", "l_linestatus")
      val rolled = graft.ops.Sketch.rollupDistinct(profile, "l_returnflag")
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_orderkey")).as("exact_distinct"))
      exact.join(rolled, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"),
          graft.ops.Sketch.withinTol(col("approx_distinct"), col("exact_distinct"), 0.05)
            .as("merge_ok"))
        .orderBy("l_returnflag")
    }),

    // Sequence packing into 512-token context windows, sharded by lang.
    "pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tok"))
      graft.ops.Pack.sequential(docs, "n_tok", "doc_id", "lang", ctxLen = 512)
        .orderBy("lang", "doc_id")
    }),

    // Benchmark decontamination: docs with doc_id % 7 == 0 play the eval
    // set; every other doc is scored by shared-shingle fraction.
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.overlap(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    // SEMANTIC decontamination — the embedding-level sibling of the
    // n-gram `decontaminate`: a paraphrased benchmark item shares no
    // 3-gram but sits next to the eval set in embedding space. Every
    // corpus vector is scored against the broadcast benchmark set
    // (vec_id % 9 == 0 plays "eval"); one corpus scan, top contaminating
    // benchmark per doc by exact cosine, flagged at ≥ 0.45 (thresholds
    // sit inside the fixture's cosine range — a real deploy pins ~0.85
    // for paraphrase-level leakage). At 100 TB
    // this is the hardNegatives broadcast topology — the benchmark side
    // is small by construction, the corpus never self-joins.
    "decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.where(col("vec_id") % 9 === 0)
        .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      val corpus = emb.where(col("vec_id") % 9 =!= 0)
        .withColumn("_nrm", sqrt(expr("vec_dot(embedding, embedding)")))
      val scored = corpus.crossJoin(broadcast(
          bench.withColumn("_bnrm", sqrt(expr("vec_dot(b_emb, b_emb)")))))
        .select(col("vec_id"), col("b_id"),
          (expr("vec_dot(embedding, b_emb)") / (col("_nrm") * col("_bnrm")))
            .as("cos"))
      scored.groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("b_id")).as("nb"))).as("m"))
        .select(col("vec_id"), (-col("m.nb")).as("bench_id"),
          round(col("m.cos"), 4).as("cos_r4"),
          (col("m.cos") >= 0.45).cast("int").as("contaminated"))
        .where(col("m.cos") >= 0.40)
        .orderBy("vec_id")
    }),

    // Which BENCHMARK leaked into which document? The attribution
    // sibling of `decontaminate`: the eval side keeps its benchmark id
    // (doc_id % 3 splits the % 7 == 0 docs into three pseudo-benchmark
    // sets), so each (doc, benchmark) pair reports its own
    // shared-shingle count — the evidence an exclusion decision cites.
    // Same broadcast-bench / probe-in-place topology as Decontaminate:
    // no corpus shingle shuffle; output fans out only to benchmarks
    // actually hit (≥3 shared shingles).
    "decontaminate_attrib" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = Dedup.shingleRows(
          docs.where(col("doc_id") % 7 =!= 0), "text", "doc_id")
        .select(col("doc_id"), col("n_sh"), Dedup.md5Int60(col("sh")).as("h"))
      val bench = Dedup.shingleRows(
          docs.where(col("doc_id") % 7 === 0), "text", "doc_id")
        .select((col("doc_id") % 3).as("bench_id"), Dedup.md5Int60(col("sh")).as("h"))
        .distinct()
      corpus.join(broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(max("n_sh").cast("long").as("n_sh"), count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .select(col("doc_id"), col("bench_id"), col("n_sh"), col("n_shared"),
          expr("n_shared * 10000 div n_sh").as("overlap_bp"))
        .orderBy("doc_id", "bench_id")
    }),

    // BM25 term ranking (rational idf — see Rank scaladoc): top-3 terms
    // per document; the oracle recomputes the identical IEEE expression
    // tree, so the 4dp-rounded scores hash-match bit-for-bit.
    "text_bm25" -> ((s, dir) =>
      graft.ops.Rank.bm25TopTerms(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id", "term")),

    // GK rank-sketch quantiles (accuracy 1000) vs the exact rank-based
    // percentiles of q24; 2% value tolerance.
    "sketch_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // Exact side via Rank.groupRankPercentiles — the same
      // window-free value-count plan as q24_percentile (no per-flag
      // single-task sort anywhere in this query).
      val exact = graft.ops.Rank.groupRankPercentiles(
        li.select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice",
        Seq("median_price" -> 0.5, "p90_price" -> 0.9))
      val approx = graft.ops.Sketch.approxQuantiles(
          li, "l_extendedprice", Seq(0.5, 0.9), accuracy = 1000, "l_returnflag")
        .select(col("l_returnflag"),
          col("approx_q")(0).as("ap50"), col("approx_q")(1).as("ap90"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("median_price"), col("p90_price"),
          (graft.ops.Sketch.withinTol(col("ap50"), col("median_price"), 0.02) *
            graft.ops.Sketch.withinTol(col("ap90"), col("p90_price"), 0.02)).as("approx_ok"))
        .orderBy("l_returnflag")
    }),

    "q28_levenshtein" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_name"), lower(col("p_type"))).as("name_type_dist"))
        .orderBy("p_partkey")),

    // Two-pass EXACT heavy hitters (TopK scaladoc): per-partition
    // Misra-Gries candidates (narrow) → broadcast semi-join → one exact
    // aggregation over candidate rows; threshold in integer arithmetic.
    "sketch_frequent_items" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      graft.ops.TopK.frequentItems(toks, "term", k = 50)
        .withColumnRenamed("item", "term")
    }),

    // Global ranking at scale: range partition → LOCAL windows → offset
    // join over a parts-row count table — never the single-partition
    // global window (the demo plan that dies at 100 TB).
    "q41_global_rank" -> ((s, dir) =>
      graft.ops.Rank.globalRowNumber(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice"), col("o_orderkey")))
        .select("o_orderkey", "rn")
        .orderBy("o_orderkey")),

    // Equi-depth histogram riding on the scalable global rank: bucket =
    // (rn−1)·k div n — pure integer arithmetic on exact ranks, no
    // interpolated percentiles (which diverge across engines, NOTES.md
    // fact 2).
    "profile_equidepth" -> ((s, dir) => {
      val ranked = graft.ops.Rank.globalRowNumber(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice"), col("o_orderkey")))
      val n = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .withColumn("bucket", expr("(rn - 1) * 10 div n + 1"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("bucket")
    }),

    // ---- snapshot lifecycle: diff / SCD2 history / CDC compaction ----

    // What changed between two snapshots: full-outer key join, null-safe
    // attribute compare, per-key verdict.
    "table_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val aSnap = o.where(col("o_orderkey") % 10 < 9)
      val bSnap = o.where(col("o_orderkey") % 10 > 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, round(col("o_totalprice") + 50, 2))
            .otherwise(col("o_totalprice")))
      graft.ops.Snapshot.diff(aSnap, bSnap, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // Type-2 slowly-changing dimension: changed open rows close at the
    // batch timestamp and re-open with the new attributes; no-op updates
    // leave the row alone; closed history never shuffles.
    "scd2_history" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val current = c.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("bigint"))
      val updates = c.where(col("c_custkey") % 3 === 0 || col("c_custkey") % 5 === 1)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"), lit(1000L).as("ts"))
      graft.ops.Snapshot.scd2Apply(current, updates, Seq("c_custkey"),
          Seq("c_acctbal", "c_mktsegment"), "ts")
        .orderBy("c_custkey", "valid_from")
    }),

    // Point-in-time (as-of) lookup over the SCD2 history: for each key
    // and probe time, the attribute version whose validity interval
    // contains the probe — the temporal-correctness read path every SCD2
    // table exists for (training-snapshot reproduction: "features as the
    // model saw them"). Equi-join on the key, interval containment as a
    // post-filter — never an inequality-only join. Probes at t=500
    // (pre-batch) and t=1500 (post-batch) hit both version branches.
    "scd2_asof_lookup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val current = c.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("bigint"))
      val updates = c.where(col("c_custkey") % 3 === 0 || col("c_custkey") % 5 === 1)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"), lit(1000L).as("ts"))
      val hist = graft.ops.Snapshot.scd2Apply(current, updates, Seq("c_custkey"),
        Seq("c_acctbal", "c_mktsegment"), "ts")
      val probes = c.select(col("c_custkey"))
        .withColumn("t", explode(array(lit(500L), lit(1500L))))
      probes.join(hist, Seq("c_custkey"))
        .where(col("valid_from") <= col("t") &&
          (col("valid_to").isNull || col("t") < col("valid_to")))
        .select(col("c_custkey"), col("t"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey", "t")
    }),

    // CDC log compaction: last write per user under (ts, event_id) —
    // µs-resolution ordering on BOTH engines (NOTES.md fact 13).
    "cdc_latest" -> ((s, dir) =>
      graft.ops.Snapshot.latest(
          t(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("event_type"),
              expr("ts div 1000").as("ts_us")),
          Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
        .select("user_id", "event_id", "event_type", "ts_us")
        .orderBy("user_id")),

    // Salted equi-join on a 3-value (maximally hot) key: result equals
    // the plain join; the salt spreads each flag over 16 reducers.
    "skew_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val dim = li.select(col("l_returnflag")).distinct()
        .withColumn("flag_label", concat(lit("flag_"), col("l_returnflag")))
      graft.ops.Skew.saltedJoin(li, dim, "l_returnflag",
          col("l_orderkey") * 10 + col("l_linenumber"), numSalts = 16)
        .groupBy("flag_label")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("flag_label")
    }),

    // Exact triangle census over the parts-co-ordered-together graph,
    // via degree-ordered orientation (out-degree O(√m) however skewed
    // the raw degrees — the scalable wedge join).
    "graph_triangles" -> ((s, dir) => {
      // first 4 line numbers per order: bounds pairs/order at C(4,2)=6,
      // so the graph (and the oracle's 3-way join) stays wedge-sparse
      val li = t(s, dir, "lineitem")
        .where(col("l_linenumber") <= 4)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      // group-shaped pair build (the r16 labelprop adjacency pattern): one
      // (k) aggregation + a row-local positional pair explode replaces the
      // exchange + sort-merge SELF-JOIN over the co-order rows — same pair
      // SET (collect_set dedups in-order repeats; the consumer normalizes
      // and dedups edges), strictly fewer sorts/exchanges
      val e = li.groupBy("k").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("w"))
        .select(col("w.src"), col("w.dst"))
      graft.ops.Graph.triangleCount(e, "src", "dst")
    }),

    // Strongly connected components of the DIRECTED nation-trade graph
    // (customer nation → supplier nation), sparsified to the lanes whose
    // trade count is ≡ 0 (mod 11) — a deterministic pseudo-random
    // subgraph with a real multi-node SCC at every fixture scale
    // (sf0.1: one 20-node component among singletons; sf0.001: a 3-node
    // component) that settles in ≤ 3 FW-BW rounds / ~8 propagation
    // steps (the mod was chosen by simulating the settle depth — a
    // sparser graph has MORE rounds, a denser one is a single boring
    // SCC).
    // ops/Graph.stronglyConnectedComponents is distributed FW-BW
    // min-label coloring; the ORACLE computes the same components from
    // a transitive-closure recursive CTE — feasible only because this
    // graph is ≤ 25 nodes. The operator itself never materializes a
    // closure, which is exactly why it scales and the CTE does not.
    "graph_scc" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .where(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") % 11 === 0)
        .select("src", "dst")
      graft.ops.Graph.stronglyConnectedComponents(e, "src", "dst")
        .orderBy("node")
    }),

    // Link prediction over a parts-co-ordered graph (first 3 lines per
    // order — C(3,2) pairs/order keeps the candidate space ~5M at
    // sf0.1): Jaccard neighbor-similarity via the shared-neighbor
    // inverted index (ops/Graph.neighborSimilarity — pairs exist ONLY
    // through a shared center node, never node × node; hub centers past
    // the degree guard are excluded from pair generation; single-witness
    // pairs fall to the cn ≥ 2 support threshold). Top 100 pairs by
    // exact integer-basis-point Jaccard; already-linked pairs are
    // flagged rather than dropped, so the row doubles as an
    // edge-confirmation score.
    "graph_jaccard" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_linenumber") <= 3)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val e = li.as("a").join(li.as("b"), Seq("k"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      graft.ops.Graph.neighborSimilarity(e, "src", "dst", maxDegree = 128,
          minCn = 2)
        .orderBy(col("jaccard_bp").desc, col("u"), col("v"))
        .limit(100)
    }),

    // Damped PageRank over the nation trade graph (customer nation →
    // supplier nation, deduped): 25 nodes, so 3 unrolled rounds are
    // cheap in the oracle and the float story is safe — both engines
    // evaluate the same IEEE expression shapes on the same integer-
    // derived doubles, the only divergence is sum order (~1e-15).
    // Output is rank·1e8 rounded to a BIGINT: integer repr is exact
    // cross-engine (a double `round(x, 8)` is not — Spark rounds via
    // BigDecimal, DuckDB via multiply/divide, off-by-one-ulp hazard).
    "graph_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      graft.ops.Graph.pageRank(e, "src", "dst", iterations = 3)
        .select(col("node"), round(col("rank") * lit(1e8)).cast("long").as("rank_e8"))
        .orderBy("node")
    }),

    // Synchronous label propagation on the parts-co-ordered graph
    // (3 rounds, deterministic smallest-label tie-break): labels are
    // integers, so the recurrence is EXACT on both engines — the oracle
    // unrolls the three rounds as chained CTEs.
    "graph_labelprop" -> ((s, dir) => {
      // co-occurrence within an order is naturally group-shaped: the
      // adjacency table builds straight from the order groups (collect_set
      // per order → per-member neighbor explode → collect_set per part) —
      // no materialized pair-list exchange; see Graph.labelPropagationAdj
      val li = t(s, dir, "lineitem")
        .where(col("l_linenumber") <= 4)
        .select(col("l_orderkey").as("k"), col("l_partkey").cast("long").as("p"))
      // one row per (order, member) carrying the member's in-order
      // neighbor ARRAY — Σ|ps| rows instead of the Σ|ps|² per-pair
      // explode (measured 0.84 → 0.66 s at sf0.1); the final
      // array_distinct(flatten(...)) is the same neighbor-set semantics
      // collect_set gave (LPA is neighbor-order-independent)
      val adj = li.groupBy("k").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr(
          "transform(ps, x -> struct(x AS src, filter(ps, y -> y != x) AS nb))")).as("u"))
        .select(col("u.src"), col("u.nb"))
        .groupBy("src").agg(array_distinct(flatten(collect_list(col("nb")))).as("nbrs"))
      // node set = adjacency keys (src covers every endpoint of the
      // symmetric co-occurrence pairs) — NOT all distinct parts: a part
      // only ever ordered alone has no pairs and the oracle's node CTE
      // (derived from the pair table) must agree at every scale factor.
      // The no-nodeSet overload skips the redundant graft-back join.
      graft.ops.Graph.labelPropagationAdj(adj, iterations = 3)
        .orderBy("node")
    }),

    // BPE vocabulary induction. The merge recurrence is sequential
    // (merge r+1's pair counts depend on merge r), which recursive SQL
    // can't express — but a FIXED merge count unrolls into 10 chained
    // CTE stages (pair-count + argmax + double-gap literal replace per
    // stage), so the oracle is a full value check; BpeSpec additionally
    // pins the classic golden corpus.
    "bpe_merges" -> ((s, dir) =>
      graft.ops.Bpe.learnMerges(t(s, dir, "documents"), "text", 10)),

    // Applying a PINNED tokenizer artifact (the production op — training
    // versions the artifact separately): regex-free literal-replace
    // merge chain over the double-gap wire format, bit-identical strings
    // on both engines (no lookaround — RE2 oracles lack it).
    "text_bpe_apply" -> ((s, dir) => {
      val merges = Seq(("e", "r"), ("er", "</w>"), ("i", "n"), ("o", "w"), ("s", "t"))
      graft.ops.Bpe.encode(t(s, dir, "documents"), "text", merges)
        .select(col("doc_id"),
          size(split(regexp_replace(col("bpe_syms"), "\\u001f", " "), " "))
            .as("n_bpe_tokens"),
          col("bpe_syms"))
        .orderBy("doc_id")
    }),

    // Token Shannon entropy per doc (low entropy = repetitive/degenerate
    // text). Float determinism: the c·ln(c) terms fold in TERM-SORTED
    // order on both engines (a plain float sum would be partition-order
    // dependent); per-doc distinct terms are few, so the interpreted
    // fold is off the hot path.
    "text_entropy" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
          expr("""aggregate(array_sort(collect_list(struct(term, c))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) * ln(cast(x.c as double)))"""
            .stripMargin.replace("\n", " ")).as("_clogc"))
        .select(col("doc_id"), col("n"), col("n_distinct"),
          round(log(col("n").cast("double")) - col("_clogc") / col("n").cast("double"), 3)
            .as("entropy_r3"))
        .orderBy("doc_id")
    }),

    // Unigram LM score (CCNet-style perplexity proxy, honest about being
    // unigram): avg log-prob of each doc under the CORPUS distribution —
    // (Σ c·ln gf)/n_tok − ln N from integer counts, c·ln(gf) folded in
    // term-sorted order (same float-determinism pattern as text_entropy).
    // Low score = tokens the corpus finds improbable (gibberish/OCR
    // noise); distinct from entropy, which is blind to the corpus.
    "text_lm_score" -> ((s, dir) => {
      // toks feeds three aggregates, but do NOT persist it: physical
      // exchange reuse already shares the scan+explode here, and a cache
      // materialization measured flat-to-slower (r16 A/B). r17 also
      // rejected two single-pass derivations of `global` from the
      // doc-term aggregate: persisting that aggregate measured ~2x
      // slower (cache barrier), and a term-partitioned window measured
      // flat AND loses AQE skew-splitting at scale (guide §2.5 — a
      // Zipfian term pins its whole partition on one window task, where
      // this join shape skew-splits).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val global = toks.groupBy("term").agg(count(lit(1)).as("gf"))
      val totals = toks.agg(count(lit(1)).as("n"))
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .join(broadcast(global), "term")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"),
          expr("""aggregate(array_sort(collect_list(struct(term, c, gf))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) * ln(cast(x.gf as double)))"""
            .stripMargin.replace("\n", " ")).as("_clngf"))
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("n_tok"),
          round(col("_clngf") / col("n_tok").cast("double")
            - log(col("n").cast("double")), 3).as("avg_logp_r3"))
        .orderBy("doc_id")
    }),

    // Bigram LM doc scoring (add-one smoothing): train the corpus bigram
    // model IN the query (bigram + left-context count tables — two hash
    // shuffles bounded by distinct bigrams, the n-gram-LM-at-corpus-scale
    // shape) and score each doc by mean log p(w2|w1). Same float story as
    // text_lm_score: integer counts, term-sorted fold, identical IEEE
    // expression shapes on both engines; smoothing constants ride inside
    // the fold struct so the lambda stays self-contained.
    "text_lm_bigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bg = docs
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("doc_id"), col("z.l").as("w1"), col("z.r").as("w2"))
      // no persist: the three aggregations share the explode via physical
      // exchange reuse; caching measured ~20% slower (r16 A/B). r17 also
      // rejected deriving bgf/lcf from cnt: persisting cnt measured ~60%
      // slower, and riding them as (w1,w2)/(w1) windows measured flat
      // while losing AQE skew-splitting at scale (§2.5 — hot bigrams pin
      // one window task; these joins skew-split).
      val cnt = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
      val bgf = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bgf"))
      val lcf = bg.groupBy("w1").agg(count(lit(1)).as("lcf"))
      val vocab = docs
        .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("t"))
        .agg(countDistinct(col("t")).as("v"))
      cnt.join(bgf, Seq("w1", "w2")).join(lcf, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"),
          expr("""aggregate(array_sort(collect_list(struct(w1, w2, c, bgf, lcf, v))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) *
                 |   (ln(cast(x.bgf as double) + 1.0) -
                 |    ln(cast(x.lcf as double) + cast(x.v as double)))"""
            .stripMargin.replace("\n", " ") + ")").as("_s"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("_s") / col("n_bigrams").cast("double"), 3).as("avg_logp_r3"))
        .orderBy("doc_id")
    }),

    // Per-document Kneser-Ney quality score — the perplexity-style gate
    // composed from text_lm_kn's machinery with ZERO float anywhere:
    // each doc's mean KN bigram probability in ppm is
    //   Σ_types c_doc(v,w)·kn_ppm(v,w)  div  n_bigrams(doc)
    // (integer: per-TYPE corpus probability × per-doc count — the mean
    // over occurrences without touching a float fold, unlike
    // text_lm_bigram's ln() version). Low-probability docs are the
    // gibberish/boilerplate candidates. Shapes: corpus bigram-type table
    // built once (one keyed agg), per-doc type counts (one keyed agg),
    // one keyed join between them, one doc-keyed reduce.
    "text_lm_kn_doc" -> ((s, dir) => {
      // r17: building bt from the per-doc type counts (persist docBt,
      // bt = Σ_docs dc) measured ~25% SLOWER in the interleaved A/B —
      // the cache-materialization barrier beats the saved stream pass
      // at this size; shape kept as shipped.
      val bg = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("doc_id"), col("z.l").as("w1"), col("z.r").as("w2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val heads = bt.groupBy("w1")
        .agg(sum("c").as("cv"), count(lit(1)).as("n1pv"))
      val tails = bt.groupBy("w2").agg(count(lit(1)).as("ncw"))
      val tot = bt.agg(count(lit(1)).as("t"))
      val knTypes = bt
        .join(heads, "w1").join(tails, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"),
          expr(knPpm("div")).as("kn_ppm"))
      bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("dc"))
        .join(knTypes, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum("dc").as("n_bigrams"),
          sum(col("dc") * col("kn_ppm")).as("_s"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("_s div n_bigrams").as("mean_kn_ppm"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney bigram probabilities (Chen & Goodman '98)
    // at discount d = 3/4, entirely in exact integer rationals:
    //   P(w|v) = max(c(vw)−d, 0)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/N1+(··)
    // cross-multiplied to
    //   ppm = 10^6·(T·max(4·c(vw)−3, 0) + 3·N1+(v·)·N1+(·w))
    //         div (4·c(v·)·T)
    // — the LM smoothing the perplexity-quality gates build on, with the
    // continuation counts (how many DISTINCT contexts a word follows)
    // that make KN beat add-k on reused phrases. One (w1, w2)-keyed
    // aggregation builds the bigram-type table; heads, tails, and the
    // type total all derive from IT (partial-aggregable, corpus scanned
    // once); the total rides a one-row broadcast. Magnitude bound:
    // num ≤ 10^6·T·4·max(c) — BIGINT-safe while T·max(c) < ~2·10^12;
    // past that the multiply moves to DECIMAL(38,0) (same plan shape).
    "text_lm_kn" -> ((s, dir) => {
      val bt = t(s, dir, "documents")
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("z.l").as("w1"), col("z.r").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val heads = bt.groupBy("w1")
        .agg(sum("c").as("cv"), count(lit(1)).as("n1pv"))
      val tails = bt.groupBy("w2").agg(count(lit(1)).as("ncw"))
      val tot = bt.agg(count(lit(1)).as("t"))
      bt.where(col("c") >= 5)
        .join(heads, "w1").join(tails, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c"),
          expr(knPpm("div")).as("kn_ppm"))
        .orderBy(col("kn_ppm").desc, col("w1"), col("w2"))
        .limit(100)
    }),

    // Count-min sketch point estimates for the heavy terms: the oracle
    // pins exact counts and expects both error-bound flags to be 1 —
    // lower_ok (CMS never undercounts) must ALWAYS hold; upper_ok uses
    // the 3N/w integer bound (≥ eN/w), checked here on real data.
    "sketch_cms" -> ((s, dir) => {
      // ONE tokenization pass: the exact per-term count table is the only
      // consumer of the raw token explode; the total and the CMS both
      // derive from it (counters are linear, so a weight-summed build is
      // bit-identical to the per-occurrence build — Sketch.cmsBuildWeighted).
      // `exact` is persisted because it feeds three downstream aggregates;
      // it is the DISTINCT-term frame (vocabulary-sized), not the corpus.
      val exact = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = exact.agg(sum("exact_cnt").as("n"))
      val heavy = exact.crossJoin(broadcast(tot))
        .where(col("exact_cnt") * 51 > col("n"))
      val cms = graft.ops.Sketch.cmsBuildWeighted(exact, "term", "exact_cnt",
        w = 16384, d = 4)
      val est = graft.ops.Sketch.cmsEstimate(cms, heavy.select("term"), "term",
        w = 16384, d = 4)
      heavy.join(est, "term")
        .select(col("term"), col("exact_cnt"),
          (col("cms_est") >= col("exact_cnt")).cast("int").as("lower_ok"),
          (col("cms_est") <= col("exact_cnt") + expr("3 * n div 16384"))
            .cast("int").as("upper_ok"))
        .orderBy("term")
    }),

    // Grouped heavy hitters: per-language frequent terms (per-domain
    // profiling — same lossless two-pass shape, sketches per group).
    "sketch_frequent_by_lang" -> ((s, dir) => {
      // frequentItemsByGroup is deliberately two-pass (Misra-Gries sketch,
      // then an exact recount of the lossless candidate superset); the
      // re-scan reads the columnar source — caching the exploded tokens
      // measured no faster at sf0.1 (r16 A/B) and would spill at scale.
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      graft.ops.TopK.frequentItemsByGroup(toks, "lang", "term", k = 50)
        .withColumnsRenamed(Map("grp" -> "lang", "item" -> "term"))
    }),

    "q29_ranking" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    }),

    // The engine's SQL surface (SURVEY §7.1 item 8): register the fixture
    // tables as views and run plain Spark SQL — here a correlated scalar
    // subquery, which Catalyst decorrelates into a left outer aggregate
    // join (SURVEY §4: DecorrelateInnerQuery is built-in).
    "q33_sql_surface" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT c_custkey,
          |       round((SELECT sum(o_totalprice) FROM v_orders
          |              WHERE o_custkey = c_custkey), 2) AS spend
          |FROM v_customer ORDER BY c_custkey""".stripMargin)
    }),

    "q34_multi_distinct" -> ((s, dir) =>
      t(s, dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment")),

    // RANGE window frame (value-range, not row-count): trailing one-hour
    // sliding aggregate per user over event time — the frame type ROWS
    // windows can't express when events are irregularly spaced.
    "q40_range_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0)
      t(s, dir, "events")
        .where(col("user_id") < 100)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          round(sum(col("value").cast("decimal(20,6)")).over(w), 2)
            .cast("double").as("sum_trailing_1h"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Time-series resample + forward-fill: per-user hourly grid from the
    // user's first to last event, observed hours aggregated (decimal-
    // exact), gap hours filled with the last observed value. The grid is
    // generated per key (sequence+explode — narrow), so the whole op is
    // one groupBy + one window; no driver-side time loop.
    "q39_resample" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id") < 50)
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hr"),
          col("value"))
      val hourly = ev.groupBy("user_id", "hr")
        .agg(round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("hr_val"))
      val grid = ev.groupBy("user_id")
        .agg(min("hr").as("_lo"), max("hr").as("_hi"))
        .select(col("user_id"), explode(sequence(col("_lo"), col("_hi"))).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("hr_val"), last("hr_val", ignoreNulls = true).over(w)).as("filled"),
          col("hr_val").isNull.cast("int").as("gap"))
        .orderBy("user_id", "hr")
    }),

    // Cohort retention: users grouped by first-seen day, distinct-user
    // counts per (cohort, day offset). Two key-local shuffles (user for
    // the first-seen aggregate + co-partitioned join back, then the tiny
    // cohort grid); pairs are pre-deduped so no count_distinct Expand.
    // Day arithmetic at µs resolution on both engines (NOTES fact 13).
    // Kaplan-Meier time-to-conversion (the survival curve the
    // product-analytics stack reports): per user, duration = days from
    // first event to first 'purchase', administratively censored at the
    // corpus's day 3 (the study-end cutoff) — users who have not
    // converted by the cutoff stay in the at-risk denominators up to
    // their censor time without ever counting as converted (dropping
    // them would bias the curve one way, counting them as converted the
    // other — the correction KM exists for; at sf0.1 ~1 in 6 users is
    // censored). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over conversion
    // times, evaluated as exp of a cumulative ln sum with identical
    // expression shapes on both engines and a round-3 output (the
    // text_lm_score float discipline). Both windows run over the
    // AGGREGATED per-duration table — bounded by the observation
    // window's day span, never the row count (the GlobalWindowCheck
    // exemption) — after one user-keyed and one duration-keyed
    // aggregation; corpus bounds ride one-row broadcasts.
    "events_survival" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
      val users = ev.groupBy("user_id").agg(min("day").as("fd"))
      val conv = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("pd"))
      val cut = ev.agg((min("day") + 3).as("_cut"))
      val durs = users.join(conv, Seq("user_id"), "left")
        .crossJoin(broadcast(cut))
        .where(col("fd") <= col("_cut"))
        .select(
          when(col("pd").isNotNull && col("pd") <= col("_cut"),
            col("pd") - col("fd"))
            .otherwise(col("_cut") - col("fd")).as("dur"),
          (col("pd").isNotNull && col("pd") <= col("_cut"))
            .cast("long").as("dead"))
      val byDur = durs.groupBy("dur")
        .agg(count(lit(1)).as("n_all"), sum("dead").as("d"))
      val w = Window.orderBy("dur")
      val atRisk = byDur
        .crossJoin(broadcast(durs.agg(count(lit(1)).as("_n"))))
        .select(col("dur"), col("d"),
          (col("_n") - coalesce(
            sum("n_all").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L))).as("n_risk"))
      // n_risk = d can only happen on the LAST conversion time (nothing
      // has a longer duration once everyone at risk converts), but the
      // engines disagree on ln(0) — Spark returns NULL (sum would skip
      // it) and DuckDB raises — so the zero factor is kept OUT of the
      // fold (its term folds ln(1) = 0) and that row's survival is
      // pinned to the exact 0.0 the product semantics demand.
      atRisk.where(col("d") > 0)
        .select(col("dur"), col("n_risk"), col("d"),
          when(col("n_risk") === col("d"), lit(0.0)).otherwise(
            round(exp(
              sum(expr("ln(cast(CASE WHEN n_risk = d THEN n_risk" +
                  " ELSE n_risk - d END AS double) / cast(n_risk AS double))"))
                .over(w.rowsBetween(Window.unboundedPreceding, 0))), 3))
            .as("surv_r3"))
        .select(col("dur").as("t_day"), col("n_risk"),
          col("d").as("n_churn"), col("surv_r3"))
        .orderBy("t_day")
    }),

    "cohort_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
      val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(firstDay, "user_id")
        .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Trailing-window distinct count (7-day active users per day) WITHOUT
    // a sliding count_distinct window: each distinct (user, day) activity
    // row contributes to the 7 window-end days it falls inside; explode
    // that bounded contribution, dedup pairs, count. Linear with a fixed
    // 7× expansion — never a per-day set union or an Expand.
    "q42_window_distinct" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
      val bounds = ud.agg(max("day").as("_hi"))
      ud.withColumn("wday", explode(expr("sequence(day, day + 6)")))
        .crossJoin(broadcast(bounds))
        .where(col("wday") <= col("_hi"))
        .select("wday", "user_id").distinct()
        .groupBy("wday").agg(count(lit(1)).as("u7"))
        .orderBy("wday")
    }),

    // Explicit GROUPING SETS with grouping_id — the general form of
    // q12_rollup/q20_cube: exactly the (status), (priority), and ()
    // groupings, nothing else, disambiguated by grouping ids.
    "q44_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders_gs")
      // NULL-free output + coalesced sort keys: Spark orders NULLS FIRST,
      // DuckDB NULLS LAST — don't let a NULL near the positional compare
      s.sql(
        """SELECT coalesce(o_orderstatus, '*') AS status,
          |       coalesce(o_orderpriority, '*') AS priority,
          |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |       count(*) AS n,
          |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,2))), 2) AS DOUBLE) AS total
          |FROM v_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio, status, priority""".stripMargin)
    }),

    // Gap-fill with LINEAR interpolation (q39_resample forward-fills):
    // per-user daily purchase counts on a dense day grid; missing days
    // get (pv·(nd−day) + nv·(day−pd))·1000 div (nd−pd) — the numerator
    // is a nonnegative integer, so truncating div == floor div and both
    // engines agree without a float in sight. Grid spans each user's
    // own [min_day, max_day], so prev/next anchors always exist.
    "q43_interpolate" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
      val grid = daily.groupBy("user_id")
        .agg(min("day").as("_lo"), max("day").as("_hi"))
        .select(col("user_id"), explode(sequence(col("_lo"), col("_hi"))).as("day"))
      val wA = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wB = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("cnt"),
          last("cnt", ignoreNulls = true).over(wA).as("_pv"),
          last(when(col("cnt").isNotNull, col("day")), ignoreNulls = true).over(wA).as("_pd"),
          first("cnt", ignoreNulls = true).over(wB).as("_nv"),
          first(when(col("cnt").isNotNull, col("day")), ignoreNulls = true).over(wB).as("_nd"))
        .withColumn("filled_x1000",
          when(col("cnt").isNotNull, col("cnt") * 1000)
            .otherwise(expr("(_pv * (_nd - day) + _nv * (day - _pd)) * 1000 div (_nd - _pd)")))
        .select(col("user_id"), col("day"), col("filled_x1000"),
          col("cnt").isNull.cast("int").as("gap"))
        .orderBy("user_id", "day")
    }),

    // UNPIVOT/melt: wide metric columns → long (metric, value) rows,
    // then a per-metric rollup. Decimal sums keep the rounding exact and
    // aggregation-order-independent cross-engine.
    "q38_unpivot" -> ((s, dir) =>
      widen(t(s, dir, "lineitem"))
        .select(col("l_orderkey"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"),
          col("l_tax").as("tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "metric", "value")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("total"))
        .orderBy("metric")),

    // LATERAL correlated subquery (top-2 customers per nation) — the
    // other decorrelation path in Catalyst (LateralJoin → window/join
    // rewrite), distinct from q33's scalar-subquery decorrelation.
    "q37_lateral" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("v_nation")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql(
        """SELECT n.n_nationkey, n.n_name, c.c_custkey, c.c_acctbal
          |FROM v_nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM v_customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          |ORDER BY n_nationkey, c_acctbal DESC, c_custkey""".stripMargin)
    }),

    // Conversion funnel: users reaching view → later click → later
    // purchase. Two user-keyed joins + aggs; per-user funnel state is one
    // timestamp per stage, so the shape holds at any event volume.
    // (µs resolution per NOTES environment fact 13.)
    "q36_funnel" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("v_ts"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts_us") > col("v_ts"))
        .groupBy("user_id").agg(min("ts_us").as("c_ts"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts_us") > col("c_ts"))
        .select("user_id").distinct()
      v.agg(count(lit(1)).as("users")).select(lit("1_view").as("stage"), col("users"))
        .unionByName(c.agg(count(lit(1)).as("users"))
          .select(lit("2_click").as("stage"), col("users")))
        .unionByName(p.agg(count(lit(1)).as("users"))
          .select(lit("3_purchase").as("stage"), col("users")))
        .orderBy("stage")
    }),

    // Z-order (Morton) value for 2-D layout clustering: bit-interleave
    // custkey and a price bucket. The write-side use is
    // Layout.zOrder(...).write — here the z computation itself is pinned.
    "layout_zorder" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.ops.Layout.zValue(
            col("o_custkey").cast("long"),
            floor(col("o_totalprice") / 100).cast("long")).as("z"))
        .orderBy("z", "o_orderkey")),

    // Deterministic training-shard layout: hash-assigned shard + a
    // hash-permuted within-shard position — the reproducible global
    // shuffle a pretraining run wants (epoch order is a pure function of
    // data + shard count; identical on rerun, no RNG state to persist,
    // adjacent source docs decorrelated). The row_number window's
    // partitions are the hash-balanced shards themselves. Write side:
    // partitionBy(shard) + sort by pos (Layout.shardAssignment scaladoc).
    "shard_layout" -> ((s, dir) =>
      graft.ops.Layout.shardAssignment(
          t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("pos"), col("n_chars"))
        .orderBy("shard", "pos")),

    // Sessionization: gap-based session assignment per user (30-min
    // inactivity), then per-session rollup. Integer microsecond window
    // arithmetic (`ts div 1000` — DuckDB's parquet reader truncates
    // TIMESTAMP(NANOS) to µs, so µs is the shared exact resolution);
    // one shuffle on user_id shared by both windows.
    "q35_sessionize" -> ((s, dir) => {
      val gapMicros = 30L * 60 * 1000000L
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > gapMicros ||
              lag("ts_us", 1).over(w).isNull, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          (max("ts_us") - min("ts_us")).as("dur_us"),
          // decimal sum: exact and order-independent, so partial-agg order
          // can never flip the 2dp rounding vs the oracle
          round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("sum_val"))
        .orderBy("user_id", "session_seq")
    }),

    "q31_window_family" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          first("o_orderkey").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cheapest_key"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderkey")
    }),

    "q32_conditional" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          greatest(col("o_totalprice"), lit(1000.0)).as("floor_price"),
          least(col("o_totalprice"), lit(100000.0)).as("cap_price"),
          nullif(col("o_orderstatus"), lit("F")).as("non_final"),
          coalesce(nullif(col("o_orderstatus"), lit("F")), lit("DONE")).as("status_or_done"))
        .orderBy("o_orderkey")),

    "q26_distinct_count" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),

    "q27_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .withColumnsRenamed(Map("A" -> "a_qty", "N" -> "n_qty", "R" -> "r_qty"))
        .orderBy("l_linestatus")),

    // Deterministic hash-based sampling/splitting (no RNG state — same
    // selection at any cluster size; narrow filter, pushdown-friendly).
    "sample_deterministic" -> ((s, dir) =>
      graft.ops.Sampling.sample(t(s, dir, "orders"), "o_orderkey", 5)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")),

    "sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 10, "de" -> 50, "fr" -> 50, "es" -> 50, "zh" -> 50))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "split_train_test" -> ((s, dir) =>
      graft.ops.Sampling.trainValTestSplit(t(s, dir, "documents"), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("cnt"))
        .orderBy("split")),

    // Per-source cap (no domain may dominate): deterministic hash-rank
    // keeps ≤10 docs per source at any cluster size.
    "sample_capped" -> ((s, dir) =>
      graft.ops.Sampling.cappedPerGroup(t(s, dir, "documents"), "source", "doc_id", 10)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // exponential race, hash-derived u): longer docs proportionally more
    // likely; one top-k, no global sort, no RNG state.
    "sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 20)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    // Capstone composition of the round-5 curation ops — a pretraining
    // data pipeline: quality gate → repetition gate (RELATIVE df: a
    // gram is boilerplate in ≥0.5% of docs — the absolute minDocs
    // saturates as the corpus grows) → exact-dedup keep-first →
    // temperature source mix → per-source token budget. Every stage is
    // an operator with its own green oracle; this proves they COMPOSE.
    "pipeline_pretrain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // The r15 audit counted documents x30 in the LOGICAL plan here, but
      // the r16 interleaved A/B showed persisting gated/clean is
      // flat-to-slower: physical exchange reuse already shares the
      // repeated subtrees, and cache materialization serializes stages
      // that otherwise overlap. Left uncached deliberately — the audit
      // lesson is "count physical scans, then measure", not "persist
      // every repeated leaf".
      val gated = docs
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("stop_hits", Functions.wordSetHits(col("text"), stopEn))
        .where(col("n_tok") >= 20 && col("stop_hits") > 0)
      val keepIds = graft.ops.Quality
        .dupGramFractionRelative(gated, "text", "doc_id", minPermille = 5)
        .where(col("keep") === 1).select("doc_id")
      val clean = gated.join(keepIds, "doc_id")
      val firstIds = clean.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val deduped = clean.join(firstIds, "doc_id")
      val counts = deduped.groupBy("source").agg(count(lit(1)).as("n_s"))
      val rates = counts.crossJoin(broadcast(counts.agg(min("n_s").as("n_min"))))
        .withColumn("keep_bp", least(lit(10000L),
          floor(lit(10000.0) *
            sqrt(col("n_min").cast("double") / col("n_s").cast("double")))
            .cast("long")))
      deduped.join(broadcast(rates.select("source", "keep_bp")), "source")
        .where(pmod(graft.ops.Dedup.md5Int(
            concat(lit("ts:"), col("doc_id").cast("string"))), lit(10000L))
          < col("keep_bp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
        .orderBy("source")
    }),

    // Temperature-based source mixing (α = 0.5): per-source keep rate
    // ∝ sqrt(n_min/n_s) — tail domains keep everything, head domains
    // downsample, the standard anti-domination mix step. All arithmetic
    // is IEEE-exact (÷, sqrt, ×, floor on integer-derived doubles), so
    // the rates are engine-identical; selection is the usual hash gate.
    "sample_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val minN = counts.agg(min("n_s").as("n_min"))
      val rates = counts.crossJoin(broadcast(minN))
        .withColumn("keep_bp", least(lit(10000L),
          floor(lit(10000.0) *
            sqrt(col("n_min").cast("double") / col("n_s").cast("double")))
            .cast("long")))
      docs.join(broadcast(rates.select("source", "n_s", "keep_bp")), "source")
        .where(pmod(graft.ops.Dedup.md5Int(
            concat(lit("ts:"), col("doc_id").cast("string"))), lit(10000L))
          < col("keep_bp"))
        .groupBy("source")
        .agg(max("n_s").as("n_s"), max("keep_bp").as("keep_bp"),
          count(lit(1)).as("kept"))
        .orderBy("source")
    }),

    // Deterministic k-fold: hash-assigned folds, stable at any cluster size.
    "split_kfold" -> ((s, dir) =>
      graft.ops.Sampling.kFold(t(s, dir, "documents"), "doc_id", 5)
        .select("doc_id", "fold")
        .orderBy("doc_id")),

    // Duplicate n-gram fraction (Gopher/Dolma repetition signal): phrase-
    // level boilerplate that exact and near dedup both miss. Integer basis
    // points — no float in the verdict.
    "text_dupfrac" -> ((s, dir) =>
      graft.ops.Quality.dupGramFraction(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // Per-language length outliers by z-score; group stats from integer
    // sums so the doubles are engine-exact (IEEE ops on identical inputs).
    // zMax 1.5: the fixture lengths are near-uniform (|z| ≤ √3), so 2.0
    // would select nothing at any SF.
    "quality_outliers" -> ((s, dir) =>
      graft.ops.Quality.zScoreOutliers(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "n_chars", "lang", 1.5)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("z"), 3).as("z_r3"))
        .orderBy("doc_id")),

    // Robust per-language length stats: lower median + MAD + outlier
    // counts at 1/2/3 MADs, medians selected from value-count tables
    // (aggregate-first — no per-row sort at any scale). The robust twin
    // of quality_outliers' mean/z-score.
    "quality_mad" -> ((s, dir) =>
      graft.ops.Quality.madStats(
          t(s, dir, "documents").select("lang", "n_chars"), "n_chars", "lang")
        .orderBy("lang")),

    // Token-id encoding: vocabulary = top-64 terms by (freq desc, term),
    // dense ids 1..64 (0 = OOV); documents become bounded-vocab id
    // sequences — the corpus→token-ids step before pack_sequences. The
    // vocab is corpus-bounded (not row-bounded), so the global window
    // ranking the aggregated term counts is small at any corpus size,
    // and the encode join is a broadcast.
    "text_encode_ids" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .where(col("term") =!= "")
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("tok_id",
          row_number().over(Window.orderBy(col("freq").desc, col("term"))))
        .where(col("tok_id") <= 64)
        .select("term", "tok_id")
      toks.join(broadcast(vocab), Seq("term"), "left")
        .withColumn("tok_id", coalesce(col("tok_id"), lit(0)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum((col("tok_id") === 0).cast("int")).as("n_oov"),
          // JSON string, not a raw ARRAY column: the driver's pandas
          // compare cannot sort ndarray cells (ContractSpec)
          to_json(transform(sort_array(collect_list(struct(col("pos"), col("tok_id")))),
            x => x("tok_id"))).as("ids"))
        .orderBy("doc_id")
    }),

    // Discrete (element-valued) quantiles via explicit rank index — exact
    // cross-engine parity with no interpolation arithmetic to diverge on.
    // Rank.groupRankPercentiles keeps the plan free of the per-flag
    // single-task window sort (3 groups → 3 tasks sorting 20M+ rows each
    // at 100×): value-count hash agg → range-partitioned cumulative →
    // broadcast per-flag offsets.
    "q24_percentile" -> ((s, dir) =>
      graft.ops.Rank.groupRankPercentiles(
        t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice",
        Seq("median_price" -> 0.5, "p90_price" -> 0.9))
      .orderBy("l_returnflag")),

    "q25_stats" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"))
        .orderBy("l_returnflag")),

    // Per-group OLS regression from sufficient statistics — the
    // distributed shape for "fit a line per key" at corpus scale: ONE
    // partial-aggregable pass accumulates (n, Σx, Σy, Σxy, Σx²) per
    // group; slope and intercept leave as exact integer rationals
    // (slope = slope_num/slope_den, intercept = icept_num/slope_den) so
    // the compare is float-free. x = chars, y = whitespace tokens; at
    // 100 TB the products want DECIMAL(38) but the plan shape (one
    // key-local shuffle of five counters) is unchanged.
    "stats_regression" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        col("n_chars").as("x"),
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long").as("y"))
      d.groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("lang"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icept_num"))
        .orderBy("lang")
    }),

    // Corpus drift detection: which terms' relative frequencies moved
    // most between two corpora (here en vs non-en)? Score is the exact
    // integer |a·NB − b·NA| — the difference of relative frequencies
    // cross-multiplied by NA·NB — so there's no division, no floats,
    // and the (drift, term) order is total. One term-key shuffle with
    // partial aggregation; the two corpus totals ride in as a one-row
    // broadcast.
    "corpus_drift" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      val cnt = toks.groupBy("term").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("b"))
      val tot = toks.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("na"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nb"))
      cnt.crossJoin(broadcast(tot))
        .select(col("term"), col("a"), col("b"),
          abs(col("a") * col("nb") - col("b") * col("na")).as("drift"))
        .orderBy(col("drift").desc, col("term"))
        .limit(30)
    }),

    // Vocabulary coverage curve: what fraction of corpus tokens do the
    // top-k vocabulary entries cover (tokenizer/vocab sizing input)?
    // The window runs over the AGGREGATED term table — corpus-bounded,
    // the same post-aggregation exemption as text_encode_ids — never
    // over raw tokens. Coverage in exact basis points: cum·10⁴ div
    // total, nonnegative, so truncating div == floor div cross-engine.
    "vocab_coverage" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c").desc, col("term"))
      val tot = toks.agg(count(lit(1)).as("n"))
      vocab.select(col("term"), col("c"),
          row_number().over(w).as("k"),
          sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
        .where(col("k").isin(1, 3, 10, 30))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("term"), col("c"), col("cum"),
          expr("cum * 10000 div n").as("coverage_bp"))
        .orderBy("k")
    }),

    // Cluster-size profile after near-dup clustering — "how duplicated
    // is the corpus, and in what cluster sizes?" Composes the
    // dedup_clusters output with two more key-local aggregations; the
    // profile is what sizes a dedup budget/ETA estimate reads.
    "dedup_cluster_stats" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }),

    // Sketch-vs-exact calibration: how well does the 8-component minhash
    // estimate track the exact 3-shingle Jaccard on the pairs LSH
    // actually surfaces? The matrix an engineer reads before trusting a
    // dedup threshold: per (est, exact-decile) cell, pair count and
    // total |est−exact| (both at 4 dp → exact integers). exact_dec = −1
    // isolates LSH's false-positive band collisions (candidates with no
    // shared rare shingle at all). Banded candidates ⋈ inverted-index
    // exact pairs — both linear shapes; the matrix is ≤ 8×12 cells.
    "dedup_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // est is consumed twice, but unpersisted on purpose: the two
      // consumers' identical signature+banding subtrees share physically
      // (exchange reuse), and caching measured ~50% slower (r16 A/B)
      val est = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id",
        threshold = 0.25)
      // exact Jaccard scored only for the est pairs (pair-keyed joins) —
      // same values/rows as the full ngramCandidates self-join restricted
      // to them, at |pairs|-bounded cost
      val exact = Dedup.ngramJaccardFor(est, docs, "text", "doc_id",
        k = 3, dfCap = 100)
      est.join(exact, Seq("a_id", "b_id"), "left")
        .select(round(col("est_jaccard") * 10000).cast("long").as("est_e4"),
          round(col("jaccard") * 10000).cast("long").as("_x"))
        .select(col("est_e4"),
          when(col("_x").isNull, lit(-1L)).otherwise(expr("_x div 1000")).as("exact_dec"),
          coalesce(col("_x"), lit(0L)).as("_e4c"))
        .groupBy("est_e4", "exact_dec")
        .agg(count(lit(1)).as("n"),
          sum(abs(col("est_e4") - col("_e4c"))).as("abs_err_e4"))
        .orderBy("est_e4", "exact_dec")
    }),

    // Capture-group extraction into typed columns — the regexp-ETL
    // surface (parse an id out of a tag, pull positional words):
    // group-indexed regexp_extract has identical semantics on both
    // engines; a no-match yields '' (never NULL), so the empty string
    // is the honest sentinel and nothing trips ANSI casts.
    "q47_regex_extract" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("source"), "^src([0-9]+)$", 1).cast("long").as("src_num"),
        regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 2).as("second_word"),
        regexp_extract(col("text"), "\\b(ta[a-z]+)", 1).as("first_ta"))
        .orderBy("doc_id")),

    // Event-sequence transition profile (first-order Markov): per
    // (prev → next) event-type pair, transition counts and permille of
    // the source type's outgoing mass — the sequence-structure profile
    // a behavioural pipeline reads. The lag window is per-user over a
    // fully-determined (ts, event_id) order; the permille window runs
    // over the AGGREGATED pair table (bounded by |types|²), never raw
    // events.
    "events_markov" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
      tr.groupBy("prev", "event_type").agg(count(lit(1)).as("cnt"))
        .withColumn("out_total", sum("cnt").over(Window.partitionBy("prev")))
        .select(col("prev"), col("event_type").as("next"), col("cnt"),
          expr("cnt * 1000 div out_total").as("permille"))
        .orderBy("prev", "next")
    }),

    // Collections-function surface over token arrays (sort, distinct,
    // position, containment, slice, string reverse) — scalar outputs
    // only (the driver compare bans complex types). array_position is
    // 1-based on both engines, but Spark returns 0 for absent where
    // DuckDB returns NULL — the oracle coalesces.
    "q46_collections" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("doc_id"),
          size(col("a")).as("n"),
          expr("element_at(array_sort(a), 1)").as("first_sorted"),
          size(array_distinct(col("a"))).as("n_distinct"),
          expr("array_position(a, 'data')").as("pos_data"),
          expr("array_contains(a, 'spark')").cast("int").as("has_spark"),
          expr("array_join(slice(array_sort(array_distinct(a)), 1, 3), ',')")
            .as("top3_sorted"),
          (expr("array_contains(a, 'data')").cast("int")
            + expr("array_contains(a, 'table')").cast("int")
            + expr("array_contains(a, 'row')").cast("int")).as("n_core"),
          reverse(expr("array_join(slice(a, 1, 2), ' ')")).as("rev_head"))
        .orderBy("doc_id")),

    // BFS reachability levels: who is within 3 hops of nation-0
    // customers over the undirected customer—supplier co-purchase graph
    // (edges from lineitem×orders; supplier ids offset past the
    // customer id space)? Frontier iteration — per round one
    // frontier⋈edges shuffle + an anti-join against the visited set —
    // the distributed-BFS shape CC/PageRank don't exercise. The oracle
    // is the textbook recursive-CTE min-level.
    "graph_bfs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      // NO edge dedup at all: BFS dedups every frontier anyway
      // (`next.distinct()`), so duplicate edges only inflate one join's
      // intermediate (~2% here) — cheaper than a 600k-row dedup
      // exchange whose only effect is trimming that 2%
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(1000000L)).as("sp"))
      val e = cs.select(col("c").as("src"), col("sp").as("dst"))
        .unionAll(cs.select(col("sp").as("src"), col("c").as("dst")))
      val sources = t(s, dir, "customer").where(col("c_nationkey") === 0)
        .select(col("c_custkey"))
      graft.ops.Graph.bfsLevels(e, "src", "dst", sources, "c_custkey",
          maxLevels = 3, edgesDistinct = true)
        .orderBy("node")
    }),

    // k-core (k=8) of the customer–supplier bipartite graph, peeled to
    // the TRUE fixpoint — the unique maximal min-degree-≥8 subgraph,
    // peel-order-independent, so Spark's iterative peel and the
    // oracle's recursive CTE converge to the same set regardless of how
    // many rounds each takes. The classic graph-shaped quality gate
    // (shallow cores = weakly-attached spam/bot nodes).
    // Personalized PageRank from a seed set (nations 0-4) on the same
    // customer-nation → supplier-nation graph as graph_pagerank: the
    // "expand from THESE seeds" primitive. Integer 1e8 output like
    // graph_pagerank; oracle is the 3-round unrolled MATERIALIZED chain.
    "graph_ppr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      val seeds = t(s, dir, "nation").where(col("n_nationkey") < 5)
        .select(col("n_nationkey"))
      graft.ops.Graph.personalizedPageRank(e, "src", "dst",
          seeds, "n_nationkey", iterations = 3)
        .select(col("node"), round(col("rank") * lit(1e8)).cast("long").as("rank_e8"))
        .orderBy("node")
    }),

    "graph_kcore" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_linenumber") === 1)
        .select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      graft.ops.Graph.kCore(e, "src", "dst", k = 8)
        .orderBy("node")
    }),

    // Grouped top-k WITH ties (RANK ≤ 3): per order priority, the top
    // spending customers — the grouped, tie-preserving complement of
    // q11's global TakeOrderedAndProject and q37's LATERAL top-2 (which
    // decorrelates to a tie-free row_number). One key shuffle, then a
    // partition-local window; decimal sums so the rank key is
    // aggregation-order-independent cross-engine.
    "q45_topk_per_group" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(round(sum(col("o_totalprice").cast("decimal(20,6)")), 2)
          .cast("double").as("spend"))
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("spend").desc, col("o_custkey"))
      spend.withColumn("rk", rank().over(w)).where(col("rk") <= 3)
        .orderBy("o_orderpriority", "rk", "o_custkey")
    }),

    // One-pass-per-column dataset profiler: null count, distinct count,
    // min/max per profiled column. Each branch aggregates its own
    // VALUE-COUNT table (one narrow column-pruned scan + a shuffle
    // bounded by distinct values) — never a multi-count_distinct over
    // the full row stream, which would Expand every input row once per
    // distinct aggregate. The stats a pipeline's schema gate reads.
    "profile_colstats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def prof(c: String) = li
        .groupBy(col(c).as("_v")).agg(count(lit(1)).as("_c"))
        .agg(sum("_c").as("n"),
          coalesce(sum(when(col("_v").isNull, col("_c"))), lit(0L)).as("n_null"),
          count(when(col("_v").isNotNull, lit(1))).as("n_distinct"),
          min(col("_v")).cast("string").as("min_s"),
          max(col("_v")).cast("string").as("max_s"))
        .select(lit(c).as("column_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .map(prof).reduce(_ unionByName _).orderBy("column_name")
    }),

    // Robust pipeline monitoring: which (event_type, day) intake volumes
    // are anomalous against the type's own history? Median + MAD — not
    // mean + σ, so one heavy day cannot drag its own baseline — via
    // madOutlierRows' value-count median selection (windows bounded by
    // DISTINCT daily volumes, never raw rows). >3·MAD flags; integers
    // end to end.
    "events_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      graft.ops.Quality.madOutlierRows(daily, "cnt", "event_type", k = 3)
        .select(col("event_type"), col("day"), col("cnt"),
          col("med"), col("dev"), col("mad"))
        .orderBy("event_type", "day")
    }),

    // Per-user EWMA with α = 1/2 over the ts-ordered event stream — the
    // smoothed-metric recurrence (monitoring / trend detection). The
    // recurrence e_t = (x_t + e_{t-1}) div 2 runs as an ORDERED per-key
    // fold in INTEGER cents, seeded with the first element on both
    // engines, so nothing floats and no partial-order drift exists.
    // Values are non-negative on this fixture so Spark's truncating
    // `div` == DuckDB's flooring `//`. Scale shape: one user_id
    // aggregation; the fold is per-group and bounded by the group's
    // event count (the text_lm_score pattern — HOFs are interpreted,
    // fine off the per-token hot path).
    "events_ewma" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("""aggregate(
                 |  slice(array_sort(collect_list(struct(ts, event_id, cents))), 2, size(collect_list(cents))),
                 |  element_at(array_sort(collect_list(struct(ts, event_id, cents))), 1).cents,
                 |  (acc, x) -> (acc + x.cents) div 2)"""
            .stripMargin.replace("\n", " ")).as("ewma_cents"))
        .orderBy("user_id")),

    // Seasonal-naive forecast eval over the daily event volume: forecast
    // for day d = actual at d−7, scored as MASE-scaled errors (Hyndman &
    // Koehler '06) — each |e_d| scaled by the in-sample one-step naive
    // MAE, the standard scale-free forecast baseline every real model
    // must beat. Lags via exact day-arithmetic self-joins (no density
    // assumption, no window), denominator rides as a one-row broadcast;
    // counts are integers so scaled errors are exact in milli-units.
    "events_forecast_snaive" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("actual"))
      val f = daily.select((col("day") + 7).as("day"), col("actual").as("forecast"))
      val p = daily.select((col("day") + 1).as("day"), col("actual").as("prev"))
      val j = daily.join(f, Seq("day"), "left").join(p, Seq("day"), "left")
      val naive = j.where(col("prev").isNotNull)
        .agg(sum(abs(col("actual") - col("prev"))).as("sum_naive"),
          count(lit(1)).as("n_naive"))
      j.where(col("forecast").isNotNull)
        .crossJoin(broadcast(naive))
        .select(col("day"), col("actual"), col("forecast"),
          abs(col("actual") - col("forecast")).as("abs_err"),
          expr("(1000 * abs(actual - forecast) * n_naive) div sum_naive")
            .as("scaled_err_milli"))
        .orderBy("day")
    }),

    // CUSUM change-point scan over the daily event volume (Page '54):
    // cumulative sum of mean-deviations, peak |CUSUM| day = the change
    // point. Scaled by the day count so everything stays in exact
    // integers — cusum_t = Σ(n_i·D − T) = D·Σn_i − t·T — no fractional
    // mean, no float drift. The cumulative window is global but runs on
    // the DAILY aggregate (calendar-bounded, the post-aggregation
    // exemption GlobalWindowCheck encodes); the mean and the peak ride
    // as one-row broadcasts.
    "events_cusum" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = daily.agg(sum("n").as("tot"), count(lit(1)).as("days"))
      val cs = daily.crossJoin(broadcast(tot))
        .withColumn("cusum",
          sum(col("n") * col("days") - col("tot")).over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val peak = cs.agg(max(abs(col("cusum"))).as("mx"))
      cs.crossJoin(broadcast(peak))
        .select(col("day"), col("n"), col("cusum"),
          (abs(col("cusum")) === col("mx")).as("is_changepoint"))
        .orderBy("day")
    }),

    // Collocation mining: top word pairs by a linear-scale PMI proxy —
    // cab·N·10⁴ div (c1·c2), the integer cross-multiplication of
    // p(ab)/(p(a)p(b)) — so ordering is exact with no logs or floats
    // (log is monotone: the top-k set is identical to true PMI's).
    // min-count 5 kills the hapax noise, the classic collocation gate.
    // One bigram shuffle; unigram side is vocabulary-bounded (broadcast
    // joins); at 100 TB cab·N·10⁴ wants DECIMAL(38) but the topology
    // stands.
    "text_pmi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("a"))
      val toks = docs.select(explode(col("a")).as("w"))
      val uni = toks.groupBy("w").agg(count(lit(1)).as("cw"))
      val n = toks.agg(count(lit(1)).as("n"))
      val bg = docs.where(size(col("a")) >= 2)
        .select(explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("z.l").as("w1"), col("z.r").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      bg.where(col("cab") >= 5)
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("cab"),
          expr("cab * n * 10000 div (c1 * c2)").as("pmi_bp"))
        .orderBy(col("pmi_bp").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // As-of join: even events ("trades") pick up the value of the latest
    // odd event ("quote") at-or-before their timestamp, per user.
    "q23_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val trades = e.where(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id"), col("ts"))
      val quotes = e.where(col("event_id") % 2 === 1)
        .select(col("user_id"), col("ts").as("q_ts"),
          col("event_id").as("q_id"), round(col("value"), 2).as("q_val"))
      graft.ops.AsOfJoin.asOf(trades, quotes, "user_id", "ts", "q_ts", Seq("q_id", "q_val"))
        .select(col("event_id"), col("asof_q_id"), col("asof_q_val"))
        .orderBy("event_id")
    }),

    // Last-touch attribution: each purchase credits the user's most
    // recent click/view at-or-before it, but only within a 24 h lookback
    // — otherwise 'direct'. Composes the as-of join (one exchange + one
    // per-key sort, see AsOfJoin) with a post-filter on the carried touch
    // timestamp; touches are pre-deduped per (user, µs) with a
    // deterministic max-id winner so equal-timestamp ties can never make
    // the pick order-dependent. µs resolution on both engines (NOTES:
    // DuckDB truncates parquet nanos to µs).
    "events_attribution" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      val touches = e.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), expr("ts div 1000").as("t_ts"),
          col("event_id").as("t_id"), col("event_type").as("t_type"))
        .groupBy("user_id", "t_ts")
        .agg(max(struct(col("t_id"), col("t_type"))).as("m"))
        .select(col("user_id"), col("t_ts"),
          col("m.t_id").as("t_id"), col("m.t_type").as("t_type"))
      val within = col("asof_t_ts").isNotNull &&
        col("ts_us") - col("asof_t_ts") <= 86400000000L
      graft.ops.AsOfJoin.asOf(purchases, touches, "user_id", "ts_us", "t_ts",
          Seq("t_id", "t_type", "t_ts"))
        .select(col("event_id"),
          when(within, col("asof_t_type")).otherwise(lit("direct")).as("channel"),
          when(within, col("asof_t_id")).as("touch_id"))
        .orderBy("event_id")
    }),

    // Product-quantization codes (Jégou et al. — the IVF-PQ index family's
    // second stage): 8 subspaces × 8 dims, 16 codewords per subspace from
    // deterministic seed vectors (k-means at deploy, same as IVF). Each
    // (vector, subspace) picks its nearest codeword — argmin as
    // min(struct(dist², code)) so ties break on the code id — giving a
    // 8-byte code per 256-byte vector (32× compression). The codebook is
    // a 128-row broadcast; distances are row-local folds over 8 elements.
    "embed_pq_codes" -> ((s, dir) =>
      pqAssign(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("m"), col("code"),
          round(col("d2"), 6).as("err_r6"))
        .orderBy("vec_id", "m")),

    // PQ TRAINING oracle row (VERDICT r11 #6): the integer-deterministic
    // twin of pqTrainCodebooks — int8-quantized corpus, round(mean)
    // codeword refresh (integer sums exact in double, IEEE division
    // correctly rounded, round half-away-from-zero in both engines, so
    // the codebook stays on an integer grid both engines agree on), two
    // Lloyd rounds over m=4 subspaces × k=4 codewords, then a full
    // re-encode against the trained book with each codeword pinned as
    // JSON. The oracle unrolls the same two rounds as materialized CTEs.
    "embed_pq_train" -> ((s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"),
          expr("transform(_q, x -> CAST(x AS FLOAT))").as("emb_q"))
      val cb = Similarity.pqTrainCodebooksInt(qv, "vec_id", "emb_q",
        m = 4, k = 4, iterations = 2, dim = 64)
      Similarity.pqEncode(qv, cb, "vec_id", "emb_q", dim = 64, m = 4)
        .join(broadcast(cb.select(col("m"), col("code"),
          to_json(expr("transform(cv, x -> CAST(x AS INT))")).as("codeword"))),
          Seq("m", "code"))
        .select(col("vec_id"), col("m"), col("code").cast("long").as("code"),
          col("codeword"))
        .orderBy("vec_id", "m")
    }),

    // The FLOAT trainer (pqTrainCodebooks, NO mean rounding — the actual
    // production path, spec-only until now) pinned by oracle through the
    // integer-grid projection: integer inputs make every Lloyd mean an
    // exact integer SUM with one correctly-rounded division (identical
    // doubles cross-engine, order-free), the float cast of the mean is
    // the same IEEE rounding in both engines, and the check hashes the
    // ASSIGNMENTS — a discrete projection stable under the remaining
    // ulp-level d2 shape differences — not the off-grid centroids.
    "embed_pq_train_assign" -> ((s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"),
          expr("transform(_q, x -> CAST(x AS FLOAT))").as("emb_q"))
      val cb = Similarity.pqTrainCodebooks(qv, "vec_id", "emb_q",
        m = 4, k = 4, iterations = 2, dim = 64)
      Similarity.pqEncode(qv, cb, "vec_id", "emb_q", dim = 64, m = 4)
        .select(col("vec_id"), col("m"), col("code").cast("long").as("code"))
        .orderBy("vec_id", "m")
    }),

    // PQ asymmetric distance (ADC) top-k — the IVF-PQ SEARCH path: each
    // query scores corpus vectors by the distance from its own subvectors
    // to each vector's ASSIGNED codewords (codes + codebook only, never
    // the corpus floats). SHUFFLE-FREE search: one row per vector with its
    // 8-code array, the per-query 8×16 distance LUT broadcast (Jégou's
    // table), adc² summed row-locally via zip_with in m order (so the
    // float fold is partition-order-free), ranked by the map-side-pruning
    // top-k exec. Nothing corpus×queries-sized is ever exchanged — the
    // previous shape shuffled one row per (vector, subspace, query) into a
    // wide groupBy, which at 100 TB is corpus × queries rows of shuffle.
    // AnnRecallSpec pins ADC recall vs exact.
    "embed_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val codes = pqAssign(emb).groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, code))), s -> s.code)")
          .as("codes"))
      val cb = pqSubs(emb.where(col("vec_id") < 16), "code", "cb_sub")
      val q = pqSubs(emb.where(col("vec_id") < 5), "q_id", "q_sub")
      val lut = q.join(cb, "m")
        .select(col("q_id"), col("m"), col("code"), pqD2("q_sub", "cb_sub").as("d2"))
        .groupBy("q_id", "m")
        .agg(expr("transform(array_sort(collect_list(struct(code, d2))), s -> s.d2)")
          .as("lut_m"))
        .groupBy("q_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, lut_m))), s -> s.lut_m)")
          .as("luts"))
      val scored = codes.crossJoin(broadcast(lut))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          expr("""aggregate(zip_with(codes, luts, (c, l) -> element_at(l, CAST(c + 1 AS INT))),
                 | CAST(0 AS DOUBLE), (a, x) -> a + x)"""
            .stripMargin.replace("\n", " ")).as("adc2"))
      graft.ops.TopK.topKPerGroupExecRanked(scored, Seq("q_id"),
          Seq(("adc2", false), ("neighbor_id", false)), 5, "rank")
        .select(col("q_id"), col("neighbor_id"),
          round(col("adc2"), 6).as("adc2_r6"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Top user journeys: each user's first-3-event path (ts order, id
    // tiebreak) counted across users — the sequence-mining companion of
    // q36's funnel and events_markov's transitions. Per-user state is 3
    // rows via the ranked filter; paths aggregate on a bounded key space.
    "events_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 3)
        .groupBy("user_id")
        .agg(concat_ws(">",
          expr("transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type)"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(15)
    }),

    // Percentile winsorization: clip per-lang doc lengths at element-valued
    // p05/p95 (rank-index selection — integers end to end, no interpolated
    // floats), then report the clipped mean ×100 as an integer rational.
    // The outlier-robust preprocessing step before any length-based gate.
    // Size-dispatched exact selection (ops/Quality.winsorizedClipMeans):
    // per-lang rank window at test scale, histogram-CDF selection above
    // 10M rows — same values, nothing row-sized sorted in one task
    // (WinsorPathSpec proves path agreement).
    "quality_winsorize" -> ((s, dir) =>
      graft.ops.Quality.winsorizedClipMeans(
          t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
          "lang", "n_chars", "doc_id")
        .orderBy("lang")),

    // Theta-sketch set operations: distinct-user overlap/union/difference
    // of two event cohorts from mergeable sketches (HLL can union but
    // never intersect — theta is the set-operation family). Output is the
    // sketch_distinct pattern: exact values + in-tolerance flags; at
    // fixture cardinalities theta runs in exact mode so flags assert
    // estimate == exact.
    "sketch_theta_overlap" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .where(col("event_type").isin("click", "view"))
        .select(col("event_type"), col("user_id"))
      val prof = graft.ops.Sketch.thetaProfile(e, "user_id", "event_type")
      val est = prof.where(col("event_type") === "click").select(col("theta").as("ta"))
        .crossJoin(broadcast(
          prof.where(col("event_type") === "view").select(col("theta").as("tb"))))
        .select(
          graft.ops.Sketch.thetaIntersectEst(col("ta"), col("tb")).as("est_i"),
          graft.ops.Sketch.thetaUnionEst(col("ta"), col("tb")).as("est_u"),
          graft.ops.Sketch.thetaDiffEst(col("ta"), col("tb")).as("est_d"))
      val exact = e.groupBy("user_id").agg(
          max((col("event_type") === "click").cast("int")).as("c"),
          max((col("event_type") === "view").cast("int")).as("v"))
        .agg(sum(col("c") * col("v")).cast("long").as("exact_overlap"),
          count(lit(1)).as("exact_union"),
          sum(col("c") * (lit(1) - col("v"))).cast("long").as("exact_diff"))
      exact.crossJoin(broadcast(est)).select(
        col("exact_overlap"),
        graft.ops.Sketch.withinTol(col("est_i"), col("exact_overlap"), 0.02).as("overlap_ok"),
        col("exact_union"),
        graft.ops.Sketch.withinTol(col("est_u"), col("exact_union"), 0.02).as("union_ok"),
        col("exact_diff"),
        graft.ops.Sketch.withinTol(col("est_d"), col("exact_diff"), 0.02).as("diff_ok"))
    }),

    // Fuzzy entity matching: top-3 Jaro-Winkler name neighbors per part
    // within (brand, size) blocks — the blocked record-linkage shape
    // (never an all-pairs join). jaro_winkler is the native codegen
    // expression, empirically BIT-EXACT vs DuckDB's rapidfuzz-lineage
    // implementation on 285k name pairs (JaroWinklerSpec pins cases),
    // so ranking on the raw double is deterministic cross-engine.
    "fuzzy_name_match" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey").as("k"),
        col("p_brand").as("brand"), col("p_size").as("sz"), col("p_name").as("nm"))
      val pairs = p.as("a").join(p.as("b"),
          col("a.brand") === col("b.brand") && col("a.sz") === col("b.sz") &&
            col("a.k") =!= col("b.k"))
        .select(col("a.k").as("part_a"), col("b.k").as("part_b"),
          expr("jaro_winkler(a.nm, b.nm)").as("jw"))
      // map-side pruning top-k exec instead of a full row_number window
      // over the blocked pair table (prunes before the exchange)
      graft.ops.TopK.topKPerGroupExecRanked(pairs, Seq("part_a"),
          Seq(("jw", true), ("part_b", false)), 3, "rank")
        .select(col("part_a"), col("part_b"),
          round(col("jw"), 4).as("jw_r4"), col("rank"))
        .orderBy("part_a", "rank")
    }),

    // Fellegi-Sunter record-linkage scoring: blocked pairs scored by
    // per-field agreement log-odds weights (integer, pinned) — name via
    // the native jaro_winkler (byte-exact cross-engine), mfgr/container
    // as equality flags — then classified match / possible / non-match
    // by threshold. The probabilistic-linkage decision layer above
    // fuzzy_name_match's similarity ranking; blocking keeps the pair
    // space per-block-quadratic, never corpus-quadratic.
    "link_fellegi_sunter" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey").as("k"),
        col("p_brand").as("brand"), col("p_size").as("sz"), col("p_name").as("nm"),
        col("p_type").as("typ"), col("p_retailprice").as("price"))
      val pairs = p.as("a").join(p.as("b"),
          col("a.brand") === col("b.brand") && col("a.sz") === col("b.sz") &&
            col("a.k") < col("b.k"))
        .select(col("a.k").as("part_a"), col("b.k").as("part_b"),
          expr("jaro_winkler(a.nm, b.nm)").as("jw"),
          (col("a.typ") === col("b.typ")).as("m_eq"),
          (abs(col("a.price") - col("b.price")) <= 50.0).as("c_eq"))
      val score = when(col("jw") >= 0.9, lit(40)).otherwise(lit(-10)) +
        when(col("m_eq"), lit(15)).otherwise(lit(-15)) +
        when(col("c_eq"), lit(10)).otherwise(lit(-5))
      pairs.select(col("part_a"), col("part_b"), round(col("jw"), 4).as("jw_r4"),
          score.cast("int").as("score"),
          when(score >= 45, lit("match")).when(score >= 20, lit("possible"))
            .otherwise(lit("non-match")).as("decision"))
        .where(col("score") >= 20)
        .orderBy("part_a", "part_b")
    }),

    // Gini coefficient of user activity (concentration in one number):
    // G·1e4 = (2·Σ rank·x − (n+1)·Σx) · 1e4 div (n·Σx) over ascending
    // per-user event counts — pure integer arithmetic on globalRowNumber
    // ranks, so the coefficient is exact. The concentration metric behind
    // "do a few users dominate the stream".
    "events_gini" -> ((s, dir) => {
      val cnt = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("x"))
      val ranked = graft.ops.Rank.globalRowNumber(cnt,
        Seq(col("x"), col("user_id")))
      ranked
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("rn") * col("x")).as("srx"))
        .select(
          expr("CAST((2 * srx - (n + 1) * sx) * 10000 div (n * sx) AS BIGINT)")
            .as("gini_bp"),
          col("n").as("n_users"))
    }),

    // Embedding-distribution drift monitor: per label, cosine between the
    // centroids of two cohorts (vec_id parity — at deploy: two time
    // windows). Every float reduction is an explicitly ORDERED fold
    // (vec_id order per cell, index order for the dot), so the doubles
    // reproduce bit-for-bit; drift < 1 means the cohorts' mean vectors
    // diverge — the embedding-pipeline regression alarm.
    "embed_drift" -> ((s, dir) => {
      def dotf(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (p, q) -> p + q)")
      val pe = t(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("par"), col("vec_id"),
          posexplode(col("embedding")))
      val cell = pe.groupBy("label", "par", "pos")
        .agg(expr("""aggregate(array_sort(collect_list(struct(vec_id, col))),
               | CAST(0 AS DOUBLE), (a, x) -> a + CAST(x.col AS DOUBLE))"""
            .stripMargin.replace("\n", " ")).as("sv"),
          count(lit(1)).as("nv"))
        .select(col("label"), col("par"), col("pos"), (col("sv") / col("nv")).as("cv"))
      val cent = cell.groupBy("label", "par")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
      val a = cent.where(col("par") === 0).select(col("label"), col("c").as("ca"))
      val b = cent.where(col("par") === 1).select(col("label"), col("c").as("cb"))
      a.join(b, "label")
        .select(col("label"),
          (round(dotf("ca", "cb") / (sqrt(dotf("ca", "ca")) * sqrt(dotf("cb", "cb"))), 4)
            + lit(0.0)).as("drift_cos_r4"))
        .orderBy("label")
    }),

    // Welch two-sample t statistic per event_type (A/B analytics): cohorts
    // = user_id parity; sufficient stats (n, Σx, Σx²) accumulate as
    // DECIMAL so the floats appear only in the final t formula — exact,
    // partition-order-free, and partial-aggregable (the 100 TB shape for
    // any experiment readout).
    // Mann-Whitney U (Wilcoxon rank-sum) with the tie correction — the
    // NONPARAMETRIC A/B test the t-test cannot replace on skewed
    // metrics: compares purchase vs click value distributions rank-wise.
    // Entirely exact integer arithmetic: values land on a cent grid, so
    // ranking is a value-keyed count table; DOUBLED average ranks
    // (2·cumBelow + cnt + 1) stay integer under ties; the 5% two-sided
    // normal approximation cross-multiplies to
    //   3·N(N−1)·(U2 − nA·nB)²·10⁴ > 38416·nA·nB·T,
    //   T = (N+1)·N(N−1) − Σ(t³−t),
    // evaluated in DECIMAL(38,0) (HUGEINT in the oracle) — no float, no
    // sqrt, so the verdict bit is hashable cross-engine. Range
    // contract: the left side grows ~N⁶·10⁴ in the worst case, so the
    // exact-integer verdict is valid to N = nA+nB ≈ 5·10⁵ (DECIMAL(38)/
    // HUGEINT ceiling; fixture N ≈ 4·10⁴). Past that, sample (the test
    // has long since saturated) or move the final compare to the double
    // z-score and accept the 1.96-boundary ulp. The rank window runs
    // over the AGGREGATED distinct-cent-value table (bounded by the
    // value domain — the GlobalWindowCheck exemption); everything else
    // is key-local aggregation into one row.
    "events_mannwhitney" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val byV = e.groupBy("v").agg(
        count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", 1)).as("cnt_a"))
      val w = Window.orderBy("v")
      val ranked = byV.select(col("cnt"), col("cnt_a"),
        coalesce(sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("below"))
      ranked.agg(
          sum("cnt_a").as("n_a"),
          sum(col("cnt") - col("cnt_a")).as("n_b"),
          sum(col("cnt_a") * (lit(2L) * col("below") + col("cnt") + lit(1L)))
            .as("r2a"),
          // tie cubes in DECIMAL from the first factor (a 2.1M-row value
          // bin would wrap cnt³ in 64-bit)
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("ties"))
        .select(col("n_a"), col("n_b"),
          (col("r2a") - col("n_a") * (col("n_a") + lit(1L))).as("u2_a"),
          col("ties"))
        .select(col("n_a"), col("n_b"), col("u2_a"),
          // every multi-factor product casts a FACTOR (not the finished
          // product) to DECIMAL, so nothing is squared or cubed in
          // 64-bit first — the pre-cast form wrapped past ~80k rows per
          // group (|u2−nAnB|² > 2⁶³) exactly where the no-float claim
          // matters
          expr("""CAST(3 * (n_a + n_b) AS DECIMAL(38,0)) * (n_a + n_b - 1)
                 |  * CAST(u2_a - n_a * n_b AS DECIMAL(38,0))
                 |  * CAST(u2_a - n_a * n_b AS DECIMAL(38,0))
                 |  * 10000
                 | >
                 | CAST(38416 * n_a AS DECIMAL(38,0)) * n_b *
                 |   (CAST(n_a + n_b + 1 AS DECIMAL(38,0)) * (n_a + n_b)
                 |     * (n_a + n_b - 1) - ties)"""
            .stripMargin.replace("\n", " ")).as("significant"))
        .orderBy("n_a")
    }),

    "events_ab_ttest" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        (col("user_id") % 2).as("cohort"), col("value"))
      val stats = e.groupBy("event_type", "cohort").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(24,6)")).as("sx"),
        sum((col("value") * col("value")).cast("decimal(30,10)")).as("sxx"))
      val a = stats.where(col("cohort") === 0)
        .select(col("event_type"), col("n").as("na"), col("sx").as("sxa"), col("sxx").as("sxxa"))
      val b = stats.where(col("cohort") === 1)
        .select(col("event_type"), col("n").as("nb"), col("sx").as("sxb"), col("sxx").as("sxxb"))
      a.join(b, "event_type")
        .select(col("event_type"), col("na"), col("nb"),
          expr("""round(
                 | (CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb) /
                 | sqrt(
                 |  ((CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / na) / (na - 1)) / na +
                 |  ((CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / nb) / (nb - 1)) / nb)
                 | , 4) + 0.0""".stripMargin.replace("\n", " ")).as("t_r4"))
        .orderBy("event_type")
    }),

    // CUPED variance reduction (Deng et al. '13) — THE standard A/B
    // sensitivity trick: regress the experiment metric on a
    // pre-experiment covariate (each user's first-10-days activity) and
    // analyze y − θx instead of y. θ is pooled cov/var; per-cohort
    // var(y−θx) expands algebraically so every aggregate is an exact
    // integer sum and all float math is row-local scalar arithmetic on
    // those sums (the events_chisq discipline — no float folds, both
    // engines IEEE-identical), rounded only at output.
    "events_ab_cuped" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select((col("user_id") % 2).as("cohort"), col("user_id"),
          expr("ts div 86400000000000").as("day"))
      val minDay = e.agg(min("day").as("min_day"))
      val perUser = e.crossJoin(broadcast(minDay))
        .groupBy("cohort", "user_id")
        .agg(sum(when(col("day") < col("min_day") + 10, 1L).otherwise(0L)).as("x"),
          sum(when(col("day") >= col("min_day") + 10, 1L).otherwise(0L)).as("y"))
      val pc = perUser.groupBy("cohort").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val pooled = pc.agg(sum("n").as("np"), sum("sx").as("sxp"),
        sum("sy").as("syp"), sum("sxx").as("sxxp"), sum("sxy").as("sxyp"))
      val TH = "((CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE) / np) / (CAST(sxxp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE) / np))"
      val VARY = "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
      val VARX = "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))"
      val COV = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
      val VADJ = s"$VARY + $TH * $TH * $VARX - 2 * $TH * $COV"
      pc.crossJoin(broadcast(pooled))
        .select(col("cohort"), col("n"),
          expr("round(CAST(sy AS DOUBLE) / n, 4) + 0.0").as("mean_y_r4"),
          expr(s"round($TH, 4) + 0.0").as("theta_r4"),
          expr(s"round($VARY, 4) + 0.0").as("var_y_r4"),
          expr(s"round($VADJ, 4) + 0.0").as("var_adj_r4"),
          expr(s"CAST(round(10000 * (1 - ($VADJ) / $VARY), 0) AS BIGINT)")
            .as("reduction_bp"))
        .orderBy("cohort")
    }),

    // Chi-square contingency cells: event_type × weekday observed counts
    // with per-cell chi contribution (O−E)²/E. E = rt·ct/N is row-local
    // double arithmetic over exact integer marginals — no float folds —
    // so every cell reproduces bit-for-bit; the reader sums contributions
    // for the statistic. Marginals are tiny broadcast aggregates.
    "events_chisq" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"),
          // ts is INT64 nanos (GraftSession nanosAsLong); UTC session
          expr("dayofweek(CAST(timestamp_micros(ts div 1000) AS DATE))").as("dow"))
      val cells = e.groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
      val rowT = e.groupBy("event_type").agg(count(lit(1)).as("rt"))
      val colT = e.groupBy("dow").agg(count(lit(1)).as("ct"))
      val n = e.agg(count(lit(1)).as("_n"))
      cells.join(broadcast(rowT), "event_type").join(broadcast(colT), "dow")
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("dow"), col("obs"),
          round(
            pow(col("obs").cast("double")
              - col("rt").cast("double") * col("ct").cast("double") / col("_n").cast("double"), 2)
            / (col("rt").cast("double") * col("ct").cast("double") / col("_n").cast("double")), 6)
            .as("chi_r6"))
        .orderBy("event_type", "dow")
    }),

    // Keyed pseudonymization (GDPR-style): user ids replaced by a salted
    // SHA-256 token — deterministic (joinable across tables pseudonymized
    // with the same key), irreversible without the salt. Narrow
    // projection, zero shuffles.
    "privacy_pseudonymize" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          substring(sha2(concat(lit("k1:"), col("user_id").cast("string")), 256), 1, 16)
            .as("user_pseudo"))
        .orderBy("event_id")),

    // TPC-H classics over the fixture subset — the recognizable relational
    // benchmark shapes. Money sums accumulate as DECIMAL(20,6) per the
    // q45 pattern (order-independent, no float drift); doubles only at
    // the rounded output surface. Joins stay hint-free: dims broadcast by
    // AQE at this scale, shuffle-join at 1000× — both correct.
    // Q1 sums run in integer MICRO-UNITS (round(x·1e6) as BIGINT), not
    // DECIMAL(20,6): precision 20 is past Spark's compact-long decimal
    // range (18), so the decimal spelling pays a BigDecimal object per
    // row in the hottest scan-agg of the suite (measured 1.37 s vs
    // ~0.3 s at sf0.1). Long sums stay exact (≤ 2e11 micro/row, ≤ 1.2e17
    // per group ≪ 2^63) and identical cross-engine; the final 2-dp round
    // happens in INTEGER space ((Σ + 5000) div 10⁴, half-up) and only the
    // ≤ 1.2e13 centi-unit result — exact in a double — is cast out.
    "tpch_q1" -> ((s, dir) => {
      def mu(c: Column) = round(c * lit(1000000)).cast("long")
      def out(c: String) = expr(s"CAST((($c + 5000) div 10000) AS DOUBLE) / 100")
      // r17: widen measured ~30% SLOWER here (paired A/B) — the filtered
      // partial aggregation absorbs the rows in the scan stage and the
      // added 7-column exchange never pays for itself
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(mu(col("l_quantity"))).as("_q"),
          sum(mu(col("l_extendedprice"))).as("_p"),
          sum(mu(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("_d"),
          sum(mu(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")))).as("_c"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          out("_q").as("sum_qty"), out("_p").as("sum_base_price"),
          out("_d").as("sum_disc_price"), out("_c").as("sum_charge"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "tpch_q3" -> ((s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      val cst = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cst, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // Q6: the one-row forecast-revenue filter-aggregate — pure scan +
    // pushed predicates, the simplest shape that must NOT shuffle.
    "tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(20,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n"))),

    // Q14: promo revenue share — conditional aggregation over one join,
    // integer-exact via cents (cross-engine decimal-promotion rule).
    "tpch_q14" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          expr("""CAST(round(sum(CASE WHEN p_type = 'PROMO'
                 | THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
                 | ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("promo_cents"),
          expr("CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT)")
            .as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          expr("CAST(promo_cents * 10000 div total_cents AS BIGINT)").as("promo_bp"))),

    "tpch_q10" -> ((s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_returnflag") === "R")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "tpch_q18" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("_q")).where(col("_q") > 180)
        .select(col("l_orderkey").as("_big_ok"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("_big_ok"), "left_semi")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    "tpch_q5" -> ((s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      val asia = t(s, dir, "region").where(col("r_name") === "ASIA")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(asia, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Q4: order-priority checking — the EXISTS shape. The fixture has no
    // l_commitdate/l_receiptdate, so "late" is adapted to l_shipdate more
    // than 60 days after o_orderdate (pure timestamp comparison — exact on
    // both engines, no date-diff rounding). Spark plans the EXISTS as a
    // left-semi hash join on l_orderkey with the non-equi lateness residual.
    "tpch_q4" -> ((s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")),

    // Q7: volume shipping between two nations — the classic two-role
    // nation join (supplier nation × customer nation, both directions).
    // Both nation dims are 25 rows → broadcast; the only shuffle is the
    // final 2×2×years group.
    "tpch_q7" -> ((s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("_sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("_cn_key"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q12: shipping-mode priority split — the CASE-conditional aggregation
    // shape. No l_shipmode in the fixture: lines are bucketed by shipping
    // DELAY instead (timestamp-interval comparisons, engine-exact), and the
    // high/low split keeps Q12's priority CASE verbatim.
    "tpch_q12" -> ((s, dir) => {
      val hi = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("ship_bucket",
          when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"), "SLOW")
            .when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"), "MEDIUM")
            .otherwise("FAST"))
        .groupBy("ship_bucket")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("ship_bucket")
    }),

    // Q13: customer order-count distribution — the left-outer-join +
    // double aggregation shape (customers with zero orders must survive
    // into the c_count=0 bucket). The o_comment NOT LIKE filter is adapted
    // to excluding 5-LOW priority orders (the fixture has no comments).
    "tpch_q13" -> ((s, dir) => {
      val ord = t(s, dir, "orders").where(col("o_orderpriority") =!= "5-LOW")
      t(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q15: top supplier — the view + scalar-max shape. Revenue totals stay
    // DECIMAL (never rounded doubles) so the `= max` equality is exact on
    // both engines; the one-row max is a broadcast join, not a window.
    "tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,6)")).as("_total"))
      val top = rev.agg(max(col("_total")).as("_max"))
      t(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("_total") === col("_max"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("_total"), 2).cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // Q17: small-quantity-order revenue — the correlated scalar-subquery
    // shape (per-part average), decorrelated into an aggregate + join as
    // Catalyst itself would. The 0.2·avg threshold is cross-multiplied to
    // 5·qty·n < sum_qty so the comparison is exact in integer-valued
    // doubles (no float-division ulp flips); p_container (absent) → p_brand.
    "tpch_q17" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("_pk"))
        .agg(sum("l_quantity").as("_sum_q"), count(lit(1)).as("_n_q"))
      li.join(t(s, dir, "part").where(col("p_brand") === "Brand#1"),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("_pk"))
        .where(col("l_quantity") * 5 * col("_n_q") < col("_sum_q"))
        .agg(expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))) * 100) AS BIGINT)")
          .as("total_cents"))
        .select(col("total_cents"),
          expr("total_cents div 7").as("avg_yearly_cents"))
    }),

    // Q19: discounted revenue — the OR-of-conjunctions shape. Each branch
    // pairs part predicates (brand, size) with lineitem predicates
    // (quantity); shipmode/shipinstruct (absent) are dropped. The partkey
    // equi-join stays a hash join; the disjunction is a post-join residual
    // the scan can still partially push (l_quantity ≤ 30 bounds all
    // branches).
    "tpch_q19" -> ((s, dir) => {
      def branch(b: String, sizeHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === b && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(branch("Brand#1", 10, 1, 11) || branch("Brand#2", 20, 10, 20) ||
          branch("Brand#3", 30, 20, 30))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // Q22: global sales opportunity — the NOT EXISTS + scalar-threshold
    // shape. No c_phone in the fixture: the country code is the nationkey
    // mod 5, "no orders" is scoped to the recent window (lapsed customers
    // — every fixture customer has SOME order), and the above-average-
    // balance test is cross-multiplied in integer cents (cents·n >
    // sum_cents) so the threshold is engine-exact.
    "tpch_q22" -> ((s, dir) => {
      val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
      val cust = t(s, dir, "customer").withColumn("_cents", cents)
      val stats = cust.where(col("_cents") > 0)
        .agg(sum("_cents").as("_sum_c"), count(lit(1)).as("_n_c"))
      cust.join(broadcast(stats))
        .where(col("_cents") * col("_n_c") > col("_sum_c"))
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("_cents").as("totacctbal_cents"))
        .orderBy("cntrycode")
    }),

    // Q2: minimum-cost supplier — the correlated-min subquery shape,
    // decorrelated into a per-part min + equality join. The fixture has no
    // partsupp: the part↔supplier catalog is DISTINCT (l_partkey,
    // l_suppkey) from lineitem, and "cost" is s_acctbal. The min-equality
    // compares STORED doubles (no arithmetic) so it is engine-exact.
    "tpch_q2" -> ((s, dir) => {
      val europe = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("_nk"), col("n_name"))
      val cat = t(s, dir, "lineitem")
        .select(col("l_partkey").as("_pk"), col("l_suppkey").as("_sk")).distinct()
        .join(t(s, dir, "supplier"), col("_sk") === col("s_suppkey"))
        .join(broadcast(europe), col("s_nationkey") === col("_nk"))
      val minCost = cat.groupBy(col("_pk").as("_mpk"))
        .agg(min(col("s_acctbal")).as("_min_bal"))
      cat.join(minCost, col("_pk") === col("_mpk") && col("s_acctbal") === col("_min_bal"))
        .join(t(s, dir, "part")
          .where(col("p_size") === 15 && col("p_type") === "LARGE"),
          col("_pk") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // Q8: national market share — share of a target nation's revenue
    // inside a region+type market per year. The share is emitted in basis
    // points via integer division of cents (the q14 promo_bp rule) so no
    // float division crosses the engine boundary.
    "tpch_q8" -> ((s, dir) => {
      val dec20 = "decimal(20,6)"
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("_ck"))
      val suppNat = t(s, dir, "nation")
        .select(col("n_nationkey").as("_snk"), col("n_name").as("_supp_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("_ck"), "left_semi")
        .join(broadcast(t(s, dir, "part").where(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("_snk"))
        .withColumn("_vol", (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec20))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          expr("CAST(round(sum(CASE WHEN _supp_nation = 'NATION_5' THEN _vol ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT)")
            .as("nation_cents"),
          expr("CAST(round(sum(_vol) * 100) AS BIGINT)").as("total_cents"))
        .select(col("o_year"), col("nation_cents"), col("total_cents"),
          expr("nation_cents * 10000 div total_cents").as("mkt_share_bp"))
        .orderBy("o_year")
    }),

    // Q9: product-type profit — profit per supplier nation per order year
    // over 'red' parts. No ps_supplycost: cost is proxied at 10% of
    // p_retailprice per unit, computed inside ONE double expression before
    // the decimal cast (identical operation order on both engines).
    "tpch_q9" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").where(col("p_name").like("%red%"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .withColumn("_amount",
          (col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("p_retailprice") * col("l_quantity") * lit(0.1)).cast("decimal(20,6)"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("_amount")), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)),

    // Q11: important stock — the HAVING-above-global-fraction shape. No
    // partsupp: per-part "value" is revenue via NATION_7 suppliers, and the
    // 0.1% threshold is the integer cross-product value_cents·1000 >
    // total_cents (scalar-subquery total rides a one-row broadcast).
    "tpch_q11" -> ((s, dir) => {
      val n7 = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").where(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("_sk"))
      val perPart = t(s, dir, "lineitem")
        .join(broadcast(n7), col("l_suppkey") === col("_sk"), "left_semi")
        .groupBy("l_partkey")
        .agg(expr("CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT)")
          .as("value_cents"))
      val total = perPart.agg(sum("value_cents").as("_total_cents"))
      perPart.join(broadcast(total))
        .where(col("value_cents") * 1000 > col("_total_cents"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("l_partkey"))
    }),

    // Q16: parts/supplier relationship count — count DISTINCT suppliers
    // per (brand, type, size) bucket, excluding a brand and excluding
    // "complaint" suppliers via the NOT-IN-subquery shape (adapted to
    // negative account balance; the fixture has no comments).
    "tpch_q16" -> ((s, dir) => {
      val bad = t(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("_bad_sk"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(t(s, dir, "part")
          .where(col("p_brand") =!= "Brand#5" && col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("_bad_sk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // Q20: potential part promotion — the nested-IN + correlated-aggregate
    // shape: suppliers who shipped more than 60 units of any 'red' part
    // in 1996 (the ps_availqty half-stock test is adapted to a shipped-
    // quantity threshold; same group-by-pair + HAVING decorrelation).
    "tpch_q20" -> ((s, dir) => {
      val redParts = t(s, dir, "part").where(col("p_name").like("red%"))
        .select(col("p_partkey").as("_rpk"))
      val heavy = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(redParts), col("l_partkey") === col("_rpk"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum("l_quantity").as("_q"))
        .where(col("_q") > 60)
        .select(col("l_suppkey").as("_hsk")).distinct()
      t(s, dir, "supplier")
        .join(heavy, col("s_suppkey") === col("_hsk"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }),

    // Q21: suppliers who kept orders waiting — the EXISTS + NOT EXISTS
    // double self-join shape on lineitem: NATION_3 suppliers whose line
    // shipped >90 days after the order date on a finished multi-supplier
    // order where NO other supplier was that late. Lateness is a pure
    // timestamp-interval comparison (no receipt/commit dates in the
    // fixture).
    "tpch_q21" -> ((s, dir) => {
      val late = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val anyLine = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("_ok2"), col("l_suppkey").as("_sk2"))
      val otherLate = late.select(col("l_orderkey").as("_ok3"), col("l_suppkey").as("_sk3"))
      late
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation").where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(anyLine, col("l_orderkey") === col("_ok2") && col("l_suppkey") =!= col("_sk2"),
          "left_semi")
        .join(otherLate, col("l_orderkey") === col("_ok3") && col("l_suppkey") =!= col("_sk3"),
          "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // Dataset-card report: the (metric, dim, value) summary a corpus
    // release ships with — per-source doc/token counts, language mix,
    // exact-dup count, mean length — unioned tagged aggregates, every
    // value an integer. The per-source branch unpivots via stack so
    // docs+tokens ride one scan.
    "pipeline_dataset_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bySource = docs.groupBy("source").agg(count(lit(1)).as("n"),
          sum(size(split(col("text"), " "))).as("tok"))
        .select(expr("""stack(2, 'docs', source, CAST(n AS BIGINT),
                       | 'tokens', source, CAST(tok AS BIGINT))
                       | AS (metric, dim, value)""".stripMargin.replace("\n", " ")))
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .select(lit("docs_lang").as("metric"), col("lang").as("dim"),
          col("n").as("value"))
      val dup = docs.agg(
          (count(lit(1)) - countDistinct(md5(col("text")))).as("value"))
        .select(lit("exact_dup_docs").as("metric"), lit("all").as("dim"), col("value"))
      val meanc = docs.agg(
          expr("CAST(100 * sum(n_chars) div count(1) AS BIGINT)").as("value"))
        .select(lit("mean_chars_x100").as("metric"), lit("all").as("dim"), col("value"))
      bySource.unionByName(byLang).unionByName(dup).unionByName(meanc)
        .orderBy("metric", "dim")
    }),

    // Market-basket co-occurrence with lift: part pairs within an order
    // (canonical a < b), support counts and integer-basis-point lift =
    // 10000·N·c(a,b) div (c(a)·c(b)). Baskets are GROUP-shaped, so ONE
    // order-key aggregation builds the sorted basket arrays (collect_set
    // dedups (ok, pk) in the same pass) and the within-order pairs explode
    // ROW-LOCALLY from each array — no order-key self-join exchange, no
    // separate distinct pass (the labelprop adjacency-from-groups shape).
    // Pair volume per order is C(basket, 2), bounded by lineitems/order
    // (≤ 7 in this schema) — row-local explode, never a global cross
    // join. Marginals and the order count re-derive from the same lazily
    // persisted basket table. Top-20 pairs by support for a stable report.
    "orders_basket_lift" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = baskets.select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"))
          .as("p"))
        .select(col("p.pa"), col("p.pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cab"))
      val marg = baskets.select(explode(col("ps")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("cp"))
      val n = baskets.agg(count(lit(1)).as("n_orders"))
      // marginals are dimension-sized: no forced broadcast — AQE picks
      // broadcast vs shuffle by the actual build size at runtime
      pairs
        .join(marg.withColumnsRenamed(Map("pk" -> "pa", "cp" -> "ca")), "pa")
        .join(marg.withColumnsRenamed(Map("pk" -> "pb", "cp" -> "cb")), "pb")
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("cab"),
          expr("CAST(10000 * n_orders * cab div (ca * cb) AS BIGINT)").as("lift_bp"))
        .orderBy(col("cab").desc, col("pa"), col("pb")).limit(20)
    }),

    // Leakage-safe train/val/test split: hash the near-dup CLUSTER id,
    // not the doc id, so near-duplicates can never straddle train/test
    // (the eval-contamination failure mode of naive splits). Singletons
    // cluster as themselves via the left join + coalesce.
    "split_leakage_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
      val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
      val withCluster = docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      graft.ops.Sampling.trainValTestSplit(withCluster, "cluster_id")
        .orderBy("doc_id")
    }),

    // DSIR-style data selection (Xie et al. 2023 shape): score each doc
    // by the avg unigram log-likelihood RATIO between a target domain
    // (source = 'src0') and the raw corpus, add-one smoothed. Both
    // models are in-query count tables (vocab-bounded broadcasts); the
    // per-doc fold runs term-sorted so floats are partition-order-free
    // (the text_lm_score pattern). High score = looks like the target.
    "sample_dsir" -> ((s, dir) => {
      // toks feeds four consumers; left uncached — exchange reuse shares
      // the tokenization physically and caching measured slower (r16 A/B;
      // re-confirmed r17: persisting the per-doc term aggregate instead
      // of the stream measured ~2.5x slower — the materialization barrier
      // dominates at this size)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val raw = toks.groupBy("term").agg(count(lit(1)).as("rf"))
      val tgt = toks.where(col("source") === "src0")
        .groupBy("term").agg(count(lit(1)).as("tf"))
      val model = raw.join(tgt, Seq("term"), "left")
        .select(col("term"), col("rf"), coalesce(col("tf"), lit(0L)).as("tf"))
      val consts = raw.agg(sum("rf").as("rn"), count(lit(1)).as("v"))
        .crossJoin(toks.where(col("source") === "src0")
          .agg(count(lit(1)).as("tn")))
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .join(broadcast(model), "term")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"),
          expr("""aggregate(array_sort(collect_list(struct(term, c, tf, rf))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) *
                 |   (ln(cast(x.tf as double) + 1.0d) - ln(cast(x.rf as double) + 1.0d)))"""
            .stripMargin.replace("\n", " ")).as("_fold"))
        .crossJoin(broadcast(consts))
        .select(col("doc_id"), col("n_tok"),
          round(col("_fold") / col("n_tok").cast("double")
            + log(col("rn").cast("double") + col("v").cast("double"))
            - log(col("tn").cast("double") + col("v").cast("double")), 3)
            .plus(lit(0.0d)).as("dsir_r3"))  // −0.0 + 0.0 = +0.0 (IEEE), matches oracle
        .orderBy("doc_id")
    }),

    // Join-key skew report: top-10 heaviest keys with basis-point share —
    // the diagnosis that decides salting/AQE-skew settings. Grouped count,
    // one-row total broadcast, TakeOrderedAndProject for the top-k (never
    // a global sort).
    "profile_skew" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("_n"))))
        .select(col("user_id"), col("cnt"),
          expr("CAST(cnt * 10000 div _n AS INT)").as("share_bp"))
        .orderBy(col("cnt").desc, col("user_id")).limit(10)
    }),

    // RFM customer segmentation: recency/frequency/monetary quintiles.
    // Each quintile rank comes from the range-partitioned globalRowNumber
    // (never a single-task global window) and the tile is the explicit
    // integer rational 1 + (rn−1)·5 div n — identical arithmetic in the
    // oracle, no cross-engine ntile edge cases.
    "q50_rfm" -> ((s, dir) => {
      // the three quintile ranks fuse into ONE scalable rank pass: unpivot
      // the aggregate to (metric_idx, value, custkey) — each metric block
      // holds exactly n rows, so rank-within-metric = rn − (mi−1)·n — then
      // pivot the tiles back. One range exchange + one sample pass instead
      // of three of each (rank-of-rank-of-rank paid a full-width
      // checkpoint per stage on top).
      val m = graft.ops.Iterate.materialize(
        t(s, dir, "orders").groupBy("o_custkey").agg(
          max("o_orderdate").as("last_date"),
          count(lit(1)).as("freq"),
          round(sum("o_totalprice"), 2).as("monetary"))).df
      val long = m.select(col("o_custkey"), explode(array(
          struct(lit(1).as("mi"),
            unix_micros(col("last_date").cast("timestamp")).cast("double").as("v")),
          struct(lit(2).as("mi"), col("freq").cast("double").as("v")),
          struct(lit(3).as("mi"), col("monetary").as("v")))).as("x"))
        .select(col("o_custkey"), col("x.mi"), col("x.v"))
      val ranked = graft.ops.Rank.globalRowNumber(long,
        Seq(col("mi"), col("v").desc, col("o_custkey")))
      def tile(c: String) = expr(s"CAST(1 + (($c - 1) * 5) div _n AS INT)")
      val tiles = ranked.crossJoin(broadcast(m.agg(count(lit(1)).as("_n"))))
        .select(col("o_custkey"), col("mi"),
          tile("rn - (mi - 1) * _n").as("q"))
        .groupBy("o_custkey")
        .agg(max(when(col("mi") === 1, col("q"))).as("r_q"),
          max(when(col("mi") === 2, col("q"))).as("f_q"),
          max(when(col("mi") === 3, col("q"))).as("m_q"))
      m.join(tiles, "o_custkey")
        .select(col("o_custkey"), col("last_date"), col("freq"), col("monetary"),
          col("r_q"), col("f_q"), col("m_q"),
          concat(col("r_q").cast("string"), col("f_q").cast("string"),
            col("m_q").cast("string")).as("segment"))
        .orderBy("o_custkey")
    }),

    // Forward as-of: earliest quote at or after each trade — the other
    // merge_asof direction (lead-time / next-event attribution).
    "q48_asof_forward" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val trades = e.where(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id"), col("ts"))
      val quotes = e.where(col("event_id") % 2 === 1)
        .select(col("user_id"), col("ts").as("q_ts"),
          col("event_id").as("q_id"), round(col("value"), 2).as("q_val"))
      graft.ops.AsOfJoin.asOfForward(trades, quotes, "user_id", "ts", "q_ts", Seq("q_id", "q_val"))
        .select(col("event_id"), col("asof_q_id"), col("asof_q_val"))
        .orderBy("event_id")
    }),

    // PII-style scrubbing: pattern redaction + a count of replacements
    // (the audit trail a redaction pipeline must emit).
    "text_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_redacted"))
        .orderBy("doc_id")),

    "text_tokens_bpe" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe"))
        .orderBy("doc_id")),

    // ---- reference dataflow, end-to-end (SURVEY.md §2.1-2.4) ----

    "nt_parse" -> ((s, dir) =>
      FastIngest.parse(ntFromPart(t(s, dir, "part")))
        .select(col("subject"), col("predicate"), col("obj"))
        .orderBy("subject", "predicate", "obj")),

    // RDF shape report: per-predicate triple counts + distinct subjects —
    // the first profiling query anyone runs on an unknown RDF dump
    // (which predicates exist, at what density). One grouped agg over the
    // parsed stream; distinct-subject via pre-dedup (no Expand).
    "nt_predicate_stats" -> ((s, dir) => {
      val parsed = FastIngest.parse(ntFromPart(t(s, dir, "part")))
        .select(col("predicate"), col("subject"))
      val tri = parsed.groupBy("predicate").agg(count(lit(1)).as("n_triples"))
      val subj = parsed.distinct()
        .groupBy("predicate").agg(count(lit(1)).as("n_subjects"))
      tri.join(subj, "predicate").orderBy("predicate")
    }),

    // P5 quarantine: the malformed lines parse drops, surfaced as a side
    // channel (the demo corpus injects 'junk line N' rows — exactly those
    // must appear here, and nothing else).
    "nt_quarantine" -> ((s, dir) =>
      FastIngest.quarantine(ntFromPart(t(s, dir, "part")))
        .select(col("line"))
        .orderBy("line")),

    "fast_docs" -> ((s, dir) =>
      // widen + eager materialize together (VERDICT r16 #3): the one-split
      // fixture parse runs ONCE, parallel, in its own job; consumers read
      // the checkpoint (r16 measured widen-without-materialize 2× slower)
      FastIngest.termDocs(graft.ops.Iterate.materialize(FastIngest.project(FastIngest.parse(
          DemoCorpus.ntFromPart(t(s, dir, "part"), widen = true)
            .select(col("line"), lit("Topical").as("doc_type"))))).df)
        .select(col("_id"), col("fast"), col("type"), col("prefLabel"),
          to_json(col("altLabel")).as("altLabel"),
          to_json(col("sameAsLc")).as("sameAsLc"),
          to_json(col("sameAsViaf")).as("sameAsViaf"),
          to_json(col("normalized")).as("normalized"))
        .orderBy("_id")),

    "viaf_update" -> ((s, dir) => {
      // widen: the agent pipeline reads the fragment stream exactly once,
      // so parallelizing the one-split fixture parse is a pure win here
      // (see DemoCorpus.ntFromPart; 2.4 → 1.3 s interleaved A/B)
      val fragments = FastIngest.project(FastIngest.parse(
        DemoCorpus.ntFromPart(t(s, dir, "part"), widen = true)))
      val sup = t(s, dir, "supplier")
      val viaf = sup.select(
        concat(lit("v"), col("s_suppkey")).as("_id"),
        (col("s_suppkey") * 7).cast("string").as("viaf"),
        concat(lit("lc"), col("s_suppkey")).as("lcId"),
        when(col("s_suppkey") % 5 === 0, array(lit(9999))).as("fast"))
      FastIngest.viafUpdate(FastIngest.agentOtherIds(fragments), viaf)
        .select(col("_id"), col("viaf"), col("lcId"), to_json(col("fast")).as("fast"))
        .orderBy("_id")
    }),

    // ---- dedup / similarity / text analysis (LLM-pipeline ops) ----

    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("keep_id")),

    "dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
        .orderBy("a_id", "b_id")),

    // Per-doc nearest near-duplicates: symmetrized LSH candidate pairs →
    // top-3 per doc by estimated Jaccard via the custom two-phase exec
    // (map-side pruned; the ranking window sees ≤ 3 rows per doc) — the
    // "show me this doc's closest copies" review surface.
    "dedup_topk_similar" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
      // symmetrize by exploding both directions of each verified pair —
      // a union of two selects over `pairs` would recompute the banded
      // candidate join (the expensive subtree) twice
      val sym = pairs.select(explode(array(
          struct(col("a_id").as("doc_id"), col("b_id").as("neighbor_id"),
            col("est_jaccard")),
          struct(col("b_id").as("doc_id"), col("a_id").as("neighbor_id"),
            col("est_jaccard")))).as("p"))
        .select(col("p.doc_id"), col("p.neighbor_id"), col("p.est_jaccard"))
      graft.ops.TopK.topKPerGroupExecRanked(sym, Seq("doc_id"),
          Seq(("est_jaccard", true), ("neighbor_id", false)), 3, "rank")
        .orderBy("doc_id", "rank")
    }),

    // Broder CONTAINMENT over LSH-verified candidates — the asymmetric
    // companion of Jaccard: c(A→B) = |A∩B| / |A| finds docs CONTAINED in
    // a larger doc (quotes, partial copies, shard-overlap fragments) that
    // symmetric similarity under-scores exactly when the size ratio is
    // large. Candidates come banded (never all-pairs); the exact
    // intersection is a keyed join on (pair, shingle) — shuffle bounded
    // by candidate pairs × shared shingles, linear in the verified set.
    "dedup_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // sh/cand feed multiple consumers but stay uncached: persisting both
      // measured 2x slower (r16 A/B) — the repeated subtrees share
      // physically and the cache breaks stage overlap
      val sh = Dedup.shingleRows(docs, "text", "doc_id").select(col("doc_id"), col("sh"))
      val cand = Dedup.minhashCandidates(
          Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
        .select("a_id", "b_id")
      val inter = cand
        .join(sh.withColumnsRenamed(Map("doc_id" -> "a_id")), "a_id")
        .join(sh.withColumnsRenamed(Map("doc_id" -> "b_id")), Seq("b_id", "sh"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      cand
        .join(inter, Seq("a_id", "b_id"), "left")
        .join(cnt.withColumnsRenamed(Map("doc_id" -> "a_id", "n" -> "n_a")), "a_id")
        .join(cnt.withColumnsRenamed(Map("doc_id" -> "b_id", "n" -> "n_b")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
          coalesce(col("inter"), lit(0L)).as("inter_sh"),
          expr("coalesce(inter, 0) * 10000 div n_a").as("cont_a_bp"),
          expr("coalesce(inter, 0) * 10000 div n_b").as("cont_b_bp"))
        .orderBy("a_id", "b_id")
    }),

    // Tokenizer fertility per language (tokens emitted per word) under
    // the pinned BPE artifact — the compression audit that decides
    // whether a tokenizer punishes a language (high fertility = more
    // sequence length per sentence = less effective context). Integer
    // rational ×100; one native bpe_apply pass, one groupBy(lang).
    "text_fertility" -> ((s, dir) => {
      val merges = Seq(("e", "r"), ("er", "</w>"), ("i", "n"), ("o", "w"), ("s", "t"))
      graft.ops.Bpe.encode(t(s, dir, "documents"), "text", merges)
        .select(col("lang"),
          expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)").as("n_w"),
          size(split(regexp_replace(col("bpe_syms"), "\\u001f", " "), " "))
            .cast("long").as("n_t"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_w").as("sum_words"),
          sum("n_t").as("sum_tokens"),
          expr("100 * sum(n_t) div sum(n_w)").as("fertility_x100"))
        .orderBy("lang")
    }),

    // Deterministic bootstrap confidence interval for a corpus metric
    // (mean order value): 100 hash-weighted replicas (mean-1 weights, the
    // portable stand-in for multinomial resampling), each replica's
    // weighted mean kept as an exact integer rational (micro-cents),
    // CI = element-picked ranks 5/50/95. Zero floats → the resampling
    // distribution reproduces bit-for-bit anywhere. Per-replica weights
    // come from TWO md5 base hashes per row via Kirsch-Mitzenmacher
    // (w_b = (h1 + b·h2) % 3 — the minhash trick), so the row is hashed
    // twice total, not once per replica; the replica explode carries the
    // metric column only, never the full row.
    "stats_bootstrap" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("id"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("xc"))
      val reps = o.select(col("xc"),
          Dedup.md5Int(concat(lit("1:"), col("id"))).as("h1"),
          Dedup.md5Int(concat(lit("2:"), col("id"))).as("h2"))
        .select(col("xc"), explode(expr("sequence(0, 99)")).as("b"),
          col("h1"), col("h2"))
        .withColumn("w", pmod(col("h1") + col("b") * col("h2"), lit(3)))
      val means = reps.groupBy("b")
        .agg(expr("(sum(w * xc) * 10000) div sum(w)").as("m"))
      means.select(col("b"), col("m"),
          row_number().over(Window.orderBy(col("m"), col("b"))).as("rn"))
        .agg(count(lit(1)).as("n_replicas"),
          max(when(col("rn") === 5, col("m"))).as("ci_lo"),
          max(when(col("rn") === 50, col("m"))).as("ci_md"),
          max(when(col("rn") === 95, col("m"))).as("ci_hi"))
    }),

    // BLEU-2-style clipped bigram precision between near-dup candidate
    // pairs — the generation-eval metric applied to dedup review: how
    // much of doc a's bigram mass is covered by doc b (and the reverse
    // is just the pair flipped). Counts, not distinct grams (BLEU's
    // modified precision); integer basis points. Pair space comes banded
    // from LSH, never all-pairs. The clip is ROW-LOCAL: each doc carries
    // its bigram histogram as a map column (built in one projection, no
    // gram-stream exchange at all), the pair row joins the two maps by
    // id, and clip = Σ least(cₐ, c_b) folds over map_zip_with in place —
    // the previous shape exploded grams and paid a keyed (pair, gram)
    // join plus its re-aggregation (r9/r10 advice). Map size is bounded
    // by tokens/doc, the same bound the exploded row stream had.
    "eval_bleu_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // bind the gram array to a column FIRST: expressions inside the
      // histogram lambda would otherwise re-evaluate split() per element
      // two codegen'd hash aggregations, not a per-doc interpreted
      // histogram lambda (O(distinct·len) per doc and ~2× slower measured):
      // (doc, gram) counts combine map-side, then one doc-key regroup
      // folds them into the map column
      // NOT candidate-filtered, by measurement (r16 opt round): building
      // the histograms only for pair members (semi-join on the pair ids,
      // the prefixJaccardJoin verify discipline) is strictly less total
      // work, but it chains the bigram aggregation BEHIND the minhash
      // pipeline — the two subtrees run concurrently in this one-job
      // shape, and both the unpersisted (re-planned 3×) and persisted
      // (barrier-serialized) variants measured ~1.7× SLOWER at sf0.1
      // under interleaved same-host A/B. At a corpus scale where
      // candidates ≪ docs the filter wins on bytes; re-evaluate there.
      val gmaps = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
            | (x, y) -> concat(x, ' ', y))""".stripMargin.replace("\n", " ")))
          .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("g"), col("c")))).as("gm"),
          sum("c").as("n_g"))
      val pairs = Dedup.minhashCandidates(
          Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id",
          threshold = 0.25)
        .select("a_id", "b_id")
      pairs
        .join(gmaps.withColumnsRenamed(
          Map("doc_id" -> "a_id", "gm" -> "ga", "n_g" -> "n_a")), "a_id")
        // LEFT join + empty-map coalesce on the b side: a candidate doc
        // with zero bigrams keeps its pairs with clip 0, the oracle's
        // contract — independent of Dedup's shingle width (minhash
        // currently requires >= 3 tokens so every candidate has >= 2
        // bigrams, but that is Dedup's invariant, not this query's)
        .join(gmaps.select(col("doc_id").as("b_id"), col("gm").as("gb")),
          Seq("b_id"), "left")
        // a doc with < 2 tokens has no bigrams: the exploded shape dropped
        // its pairs at the inner totals join — keep that contract
        .where(col("n_a") > 0)
        .select(col("a_id"), col("b_id"), col("n_a"),
          // coalesce BOTH sides: least() skips nulls, so a key present in
          // only one map would otherwise contribute the OTHER side's count
          expr("""aggregate(map_values(map_zip_with(ga,
                 | coalesce(gb, CAST(map() AS MAP<STRING, BIGINT>)),
                 | (k, x, y) -> least(coalesce(x, 0), coalesce(y, 0)))),
                 | CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
            .stripMargin.replace("\n", " ")).as("clip_grams"))
        .select(col("a_id"), col("b_id"), col("n_a"), col("clip_grams"),
          expr("clip_grams * 10000 div n_a").as("bleu2_bp"))
        .orderBy("a_id", "b_id")
    }),

    // Purged time-series split (the finance-CV discipline applied to
    // event data): 5 contiguous time folds by integer range arithmetic,
    // fold 2 is the test fold, and TRAIN rows within the embargo E (2%
    // of the time span) of the test fold's boundaries are PURGED — the
    // rows whose features/labels straddle the boundary and leak. All
    // pure integer arithmetic on a one-row broadcast (t0, t1): role
    // assignment is a narrow map, the report one tiny agg.
    "split_purged_time" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("ts"))
      val mm = e.agg(min("ts").as("t0"), max("ts").as("t1"))
      def foldOf(x: String) =
        expr(s"least(4, greatest(0, (($x - t0) * 5) div (t1 - t0 + 1)))")
      e.crossJoin(broadcast(mm))
        .withColumn("_e", expr("(t1 - t0) div 50"))
        .withColumn("_f", foldOf("ts"))
        .withColumn("role",
          when(col("_f") === 2, lit("test"))
            .when(foldOf("ts + _e") === 2 || foldOf("ts - _e") === 2, lit("purged"))
            .otherwise(lit("train")))
        .groupBy("role")
        .agg(count(lit(1)).as("n_events"), min("ts").as("min_ts"),
          max("ts").as("max_ts"))
        .orderBy("role")
    }),

    // CAPSTONE — the whole curation pipeline as ONE dataflow: Gopher
    // quality gate → exact dedup (keep-first by content hash) → minhash
    // near-dup dedup (higher id drops) → per-lang funnel report with the
    // surviving token budget. Composes gopher_stats (zero-shuffle),
    // exactGroups (one hash agg), and the banded LSH candidates — the
    // end-to-end DAG a user actually runs. At deploy the three kept
    // frames would persist between stages; as a gate query the chain is
    // recomputed lazily (map-only stats, one hash agg, one banded join).
    "pipeline_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val st = docs.select(col("doc_id"), col("lang"), col("text"),
        Functions.gopherStats(col("text")).as("g"),
        Functions.wordSetHits(col("text"), stopEn).as("stop_hits"))
      val keepPred = col("g.n_tok") >= 10 && col("g.n_tok") <= 200 &&
        col("g.sum_len") >= col("g.n_tok") * 3 &&
        col("g.sum_len") <= col("g.n_tok") * 10 &&
        col("g.max_len") <= 20 && col("stop_hits") >= 2 &&
        col("g.n_uniq") * 2 >= col("g.n_tok") &&
        col("g.top_c") * 5 <= col("g.n_tok")
      // The quality-gated frame feeds the exact-dedup winner agg, the
      // dedup join, and the funnel report; the exact-deduped frame feeds
      // the minhash signature, the final anti-join, and the report. Both
      // persisted (r16 shared-subframe audit): gopherStats runs once per
      // doc instead of five times. MEMORY_AND_DISK — these carry text and
      // spill at scale, which still beats recomputing the stats pass.
      val q = st.where(keepPred).select(col("doc_id"), col("lang"), col("text"),
        col("g.n_tok").as("n_tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exKeep = q.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val ke = q.join(exKeep, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(ke, "text", "doc_id"), "doc_id", threshold = 0.25)
      val dropped = pairs.select(col("b_id").as("doc_id")).distinct()
      val kf = ke.join(dropped, Seq("doc_id"), "left_anti")
      docs.groupBy("lang").agg(count(lit(1)).as("n_in"))
        .join(q.groupBy("lang").agg(count(lit(1)).as("n_quality")), Seq("lang"), "left")
        .join(ke.groupBy("lang").agg(count(lit(1)).as("n_exact")), Seq("lang"), "left")
        .join(kf.groupBy("lang").agg(count(lit(1)).as("n_final"),
          sum("n_tok").as("tokens_final")), Seq("lang"), "left")
        .select(col("lang"), col("n_in"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
        .orderBy("lang")
    }),

    // Curriculum assignment with equal token budgets: rank the corpus by
    // lexical diversity (distinct-token basis points, one gopher_stats
    // pass), then split the cumulative TOKEN mass — not the doc count —
    // into 3 phases, so each curriculum stage feeds the trainer the same
    // token budget. The running sum is the range-partitioned global
    // cumsum (Rank.globalCumSum) — no single-task global window.
    "corpus_curriculum" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("doc_id"), Functions.gopherStats(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_tok").as("n_tok"),
          expr("g.n_uniq * 10000 div g.n_tok").as("div_bp"))
      graft.ops.Rank.globalCumSum(st,
          Seq(col("div_bp").desc, col("doc_id")), "n_tok", "cum_tok")
        .crossJoin(broadcast(st.agg(sum("n_tok").as("_total"))))
        .select(col("doc_id"), col("n_tok"), col("div_bp"), col("cum_tok"),
          expr("CAST(1 + (cum_tok - 1) * 3 div _total AS INT)").as("phase"))
        .orderBy("doc_id")
    }),

    // Corpus bigram novelty between snapshots (doc_id parity = two crawl
    // halves): per lang, the fraction of the new half's distinct bigrams
    // absent from the old half — the freshness/drift signal deciding
    // whether a re-crawl adds phrases or re-serves the old corpus.
    // Distinct-first per half, then one anti-join on (lang, gram).
    "corpus_novelty" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), (col("doc_id") % 2).as("half"),
          explode(expr("word_shingles(text, 2)")).as("g"))
      val old = d.where(col("half") === 0).select("lang", "g").distinct()
      val nw = d.where(col("half") === 1).select("lang", "g").distinct()
      nw.groupBy("lang").agg(count(lit(1)).as("n_new"))
        .join(nw.join(old, Seq("lang", "g"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("n_novel")), Seq("lang"), "left")
        .select(col("lang"), col("n_new"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          expr("coalesce(n_novel, 0) * 10000 div n_new").as("novel_bp"))
        .orderBy("lang")
    }),

    // DAU / total-users stickiness per day — the engagement ratio report;
    // distinct-first pre-dedup (no Expand), one-row total broadcast.
    "events_stickiness" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        expr("CAST(timestamp_micros(ts div 1000) AS DATE)").as("day"),
        col("user_id"))
      e.distinct().groupBy("day").agg(count(lit(1)).as("dau"))
        .crossJoin(broadcast(
          e.select("user_id").distinct().agg(count(lit(1)).as("_u"))))
        .select(col("day"), col("dau"),
          expr("CAST(dau * 10000 div _u AS INT)").as("stickiness_bp"))
        .orderBy("day")
    }),

    // Incremental dedup — the continuous-ingest workflow: the stored
    // corpus (even doc ids) is already signature-indexed; the incoming
    // batch (odd ids) is banded and BROADCAST against it, so the stored
    // side is touched only on colliding band keys. No corpus self-join.
    "dedup_incremental" -> ((s, dir) => {
      val sig = Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id")
      Dedup.incrementalMinhashDups(
          sig.where(col("doc_id") % 2 === 0), sig.where(col("doc_id") % 2 === 1),
          "doc_id", threshold = 0.25)
        .orderBy("in_id", "stored_id")
    }),

    // REAL streaming replay of the incremental-dedup pipeline: the corpus
    // is staged as 8 parquet files and drained 2 per trigger (4
    // micro-batches) through StreamingDedup.foreachBatch — each batch is
    // MinHash-signed, checked against the persisted signature store, and
    // appended to it; the replay-idempotent _batch-partitioned sinks are
    // the claim under test. The FINAL duplicate-pair table, normalized to
    // unordered pairs, must hash-match the batch twin (one LSH self-join
    // over the whole corpus): band collisions are deterministic per pair,
    // so the pair SET is invariant to how the stream happened to split
    // into batches.
    "streaming_replay_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      // fresh store + checkpoint per run: the replay WRITES, and a stale
      // signature store would duplicate every cross-batch pair
      val base = java.nio.file.Files
        .createTempDirectory("graft_stream_dedup").toString
      docs.repartition(8).write.mode("overwrite").parquet(s"$base/in")
      val src = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2).parquet(s"$base/in")
      // 8 state partitions, the streaming_replay_q14 rationale: tiny
      // per-batch frames make 32 shuffle tasks pure overhead here
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.StreamingDedup.start(src, "text", "doc_id",
          s"$base/sig", s"$base/dups", s"$base/ckpt", threshold = 0.25)
        q.awaitTermination() // AvailableNow: returns once drained
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$base/dups")
        .select(least(col("in_id"), col("stored_id")).as("a_id"),
          greatest(col("in_id"), col("stored_id")).as("b_id"),
          col("est_jaccard"))
        .orderBy("a_id", "b_id")
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // SimHash PAIR detection (Manku web-dedup): 4×15-bit band join —
    // lossless for Hamming ≤ 3 by pigeonhole — then exact bit_count
    // verification. Completes the simhash story: dedup_simhash emits
    // the signatures, this finds the near-duplicates.
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy("a", "b")),

    // Full dedup endgame: LSH candidates → connected components → cluster
    // ids (the doc each duplicate group canonicalizes to).
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
        .orderBy("doc_id")
    }),

    // RETRACTION from the cluster state — the takedown twin of the
    // warm-start row, and the direction star-shaped prior state cannot
    // express: removing a doc can SPLIT its cluster (articulation node)
    // or change its label (component minimum). Prior labels survive for
    // untouched clusters; affected clusters re-pair from the stored
    // signature table restricted to their survivors and re-run CC. The
    // oracle is the FULL recompute over the surviving corpus — hash
    // equality proves both the split and relabel paths.
    "dedup_retract_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // r17: materialize the signature table once — the prior-CC build
      // is EAGER (runs at construction, its own jobs), so unlike the
      // lazy-plan persists the r16 A/Bs rejected there is no exchange
      // reuse to lose: without this the corpus minhash pass runs twice
      // (prior build + retract plan).
      val sigM = graft.ops.Iterate.materialize(
        Dedup.minhashSignature(docs, "text", "doc_id"))
      val sig = sigM.df
      val prior = Dedup.connectedComponents(
        Dedup.minhashCandidates(sig, "doc_id", threshold = 0.25), "a_id", "b_id")
      val rem = docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id")
      Dedup.dedupClustersRetract(sig, rem, "doc_id", prior, threshold = 0.25)
        .withColumnsRenamed(Map("node" -> "doc_id"))
        .orderBy("doc_id")
    }),

    // WARM-START clustering — the daily-ingest topology: yesterday's
    // clusters (docs with id % 10 ≠ 9) + today's batch (the 9s) banded
    // against the stored corpus (incrementalMinhashDups' broadcast band
    // probe) + in-batch pairs, merged by CC over (prior stars ∪ new
    // edges). The oracle is the FULL recompute over all pairs — hash
    // equality IS the warm-start soundness proof (labels are component
    // minima, so prior star edges preserve min-reachability). Cost
    // bounded by |prior nodes| + |new edges|, never historical edges.
    "dedup_clusters_incremental" -> ((s, dir) => {
      // r17: same materialize-once as dedup_retract_clusters — the prior
      // CC is eager, and the signature subtree otherwise rebuilds in the
      // prior job, the cross-pair probe and the in-batch candidate plan.
      val sigM = graft.ops.Iterate.materialize(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"))
      val sig = sigM.df
      val oldSig = sig.where(col("doc_id") % 10 =!= 9)
      val newSig = sig.where(col("doc_id") % 10 === 9)
      val prior = Dedup.connectedComponents(
        Dedup.minhashCandidates(oldSig, "doc_id", threshold = 0.25),
        "a_id", "b_id")
      val crossPairs = Dedup
        .incrementalMinhashDups(oldSig, newSig, "doc_id", threshold = 0.25)
        .select(col("in_id").as("a_id"), col("stored_id").as("b_id"))
      val inBatch = Dedup.minhashCandidates(newSig, "doc_id", threshold = 0.25)
        .select("a_id", "b_id")
      Dedup.connectedComponentsIncremental(prior, "node", "cluster_id",
          crossPairs.unionAll(inBatch), "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
        .orderBy("doc_id")
    }),

    // Canonical-copy selection — the step AFTER near-dup clustering:
    // cluster via minhash+LSH+CC, then keep each cluster's best-quality
    // member (stopword basis points; ties → smallest id). Singleton docs
    // (no near-dup) keep themselves via the left join + coalesce.
    "dedup_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
      val clusters = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
      // integer quality: stopword hits per token in basis points — floor
      // of a non-negative exact-integer ratio == integer division on both
      // engines
      val qualBp = floor((Functions.wordSetHits(col("text"), stopEn).cast("long") * lit(10000L))
        .cast("double") / size(split(col("text"), " "))).cast("long")
      val withCluster = docs.select(col("doc_id"), qualBp.as("quality_bp"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      Dedup.keepBest(withCluster, "cluster_id", "doc_id", "quality_bp")
        .orderBy("cluster_id")
    }),

    // Cross-doc boilerplate removal: 2-word segments appearing in >5% of
    // docs are dropped corpus-wide, docs reassembled from the survivors
    // (relative df threshold — the same query means the same thing at
    // any SF).
    "text_boilerplate" -> ((s, dir) =>
      graft.ops.Quality.dropBoilerplate(t(s, dir, "documents"), "text", "doc_id",
          segWords = 2, maxDfPermille = 50)
        .orderBy("doc_id")),

    // Within-document repetition (the OTHER Gopher repetition family —
    // text_dupfrac is cross-document): fraction of a doc's characters
    // covered by its single most frequent word bigram. Integer basis
    // points; deterministic (count desc, bigram asc) tie-break as one
    // partial-aggregable min(struct).
    "text_repetition" -> ((s, dir) =>
      graft.ops.Quality.topBigramFraction(t(s, dir, "documents"),
          "text", "doc_id", "n_chars")
        .orderBy("doc_id")),

    // Corpus-wide segment dedup, keep-first (CCNet paragraph dedup):
    // exactly one copy of every distinct 2-word segment survives,
    // "first" = smallest (doc_id, seg_idx). Complements text_boilerplate
    // (df-threshold drop-everywhere).
    "dedup_segments" -> ((s, dir) =>
      graft.ops.Dedup.dedupSegments(t(s, dir, "documents"), "text", "doc_id",
          segWords = 2)
        .orderBy("doc_id")),

    // Exact-substring span dedup, keep-first (Lee et al. '22 at token-
    // 5-gram granularity): any verbatim repeat of ≥ 5 tokens loses every
    // copy but the globally first — alignment-free, unlike
    // dedup_segments' fixed grid. No pair space: count+min gram
    // aggregate, k-bounded covered-position explode, doc-key rebuild.
    "dedup_spans" -> ((s, dir) =>
      graft.ops.Dedup.dedupSpans(t(s, dir, "documents"), "text", "doc_id",
          k = 5)
        .orderBy("doc_id")),

    // Exact span dedup on the suffix array — the collision-free twin of
    // dedup_spans (duplicated k-gram ⟺ SA run with neighbor LCP ≥ k);
    // its oracle keys on the RAW gram string where dedup_spans' keys on
    // md5, the only difference between the two pipelines.
    "dedup_spans_exact" -> ((s, dir) =>
      graft.ops.Dedup.dedupSpansExact(t(s, dir, "documents"), "text",
          "doc_id", k = 5)
        .orderBy("doc_id")),

    // The SAME span dedup through the literal Lee et al. pipeline —
    // suffix array + neighbor LCP runs instead of a k-gram aggregate
    // (see Dedup.dedupSpansSa): capped LCP at exactly k (nothing
    // full-length shuffles), winner selection over the dup mass only.
    // Same oracle SQL as dedup_spans_exact — the two pipelines must
    // hash-identically.
    "dedup_spans_sa" -> ((s, dir) =>
      graft.ops.Dedup.dedupSpansSa(t(s, dir, "documents"), "text",
          "doc_id", k = 5)
        .orderBy("doc_id")),

    // RETRACTION from incremental span-dedup state — the takedown
    // topology (VERDICT r15 gap #3): the corpus is represented by its
    // persisted occurrence table + covered set (computed here as fixture
    // scaffolding), docs with id % 10 == 3 are removed, and surviving
    // docs whose grams became unique (or whose winner was dethroned)
    // regain text. The oracle is the FULL RECOMPUTE over the surviving
    // corpus — hash equality proves retraction soundness the same way
    // the incremental rows prove append soundness.
    "dedup_retract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rem = docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id")
      // r17: materializing spanOccurrences once (± widen) and deriving
      // spanCovered from it measured 20-100% SLOWER in paired same-window
      // A/Bs despite removing ~6 corpus re-explodes — the word_grams
      // explode fuses into each consumer's codegen stage and recompute
      // beats the checkpoint round-trip at this size (the recurring
      // persist-vs-fusion lesson; fast_docs won the same combo only
      // because its per-row regex parse is far heavier).
      graft.ops.Dedup.dedupSpansSaRetract(docs, rem, "text", "doc_id", k = 5,
          priorOcc = graft.ops.Dedup.spanOccurrences(docs, "text", "doc_id", 5),
          priorCovered = graft.ops.Dedup.spanCovered(docs, "text", "doc_id", 5))
        .orderBy("doc_id")
    }),

    // WARM-START span dedup — the daily-append topology: yesterday's
    // corpus (ids % 10 ≠ 9) is represented ONLY by its persisted state
    // (spanGramIndex = the k-bounded SA's run summary, spanCovered = its
    // covered positions; both computed here as fixture scaffolding);
    // today's batch (the 9s) merges against the index with one
    // gram-keyed join — nothing old is re-sorted. The oracle is the FULL
    // RECOMPUTE over the union: hash equality IS the warm-start
    // soundness proof (the connectedComponentsIncremental pattern).
    "dedup_spans_sa_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val stored = docs.where(col("doc_id") % 10 =!= 9)
      val batch = docs.where(col("doc_id") % 10 === 9)
      // the prior corpus's state is PERSISTED in production (it is the
      // artifact the previous run wrote) — staged once per (sfDir,
      // fingerprint) like the media corpora, so the timed path is what a
      // daily append actually pays: state scan + batch gram merge +
      // rebuild. SaScaleSmoke stages it bucketed-by-gram for volume.
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_spanstate_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        stagingFingerprint(dir, "documents.parquet")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_DONE"))) {
        graft.ops.Dedup.spanGramIndex(stored, "text", "doc_id", k = 5)
          .write.mode("overwrite").parquet(s"$staged/index")
        graft.ops.Dedup.spanCovered(stored, "text", "doc_id", k = 5)
          .write.mode("overwrite").parquet(s"$staged/covered")
        java.nio.file.Files.createFile(java.nio.file.Paths.get(staged, "_DONE"))
        ()
      }
      graft.ops.Dedup.dedupSpansSaIncremental(stored, batch, "text", "doc_id",
          k = 5,
          priorIndex = s.read.parquet(s"$staged/index"),
          priorCovered = s.read.parquet(s"$staged/covered"))
        .orderBy("doc_id")
    }),

    // IVF-PQ composed search, ORACLE-CHECKED end to end (the r11
    // verdict's last spec-only similarity path): int8-quantized corpus,
    // integer seed centroids (vec_id < 8), integer-grid trained
    // codebooks (pqTrainCodebooksInt, m=4 k=4, 2 rounds), nprobe=2 —
    // every ADC distance is an exact integer, so codes, candidates,
    // distances, and ranks all hash-match the SQL rebuild. Float-recall
    // behavior of the same path stays pinned by AnnRecallSpec.
    "embed_ivfpq" -> ((s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"),
          expr("transform(_q, x -> CAST(x AS FLOAT))").as("emb_q"))
      val cents = qv.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("emb_q").as("c_emb"))
      val cb = Similarity.pqTrainCodebooksInt(qv, "vec_id", "emb_q",
        m = 4, k = 4, iterations = 2, dim = 64)
      Similarity.ivfPqTopK(qv, "vec_id", "emb_q", cents, "c_id", "c_emb", cb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 15),
          k = 3, nprobe = 2, dim = 64, m = 4)
        .select(col("q_id"), col("neighbor_id"),
          col("adc2").cast("long").as("adc2"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // Distributed SUFFIX ARRAY (Manber–Myers prefix doubling — see
    // ops/SuffixArray.scala): the full per-suffix rank table, checked
    // against DuckDB literally sorting every suffix string. Closes the
    // dedupSpans k-gram approximation gap with the exact structure the
    // Lee et al. pipeline builds.
    "suffix_array" -> ((s, dir) =>
      graft.ops.SuffixArray.build(widen(t(s, dir, "documents")), "text", "doc_id")
        .orderBy("doc_id", "pos")),

    // Longest repeated substrings — the textbook SA application: max-LCP
    // SA-adjacent pairs, top 20 with a 10-token snippet. The trailing
    // rank window runs over the 20 post-limit rows (TakeOrderedAndProject
    // does the global top-k; nothing corpus-sized is sorted in one task).
    // neighborLcps fuses build + neighbor compare into one sorted pass
    // (lead() over the ranking's own checkpoint — no slice join, no rank
    // self-join, exact LCPs); long-doc corpora fall back to the capped
    // escalating pipeline inside the op.
    "suffix_repeated_top" -> ((s, dir) => {
      val docs = widen(t(s, dir, "documents"))
      val ord = Seq(col("lcp").desc, col("doc_id").asc, col("pos").asc,
        col("nbr_id").asc, col("nbr_pos").asc)
      val top = graft.ops.SuffixArray.neighborLcps(docs, "text", "doc_id")
        .orderBy(ord: _*)
        .limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
      docs.select(col("doc_id").as("_sid"), split(col("text"), " ").as("_sws"))
        .join(broadcast(top), col("_sid") === col("doc_id"))
        .select(col("doc_id"), col("pos"), col("nbr_id"), col("nbr_pos"),
          col("lcp"),
          array_join(expr(
            "slice(_sws, CAST(pos + 1 AS INT), CAST(least(lcp, 10) AS INT))"),
            " ").as("snippet"),
          col("rank"))
        .orderBy("rank")
    }),

    // Corpus duplication profile — the Lee et al. diagnostic read off
    // the same fused neighbor-LCP pass as suffix_repeated_top: how many
    // SA-adjacent pairs share >= L tokens, by threshold bucket (a pair
    // with lcp >= L marks a duplicated L-token span). The report a
    // curation run consults to PICK the span-dedup k before running it.
    "suffix_lcp_profile" -> ((s, dir) => {
      val lcps = graft.ops.SuffixArray.neighborLcps(
        widen(t(s, dir, "documents")), "text", "doc_id")
      val bucket = when(col("lcp") >= 50, 50L).when(col("lcp") >= 20, 20L)
        .when(col("lcp") >= 10, 10L).when(col("lcp") >= 5, 5L)
        .when(col("lcp") >= 2, 2L).when(col("lcp") >= 1, 1L).otherwise(0L)
      lcps.select(bucket.as("lcp_ge"), col("lcp"))
        .groupBy("lcp_ge")
        .agg(count(lit(1)).as("n_pairs"), max("lcp").as("max_lcp"))
        .orderBy("lcp_ge")
    }),

    // Boundary-stitch dedup candidates (split-document crawl artifact):
    // see Dedup.stitchCandidates.
    "dedup_stitch" -> ((s, dir) =>
      graft.ops.Dedup.stitchCandidates(t(s, dir, "documents"),
          "text", "doc_id", k = 3, cap = 100)
        .orderBy("id_a", "id_b")),

    "text_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct"))
        .orderBy("doc_id")),

    // Unicode word segmentation (functions/UnicodeWords: BreakIterator
    // boundaries, letter-or-digit segments) over a pinned multilingual
    // fixture cycled across the documents table: Latin with joiners
    // ("It's", "meters-long", "1,000"), precomposed accents, Greek,
    // Cyrillic, Japanese (kanji|hiragana|katakana script runs), Han
    // runs kept whole, Hangul. The oracle re-segments the same strings
    // with an RE2 script-run regex that provably agrees on this
    // fixture's shapes (UnicodeWordsSpec pins the per-sentence goldens
    // on the Spark side). array_join(unicode_words(x), ' ') is the
    // canonicalization that feeds the engine's single-space token
    // contract — the downstream-composition half is TextSpec-pinned.
    "text_tokens_unicode" -> ((s, dir) => {
      val raw = element_at(
        array(multilingualFixture.map(lit): _*),
        (col("doc_id") % multilingualFixture.size).cast("int") + 1)
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("_raw"))
        .select(col("doc_id"),
          array_join(expr("unicode_words(_raw)"), " ").as("tokens"),
          size(expr("unicode_words(_raw)")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Overlapping document chunking (200-char windows, 150 stride → 50
    // overlap): the corpus-prep step for context-bounded training and
    // retrieval. Pure projection + generator — narrow, no shuffle until
    // the output sort; chunk count derives from length, so skew follows
    // document length, not key distribution.
    "text_chunk" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(1), length(col("text")), lit(150)))
            .as(Seq("chunk_idx", "chunk_start")))
        .select(col("doc_id"), col("chunk_idx"),
          col("chunk_start").cast("long").as("chunk_start"),
          col("text").substr(col("chunk_start"), lit(200)).as("chunk"))
        .withColumn("chunk_len", length(col("chunk")).cast("long"))
        .orderBy("doc_id", "chunk_idx")),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(Functions.normalizeLabel(col("text"))).as("fp"))
        .orderBy("doc_id")),

    "text_fingerprint_rolling" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), expr("rolling_hash(text)").as("rh"))
        .orderBy("doc_id")),

    // Content-defined chunk dedup (LBFS / rsync / FastCDC — the
    // insertion-ROBUST exact-substring key): `cdc_chunks` (native
    // one-pass codegen expression) cuts each doc where the trailing
    // 8-codepoint polynomial hash lands on a 5-bit zero mask (expected
    // 32-char chunks). Boundaries depend only on local content, so an
    // edit re-chunks its neighborhood and every later chunk RE-ALIGNS —
    // shared chunks survive insertions that shift every fixed-width
    // gram (the property dedup_spans' fixed k-grams lack). Corpus dedup
    // is then the dedup_exact shape on chunk hashes: one generator
    // explode + one key-local aggregation, linear, no pair space.
    "dedup_cdc" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          expr("cdc_chunks(text, 8, 5)").as("cuts"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(cuts)), i ->
             | substring(text, IF(i = 1, 0, element_at(cuts, i - 1)) + 1,
             |   element_at(cuts, i) - IF(i = 1, 0, element_at(cuts, i - 1))))"""
            .stripMargin.replace("\n", " "))).as("chunk"))
        .select(expr("md5_long(chunk, 15)").as("h"),
          col("doc_id"), length(col("chunk")).as("clen"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct("doc_id").as("n_docs"),
          min("clen").as("clen"))
        .where(col("n_copies") > 1)
        .orderBy(col("n_copies").desc, col("h"))
        .limit(100)),

    // Winnowing (MOSS) fingerprints: every verbatim match of length
    // ≥ w+k−1 = 11 chars is guaranteed a shared fingerprint; output is
    // the per-doc fingerprint count + order-independent XOR digest.
    "text_winnowing" -> ((s, dir) =>
      Dedup.winnowFingerprints(widen(t(s, dir, "documents")), "text", "doc_id",
          k = 8, w = 4)
        .orderBy("doc_id")),

    // Shared-winnowing-fingerprint pair candidates: substring-level
    // overlap detection (containment), which whole-document minhash
    // dilutes away. df-capped fp join — same blowup bound as dedup_ngram.
    "dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(widen(t(s, dir, "documents")), "text", "doc_id",
          k = 8, w = 4, dfCap = 20, minShared = 10, minContainBp = 2500)
        .orderBy("a", "b")),

    // Within-document token dedup, keep-first (the self-repetition
    // cleaning step; dedup_segments is the corpus-wide version). Pure
    // narrow projection — array_distinct preserves first-occurrence
    // order — so the plan has ZERO exchanges before the output sort.
    "text_selfdedup" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_kept"),
        array_join(array_distinct(split(col("text"), " ")), " ").as("dedup_text"))
        .orderBy("doc_id")),

    "text_quality" -> ((s, dir) => {
      val tokens = split(col("text"), " ")
      // native word_set_hits: one compiled loop per row vs two interpreted
      // lambdas per token (same result as the filter/IN form)
      val stopHits = Functions.wordSetHits(col("text"), stopEn)
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_char"),
        size(tokens).as("n_tok"),
        stopHits.as("stop_hits"),
        round(stopHits.cast("double") / size(tokens), 4).as("stop_ratio"))
        .orderBy("doc_id")
    }),

    // Linear quality classifier with pinned integer weights (the
    // fastText-style "quality filter" inference step, scoring side only):
    // margin = w·x over integer features — stopword basis points, a
    // length-band indicator, punctuation basis points — entirely in
    // BIGINT arithmetic, so the keep/drop decision is bit-identical on
    // any engine. Pure narrow projection: zero exchanges, codegen'd
    // word_set_hits, scales as a map over the corpus.
    "quality_logreg" -> ((s, dir) => {
      // `div`, not `/`: the Column `/` operator is DOUBLE division; the
      // classifier contract is BIGINT-exact arithmetic end to end
      val stopBp = expr(s"(word_set_hits(text, '${stopEn.mkString(",")}') * 10000L)" +
        " div size(split(text, ' '))")
      val punctBp = expr("(length(regexp_replace(text, '[a-z0-9 ]', '')) * 10000L)" +
        " div greatest(length(text), 1)")
      val lenBand = when(length(col("text")).between(50, 5000), lit(10000L))
        .otherwise(lit(0L))
      val margin = lit(-30000L) + lit(8L) * stopBp + lenBand - lit(5L) * punctBp
      t(s, dir, "documents").select(
        col("doc_id"),
        stopBp.as("stop_bp"),
        punctBp.as("punct_bp"),
        lenBand.as("len_band"),
        margin.as("margin"),
        (margin > 0L).as("keep"))
        .orderBy("doc_id")
    }),

    // Crawl governance: RFC 9309 robots.txt decisions over the frontier
    // (ops/Robots). The per-host robots table is tiny next to the URL
    // table, so the rule lookup is a BROADCAST join — the decision runs
    // map-side, no shuffle of the frontier at any scale. The fixture
    // exercises group selection (graftbot's own group vs *), longest-
    // match precedence (/private/open over /private), and the
    // wildcard-$ rule; the oracle hand-evaluates the RFC per the
    // deterministic (agent, path) menu.
    "governance_robots" -> ((s, dir) => {
      import graft.ops.Robots
      val robotsBody =
        "# corpus fixture\r\nUser-agent: *\nDisallow: /private\n" +
          "Allow: /private/open\nDisallow: /tmp*.log$\n\n" +
          "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /doc/\n"
      val urls = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("host", concat(lit("h"), pmod(col("doc_id"), lit(5))))
        .withColumn("agent", when(pmod(col("doc_id"), lit(2)) === 0,
          lit("graftbot")).otherwise(lit("otherbot")))
        .withColumn("path",
          when(expr("(doc_id div 2) % 4 = 0"),
            concat(lit("/doc/"), col("doc_id")))
          .when(expr("(doc_id div 2) % 4 = 1"),
            concat(lit("/private/"), col("doc_id")))
          .when(expr("(doc_id div 2) % 4 = 2"),
            concat(lit("/private/open/"), col("doc_id")))
          .otherwise(concat(lit("/tmp"), col("doc_id"), lit(".log"))))
      val robots = s.range(0, 5)
        .select(concat(lit("h"), col("id")).as("host"),
          lit(robotsBody).as("robots_body"))
      urls.join(broadcast(robots), "host")
        .select(col("doc_id"), col("agent"), col("path"),
          Robots.robotsAllowed(col("robots_body"), col("agent"), col("path"))
            .cast("int").as("allowed"))
        .orderBy("doc_id")
    }),

    // Training-data governance: k-anonymity profile across a
    // generalization lattice. Each rollup level drops the rightmost
    // quasi-identifier (nation > segment > balance band); per level the
    // report gives the group count, the k-anonymity (min group size —
    // the worst-case re-identification set), and how many rows sit in
    // groups below k=5. Two key-local aggregations — the rollup's Expand
    // is 4× the input rows, then a 4-row reduce; no windows, no joins.
    "governance_kanon" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      c.rollup(col("nation"), col("segment"), col("bal_band"))
        .agg(count(lit(1)).as("cnt"),
          // grouping() is only legal inside the rollup's agg list
          (grouping(col("nation")) * 4 + grouping(col("segment")) * 2 +
            grouping(col("bal_band"))).cast("long").as("level"))
        .select("level", "cnt")
        .groupBy("level")
        .agg(count(lit(1)).as("n_groups"),
          min("cnt").as("k_anonymity"),
          sum(when(col("cnt") < 5, col("cnt")).otherwise(0L)).as("rows_at_risk"))
        .orderBy("level")
    }),

    // l-diversity companion to the k-anonymity profile (Machanavajjhala
    // '06): k-anonymity alone fails on HOMOGENEOUS groups — a
    // quasi-identifier group whose sensitive attribute takes one value
    // leaks it to anyone who can place a person in the group, however
    // large the group is. Per (nation, segment) QI group the sensitive
    // attribute (balance band) must take ≥ l distinct values; the
    // per-nation report carries the group count, the worst-case
    // diversity, and the rows sitting in groups below l = 3. Two
    // key-local aggregations — the same shape as governance_kanon.
    "governance_ldiv" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      c.groupBy("nation", "segment")
        .agg(count(lit(1)).as("cnt"), countDistinct("bal_band").as("l_div"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_groups"),
          min("l_div").as("min_l"),
          sum(when(col("l_div") < 3, col("cnt")).otherwise(0L)).as("rows_at_risk"))
        .orderBy("nation")
    }),

    // Hashing-trick featurization (Weinberger et al. '09 — the fixed-dim
    // sparse text features a linear classifier at scale trains on, no
    // vocabulary pass needed): feature id = md5(token) mod D. Emitted as
    // (doc_id, feat, cnt) rows — the sparse COO layout — so values stay
    // scalar; one narrow generator + one key-local aggregation.
    "text_feature_hash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr("md5_long(tok, 15) % 64").as("feat"))
        .groupBy("doc_id", "feat")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "feat")),

    // TPC-H Q17-style correlated-average subquery, decorrelated the way
    // Catalyst's plan should read at scale: filter lineitem by the tiny
    // brand part set (broadcast), derive the per-part quantity average
    // from the FILTERED rows (the correlation is on a part attribute, so
    // the filtered set contains every row of each surviving part), and
    // compare in cross-multiplied integer arithmetic
    // (5·qty_cents·cnt < sum_qty_cents  ⇔  qty < 0.2·avg) — no float
    // division on either engine.
    "tpch_q17_style" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"),
        col("l_extendedprice").cast("decimal(20,6)").as("price"))
      val pk = t(s, dir, "part").where(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
      val liF = graft.ops.Iterate.materialize(
        li.join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .select("l_partkey", "qc", "price")).df
      val perPart = liF.groupBy("l_partkey")
        .agg(sum("qc").as("sumq"), count(lit(1)).as("cnt"))
      liF.join(perPart, "l_partkey")
        .where(lit(5L) * col("qc") * col("cnt") < col("sumq"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(round(coalesce(sum(price), 0) * 100) AS BIGINT)").as("sum_cents"))
    }),

    // TPC-H Q22-style "global sales opportunity": per nation, customers
    // whose balance is strictly above their nation's positive-balance
    // average AND who are LAPSED (no order since 2000-01-01 — the
    // fixture has no order-less customers, so the recency predicate
    // keeps Q22's anti-join shape non-vacuous). The scalar correlated
    // average decorrelates into one per-nation aggregate (broadcast —
    // O(nations) rows at any scale); the date filter pushes into the
    // orders scan ahead of the anti-join; the comparison is
    // cross-multiplied integer cents (bal·cnt > sum), no float division.
    "tpch_q22_style" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey").as("nation"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val avgPos = cust.where(col("cents") > 0L)
        .groupBy("nation")
        .agg(sum("cents").as("sum_pos"), count(lit(1)).as("n_pos"))
      val recent = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.join(broadcast(avgPos), Seq("nation"))
        .where(col("cents") * col("n_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("nation")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("total_cents"))
        .orderBy("nation")
    }),

    // Character-bigram language ID (the n-gram heuristic variant of
    // text_langid): score = frequency of language-typical bigrams.
    "text_langid_ngram" -> ((s, dir) => {
      def hits(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      val en = hits("th|he|er|an")
      val es = hits("qu|ci|os|la")
      val de = hits("ch|ei|un|ge")
      t(s, dir, "documents").select(
        col("doc_id"),
        when(en > 0 && en >= es && en >= de, "en")
          .when(es > 0 && es >= de, "es")
          .when(de > 0, "de")
          .otherwise("und").as("lang_pred"))
        .orderBy("doc_id")
    }),

    "text_langid" -> ((s, dir) => {
      def hits(ws: Seq[String]) =
        Functions.wordSetHits(lower(col("text")), ws)
      val en = hits(stopEn)
      val es = hits(Seq("el", "la", "de", "y", "que"))
      val de = hits(Seq("der", "die", "und", "das", "ist"))
      val fr = hits(Seq("le", "et", "les", "des", "une"))
      t(s, dir, "documents").select(
        col("doc_id"),
        when(en > 0 && en >= es && en >= de && en >= fr, "en")
          .when(es > 0 && es >= de && es >= fr, "es")
          .when(de > 0 && de >= fr, "de")
          .when(fr > 0, "fr")
          .otherwise("und").as("lang_pred"))
        .orderBy("doc_id")
    }),

    "ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb", 5, dim = 64)
        .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Matryoshka retrieval (Kusupati et al. '22): exact top-3 under PREFIX
    // dims 8/16/32/64 of the embedding, with per-(dim, query) overlap vs
    // the full-dim answer — the recall curve that tells you the cheapest
    // usable first-stage dim. At scale the prefix slice happens at the
    // SCAN (column pruning of a fixed-size array → 8× less I/O at d=8),
    // so a stage-1 sweep reads a fraction of the index; this query's
    // 4-way union shares one corpus read under the cache.
    "embed_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dims = Seq(8, 16, 32, 64)
      // ONE corpus scan for all prefix dims: slice per row (scan-side
      // column pruning at deploy — an MRL index stores the prefix), then
      // every (pair, dim) cosine rides the same broadcast cross join and
      // explodes into the shared top-k exec keyed (dim, q_id) — not four
      // serial brute-force jobs over the same corpus
      def sliced(df: DataFrame, ec: String, pfx: String) =
        dims.foldLeft(df)((d, n) => d.withColumn(s"$pfx$n", slice(col(ec), 1, n)))
      val c = sliced(emb.select(col("vec_id"), col("embedding")), "embedding", "_e")
        .drop("embedding")
      val q = sliced(emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe")), "qe", "_q")
        .drop("qe")
      val scored = c.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          explode(array(dims.map { n =>
            struct(lit(n).as("dim"),
              (expr(s"vec_dot(_q$n, _e$n)") /
                (sqrt(expr(s"vec_dot(_q$n, _q$n)")) *
                  sqrt(expr(s"vec_dot(_e$n, _e$n)")))).as("cos"))
          }: _*)).as("dc"))
        .select(col("dc.dim").as("dim"), col("q_id"), col("neighbor_id"),
          col("dc.cos").as("cos"))
      val per = graft.ops.TopK.topKPerGroupExec(scored, Seq("dim", "q_id"),
          Seq(("cos", true), ("neighbor_id", false)), 3)
        .select(col("dim"), col("q_id"), col("neighbor_id"))
      // hits vs the full-dim top3 computed row-locally from ONE collected
      // group per query (≤ 12 rows each) — a join of `per` against its own
      // dim=64 filter would re-run the scoring scan twice
      per.groupBy("q_id")
        .agg(collect_list(struct(col("dim"), col("neighbor_id"))).as("all"))
        .select(col("q_id"), explode(expr(
          """transform(array(8, 16, 32, 64), d -> struct(
            | CAST(d AS INT) AS dim,
            | array_join(transform(array_sort(
            |     transform(filter(all, x -> x.dim = d), x -> x.neighbor_id)),
            |   n -> CAST(n AS STRING)), ',') AS top3,
            | CAST(size(array_intersect(
            |     transform(filter(all, x -> x.dim = d), x -> x.neighbor_id),
            |     transform(filter(all, x -> x.dim = 64), x -> x.neighbor_id)))
            |   AS BIGINT) AS hits))""".stripMargin.replace("\n", " "))).as("r"))
        .select(col("r.dim").as("dim"), col("q_id"),
          col("r.top3").as("top3"), col("r.hits").as("hits"))
        .orderBy("dim", "q_id")
    }),

    // MMR diversified re-rank (Carbonell & Goldstein '98): greedy top-5
    // from each query's exact top-20, score = 0.7·rel − 0.3·max sim to
    // the already-selected set — the diversity stage between first-pass
    // retrieval and the consumer. The greedy loop is ROW-LOCAL over one
    // query's collected candidate structs (≤ 20² sims); the oracle
    // unrolls the 5 selection steps as chained CTEs.
    "embed_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cand = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 20, dim = 64)
        .select(col("q_id"), col("neighbor_id").as("id"), col("cos").as("rel"))
      Similarity.mmrRerank(emb, cand, "vec_id", "embedding", "q_id", "id",
          "rel", k = 5, lambda = 0.7, mu = 0.3)
        .select(col("q_id"), col("id").as("neighbor_id"), col("step"),
          round(col("score"), 4).as("mmr_r4"))
        .orderBy("q_id", "step")
    }),

    // Retrieval-quality eval: rank of the FIRST relevant neighbor
    // (same-label) in each query's exact top-10 — the integer core of
    // MRR@10 (the mean-of-reciprocals is one trivial reduce the caller
    // can do; keeping ranks integer makes the gate bit-exact). 0 = no
    // relevant hit in the top 10. Label join is against the tiny
    // (vec_id, label) projection, broadcast on both sides of the
    // already-bounded top-k table.
    "retrieval_mrr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb",
          10, dim = 64)
        .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .join(broadcast(lab.select(col("vec_id").as("q_id"),
          col("label").as("q_label"))), "q_id")
        .groupBy("q_id")
        .agg(coalesce(min(when(col("n_label") === col("q_label"), col("rank"))),
          lit(0)).as("first_rel_rank"))
        .orderBy("q_id")
    }),

    // Exact average precision per query over the top-10 (MAP's core) —
    // entirely integer arithmetic: P@k is rational with k ≤ 10, so
    // scaling by lcm(1..10) = 2520 makes every term integer and
    // AP = Σ_{rel k} P@k / R lands in exact basis points. The ranking
    // metric that credits putting relevant results EARLY, with zero
    // float drift (unlike NDCG's logs).
    "retrieval_ap" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ranked = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 10, dim = 64)
        .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .join(broadcast(lab.select(col("vec_id").as("q_id"),
          col("label").as("q_label"))), "q_id")
        .select(col("q_id"), col("rank"),
          (col("n_label") === col("q_label")).cast("long").as("rel"))
      val withCnt = ranked.withColumn("relcnt",
        sum("rel").over(Window.partitionBy("q_id").orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withCnt.groupBy("q_id")
        .agg(sum("rel").as("n_rel"),
          sum(when(col("rel") === 1, expr("relcnt * 2520 div rank"))
            .otherwise(lit(0L))).as("_ap2520"))
        .select(col("q_id"), col("n_rel"),
          when(col("n_rel") > 0,
            expr("_ap2520 * 10000 div (n_rel * 2520)")).otherwise(lit(0L))
            .as("ap_bp"))
        .orderBy("q_id")
    }),

    // Binary-relevance NDCG@10 with a PINNED integer weight table:
    // w(i) = round(10^6 / log2(i+1)) precomputed as literals on BOTH
    // engines, so DCG = Σ rel_i·w(i) and the ideal DCG stay exact
    // integer arithmetic — the log never enters the query, sidestepping
    // the libm-vs-java ulp hazard that makes float NDCG un-hashable
    // cross-engine (same trick as retrieval_ap's lcm scaling). The
    // ideal is the prefix sum of the first min(CORPUS-relevant, 10)
    // weights — the corpus relevant count (same-label vectors, self
    // excluded), NOT the retrieved-relevant count, so a query that
    // misses relevant items is penalized instead of self-normalized to
    // a perfect score (the recall-blindness a retrieved-only ideal
    // introduces).
    "retrieval_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val labCnt = lab.groupBy("label").agg(count(lit(1)).as("n_lab"))
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ranked = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 10, dim = 64)
        .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .join(broadcast(lab.select(col("vec_id").as("q_id"),
          col("label").as("q_label"))), "q_id")
        .select(col("q_id"), col("q_label"), col("rank"),
          (col("n_label") === col("q_label")).cast("long").as("rel"))
      ranked.groupBy("q_id", "q_label")
        .agg(sum("rel").as("n_rel"),
          sum(expr(s"rel * element_at($NdcgW, cast(rank AS int))")).as("dcg"))
        .join(broadcast(labCnt.withColumnRenamed("label", "q_label")), "q_label")
        .select(col("q_id"), col("n_rel"),
          (col("n_lab") - 1).as("n_rel_corpus"),
          when(col("n_lab") > 1,
            expr(s"dcg * 10000 div element_at($NdcgCw," +
              " cast(least(n_lab - 1, 10) AS int))"))
            .otherwise(lit(0L)).as("ndcg_bp"))
        .orderBy("q_id")
    }),

    // LSH-bucketed variant: candidates pruned to the query's sign-LSH
    // bucket before exact scoring — the sublinear scale path.
    "ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.lshTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb",
          dim = 64, k = 3, numPlanes = 6)
        .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // IVF-pruned ANN (nprobe=1): vectors assigned to the nearest of 8
    // deterministic seed centroids; queries search only their own cluster.
    "ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // IVF with TRAINED centroids, oracle-checked end to end (VERDICT r13
    // #7): integer-grid spherical k-means (sphericalKMeansCentroidsInt —
    // integer inputs make every assignment cosine and every rounded mean
    // bit-identical cross-engine, so the SQL oracle unrolls the training
    // loop round-for-round) over a CLUSTERED fixture (16 well-separated
    // integer centers + per-vector noise, clusteredEmbFixture) where
    // seed centroids are single noisy members and training visibly
    // lifts recall (AnnRecallSpec measures the lift; this row pins the
    // trained pipeline's exact output).
    "ann_ivf_trained" -> ((s, dir) => {
      val emb = clusteredEmbFixture(t(s, dir, "embeddings"))
      val cents = Similarity.sphericalKMeansCentroidsInt(
        emb, "vec_id", "embedding", k = 16, iterations = 2)
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3, nprobe = 2)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Multi-probe IVF: same index, nprobe=2 — recovers neighbors that sit
    // just across a Voronoi boundary from the query's own cluster.
    "ann_ivf_probe2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3, nprobe = 2)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Multi-assignment IVF (cluster replication r=2, same probe count):
    // every corpus vector is indexed in its TWO nearest cells, so a
    // neighbor sitting just across a Voronoi boundary is visible from
    // either side — the storage-side recall dial (2x index size) that
    // nprobe alone cannot replace on high-dimensional data
    // (AnnRecallSpec: 0.62 -> 0.81 recall@5 at nprobe=2).
    "ann_ivf_replicated" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3, nprobe = 2,
          replication = 2)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Hybrid retrieval with reciprocal-rank fusion (the standard RAG
    // two-retriever composition): lexical candidates (distinct shared
    // lowercase terms via an inverted-index join — linear, never
    // all-pairs) and vector candidates (brute-force cosine, query side
    // broadcast) each produce a per-query top-20; RRF fuses them as
    // sum(10^6 div (60 + rank)) — integer micro-units, so the fused
    // score is exact cross-engine arithmetic, not float. doc_id and
    // vec_id share the 0..N id space by fixture construction.
    "retrieval_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " "))).as("term"))
        .where(col("term") =!= "")
      val qt = toks.where(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("term"))
      val lexW = Window.partitionBy("q_id")
        .orderBy(col("overlap").desc, col("doc_id"))
      val lex = toks.join(qt, "term")
        .where(col("doc_id") =!= col("q_id"))
        .groupBy("q_id", "doc_id").agg(count(lit(1)).as("overlap"))
        .select(col("q_id"), col("doc_id"), row_number().over(lexW).as("lrank"))
        .where(col("lrank") <= 20)
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val vec = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 20, dim = 64)
        .select(col("q_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vrank"))
      val rrfW = Window.partitionBy("q_id")
        .orderBy(col("rrf_ppm").desc, col("doc_id"))
      lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"),
          (coalesce(expr("1000000 div (60 + lrank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + vrank)"), lit(0L))).as("rrf_ppm"))
        .select(col("q_id"), col("doc_id"), col("rrf_ppm"),
          row_number().over(rrfW).as("rank"))
        .where(col("rank") <= 10)
        .orderBy("q_id", "rank")
    }),

    // Data-validation battery (ops/Validate.scala): row-rule violation
    // counts in ONE scan per table + referential-integrity anti-joins,
    // unioned into one (rule, n_viol, n_rows) report. Two rules are
    // deliberately tight so the report carries non-zero counts.
    "validate_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val c = t(s, dir, "customer")
      val oRules = Validate.checkRows(o, Seq(
        "o_custkey_not_null" -> col("o_custkey").isNotNull,
        "o_date_not_null" -> col("o_orderdate").isNotNull,
        "o_status_in_set" -> col("o_orderstatus").isin("O", "F", "P"),
        "o_totalprice_positive" -> (col("o_totalprice") > 0),
        "o_totalprice_under_400k" -> (col("o_totalprice") <= 400000)))
      val lRules = Validate.checkRows(l, Seq(
        "l_discount_bounds" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
        "l_quantity_in_1_50" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "l_quantity_under_45" -> (col("l_quantity") <= 45)))
      val fk1 = Validate.checkFk("fk_lineitem_orders", l, "l_orderkey", o, "o_orderkey")
      val fk2 = Validate.checkFk("fk_orders_customer", o, "o_custkey", c, "c_custkey")
      oRules.unionByName(lRules).unionByName(fk1).unionByName(fk2)
        .orderBy("rule")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. '19): rank each
    // language's documents by a language-model score and split into
    // head/middle/tail terciles — THE canonical crawl-curation cut. The
    // LM proxy here is integer-quantized unigram surprisal (token rarity
    // class = floor(log2(global_freq)) computed as length(bin(gf))−1 —
    // pure integer/string arithmetic, zero libm involvement, so the
    // within-language ORDER is bit-exact cross-engine, which a
    // double-ln score cannot promise). Terciles via Rank.globalNtile —
    // one range-partitioned rank pass, no per-language single-task
    // window (a language of a 100 TB corpus is not one task's data).
    "quality_ppl_buckets" -> ((s, dir) => {
      // r17: two single-pass shapes rejected by A/B — persisting the
      // (doc, lang, term) aggregate and deriving gf from it measured ~2x
      // slower (cache barrier); a term-partitioned window for gf
      // measured flat and loses AQE skew-splitting at scale (§2.5).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val gf = toks.groupBy("term").agg(count(lit(1)).as("gf"))
      val scored = toks.groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("c"))
        .join(gf, "term")
        .groupBy("doc_id", "lang")
        .agg(sum("c").as("n_tok"),
          sum(col("c") * (length(bin(col("gf"))) - 1)).as("s"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("(s * 1000) div n_tok").as("fam_milli"))
      graft.ops.Rank.globalNtile(scored, "lang",
          Seq(col("fam_milli").desc, col("doc_id")), 3)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("fam_milli"),
          when(col("tile") === 1, lit("head"))
            .when(col("tile") === 2, lit("middle"))
            .otherwise(lit("tail")).as("ppl_bucket"))
        .orderBy("doc_id")
    }),

    // Domain-mixture reweighting (the DoReMi/data-mixing step of a
    // pretraining pipeline, with FIXED target shares): given a literal
    // target token share per language, the per-domain keep rate that
    // realizes the mixture by downsampling — `need_bp` > 10000 marks
    // domains the target can only reach by UPSAMPLING (epoch repeats),
    // which filtering cannot do; `keep_bp` is the clamped realizable
    // rate. All integer basis points — one narrow scan + one 5-row agg.
    "corpus_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = s.range(1).select(explode(array(
          struct(lit("en").as("lang"), lit(4000L).as("target_bp")),
          struct(lit("de").as("lang"), lit(1500L).as("target_bp")),
          struct(lit("fr").as("lang"), lit(1500L).as("target_bp")),
          struct(lit("es").as("lang"), lit(1500L).as("target_bp")),
          struct(lit("zh").as("lang"), lit(1500L).as("target_bp")))).as("x"))
        .select(col("x.lang"), col("x.target_bp"))
      val per = docs
        .select(col("lang"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("tok"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      val tot = per.agg(sum("tokens").as("total"))
      per.join(broadcast(target), "lang").crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("tokens"),
          expr("(tokens * 10000) div total").as("natural_bp"),
          col("target_bp"),
          expr("(total * target_bp) div tokens").as("need_bp"),
          least(lit(10000L), expr("(total * target_bp) div tokens")).as("keep_bp"),
          expr("(tokens * least(10000, (total * target_bp) div tokens)) div 10000")
            .as("kept_tokens"))
        .orderBy("lang")
    }),

    // Gopher-style quality rule battery (Rae et al. 2021 §A1.1 shape):
    // per-rule pass flags + a keep verdict, all integer-exact. Rules are
    // rationals over per-doc token stats (no float thresholds): word count
    // in [10, 200], mean word length in [3, 10] (sum_len vs 3·n / 10·n),
    // max word length ≤ 20, ≥ 2 stopword hits, ≥ 50% unique words, top
    // word ≤ 20% of tokens. ZERO shuffle: every stat is row-local, computed
    // in one compiled pass by gopher_stats (functions/GopherStats.scala) —
    // at 100 TB this is a map-only scan, vs the explode → groupBy(doc, w)
    // → groupBy(doc) shape that re-shuffles the full token stream twice.
    "quality_gopher" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val st = docs.select(col("doc_id"),
          Functions.gopherStats(col("text")).as("g"),
          Functions.wordSetHits(col("text"), stopEn).as("stop_hits"))
        .select(col("doc_id"), col("g.n_tok").as("n_tok"),
          col("g.n_uniq").as("n_uniq"), col("g.top_c").as("top_c"),
          col("g.sum_len").as("sum_len"), col("g.max_len").as("max_len"),
          col("stop_hits"))
      val fWords = col("n_tok") >= 10 && col("n_tok") <= 200
      val fMeanLen = col("sum_len") >= col("n_tok") * 3 &&
        col("sum_len") <= col("n_tok") * 10
      val fMaxLen = col("max_len") <= 20
      val fStop = col("stop_hits") >= 2
      val fUniq = col("n_uniq") * 2 >= col("n_tok")
      val fTop = col("top_c") * 5 <= col("n_tok")
      st.select(col("doc_id"), col("n_tok"),
          fWords.cast("int").as("f_words"),
          fMeanLen.cast("int").as("f_meanlen"),
          fMaxLen.cast("int").as("f_maxlen"),
          fStop.cast("int").as("f_stop"),
          fUniq.cast("int").as("f_uniq"),
          fTop.cast("int").as("f_topword"),
          (fWords && fMeanLen && fMaxLen && fStop && fUniq && fTop)
            .cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // URL canonicalization: raw → canonical + registered domain. The
    // normalizer (ops/Urls.scala) is pure codegen'd regex/string built-ins.
    "url_normalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("raw_url", expr(rawUrlSql))
      docs.select(col("doc_id"), col("raw_url"),
          Urls.canonicalize(col("raw_url")).as("url_canon"),
          Urls.registeredDomain(col("raw_url")).as("domain"))
        .orderBy("doc_id")
    }),

    // Dedup by canonical URL (keep-first): the first-line dedup of a web
    // corpus — one hash shuffle on the canonical string key.
    "url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("raw_url", expr(rawUrlSql))
      docs.select(col("doc_id"), Urls.canonicalize(col("raw_url")).as("url_canon"))
        .groupBy("url_canon")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("url_canon")
    }),

    // Per-domain rollup: URL inventory + doc counts — the report behind
    // domain blocklists and per-domain sampling quotas.
    "url_domain_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("raw_url", expr(rawUrlSql))
      docs.select(col("doc_id"),
          Urls.canonicalize(col("raw_url")).as("url_canon"),
          Urls.registeredDomain(col("raw_url")).as("domain"))
        .groupBy("domain")
        .agg(countDistinct("url_canon").as("n_urls"),
          count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }),

    // int8 scalar quantization audit: per-vector scale + integer summary
    // of the quantized index (float32 → int8 is the 4× footprint cut that
    // decides whether the ANN index fits executor memory at 100 TB).
    // Greedy k-center coreset over int8-quantized embeddings
    // (Gonzalez '85 farthest-point traversal — 2-approx covering
    // radius; ops/Sampling.kCenterCoreset): the diverse-exemplar
    // selection step of a curation pipeline — each new exemplar is the
    // point FARTHEST from everything already kept (exact integer
    // squared L2, ties to the smaller id), so sel_d2 is the
    // non-increasing covering-radius curve. The oracle unrolls all 8
    // selection rounds as chained MATERIALIZED CTE stages (the
    // graph_pagerank discipline — DuckDB would otherwise inline the
    // doubly-referenced stage 2^7 times) and drops sel = 0 stages,
    // mirroring the operator's radius-0 stop.
    "sample_coreset" -> ((s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"), col("_q"))
      graft.ops.Sampling.kCenterCoreset(qv, "vec_id", "_q", k = 8)
        .orderBy("rank")
    }),

    "embed_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.withColumn("_m", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_m"))
        .select(col("vec_id"),
          round(col("_m"), 6).as("scale6"),
          expr("CAST(aggregate(_q, 0L, (a, x) -> a + x) AS BIGINT)").as("q_sum"),
          expr("CAST(aggregate(_q, 0L, (a, x) -> a + abs(x)) AS BIGINT)").as("q_l1"),
          expr("CAST(array_max(transform(_q, x -> abs(x))) AS INT)").as("q_max"))
        .orderBy("vec_id")
    }),

    // Hard-negative mining for contrastive training: per anchor, the
    // top-5 most-similar vectors with a DIFFERENT label — the
    // near-boundary negatives that carry gradient (random negatives are
    // trivially separable and teach nothing). Broadcast anchors × one
    // corpus scan; the label predicate sits before the dot product, and
    // the top-k exec prunes map-side.
    "embed_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      Similarity.hardNegatives(emb, q, "vec_id", "embedding", "label",
          "q_id", "q_emb", "q_label", 5)
        .select(col("q_id"), col("neighbor_id"), col("neg_label"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Label-noise audit: leave-one-out centroid cosine per embedding;
    // the bottom-3 per label are the mislabel/junk candidates an
    // embedding-dataset audit quarantines first. Exact at any scale —
    // int8 quantization makes the label centroid an integer sum, and the
    // leave-one-out algebra runs on integer-valued doubles through the
    // native vec_dot_d (see Similarity.labelOutliers).
    "embed_label_outliers" -> ((s, dir) => {
      val scored = Similarity.labelOutliers(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label")
      graft.ops.TopK.topKPerGroupExecRanked(scored, Seq("label"),
          Seq(("loo_cos", false), ("vec_id", false)), 3, "rank")
        .select(col("label"), col("vec_id"),
          round(col("loo_cos"), 4).as("loo_cos4"), col("rank"))
        .orderBy("label", "rank")
    }),

    // ANN over the int8 index: quantized-cosine top-k for the same query
    // set as ann_topk — integer dot products under the sqrt keep the score
    // exact cross-engine; AnnRecallSpec pins recall vs the float baseline.
    "embed_quantized_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.quantizedTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb", 5)
        .select(col("q_id"), col("neighbor_id"), col("dot_q"),
          round(col("cos_q"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Binary-quantized similarity: 60-bit sign signatures, xor+popcount
    // Hamming distance — 8 bytes/vector, one instruction per comparison.
    "embed_hamming" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), expr("vec_sign_bits(embedding)").as("bits"))
      val a = e.select(col("label"), col("vec_id").as("a_id"), col("bits").as("a_bits"))
      val b = e.select(col("label"), col("vec_id").as("b_id"), col("bits").as("b_bits"))
      a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("a_bits").bitwiseXOR(col("b_bits"))).as("hamming"))
        .where(col("hamming") <= 20)
        .orderBy("a_id", "b_id")
    }),

    // Near-dup pairs within the same `label` partition — label stands in for
    // an IVF/cluster assignment, i.e. the candidate-pruned scale path:
    // at 100 TB the quadratic blowup is bounded per-cluster, not global.
    "embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("nrm", sqrt(Similarity.dotFixed("embedding", "embedding", 64)))
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (Similarity.dotFixed("a_emb", "b_emb", 64) / (col("a_nrm") * col("b_nrm"))).as("cos"))
        .where(col("cos") >= 0.35)
        .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
        .orderBy("a_id", "b_id")
    }),

    // JSONL source round-trip: write the documents table as JSON-Lines,
    // read it back through the schema'd FAILFAST reader (TextTables), and
    // reproduce the parquet table bit-for-bit — proves the text-source
    // path (escaping, types) without trusting schema inference.
    "source_jsonl" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // run-unique dir: concurrent JVMs on the same sfDir must not race
      // on one overwrite-mode path
      val path = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString
      graft.sources.TextTables.writeJsonl(docs, path)
      graft.sources.TextTables.readJsonl(s, docs.schema, path)
        .orderBy("doc_id")
    }),

    // CSV twin of source_jsonl (quote/escape config symmetric on both
    // sides; nullValue sentinel distinguishes null from empty string).
    "source_csv" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_csv_").toString
      graft.sources.TextTables.writeCsv(docs, path)
      graft.sources.TextTables.readCsv(s, docs.schema, path)
        .orderBy("doc_id")
    }),

    // Hive-style partitioned layout: write docs partitioned by lang, read
    // back with a partition predicate — the filter prunes DIRECTORIES
    // (PartitionFilters, zero I/O for other langs), the lake layout that
    // makes per-lang pipelines at 100 TB read only their shard.
    // PushdownSpec asserts the pruned plan; the oracle checks the rows.
    "source_partition_prune" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_part_").toString
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path).where(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // XML twin (Spark 4 native source): entity escaping on write, explicit
    // schema + FAILFAST on read — same contract as the other text sources.
    "source_xml" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_xml_").toString
      graft.sources.TextTables.writeXml(docs, path)
      graft.sources.TextTables.readXml(s, docs.schema, path)
        .orderBy("doc_id")
    }),

    // Schema evolution: files written before a column existed read as
    // NULL for it under mergeSchema — the lake contract that lets a
    // 100 TB table add columns without rewriting history.
    "source_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_evo_").toString
      docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "source", "n_chars") // v1: pre-`lang` era
        .write.mode("overwrite").parquet(s"$path/v1")
      docs.where(col("doc_id") % 2 === 1)              // v2: full schema
        .write.mode("overwrite").parquet(s"$path/v2")
      s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ORC round-trip: the second columnar format (built into Spark; no
    // external package). Bit-exact against the parquet-sourced oracle —
    // same columnar guarantees, different container.
    "source_orc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_orc_").toString
      docs.write.mode("overwrite").orc(path)
      s.read.schema(docs.schema).orc(path)
        .orderBy("doc_id")
    }),

    // binaryFile source — THE Spark entry point for object-store media
    // corpora (image/audio shards arrive as files, not rows): one row
    // per file with (path, modificationTime, length, content),
    // distributed by file. A deterministic 25-file fixture is written at
    // call time so the scan is a real file scan; identity = name,
    // byte length, and content md5 (the oracle rebuilds all three
    // relationally — UTF-8 ASCII, so string length == byte length).
    "source_binary" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_binsrc_")
      (0 until 25).foreach { i =>
        java.nio.file.Files.write(tmp.resolve(f"f$i%02d.bin"),
          s"file-$i:payload-${i * i}".getBytes("UTF-8"))
      }
      s.read.format("binaryFile").load(tmp.toString)
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy("fname")
    }),

    // Unicode canonicalization (NFC) — the first step of corpus text
    // cleaning: precomposed vs combining-mark encodings of the same
    // visible string defeat every exact-match op (dedup hashes, shingles,
    // blocklists) until canonicalized. Native codegen `unicode_norm`
    // expression; per-doc strings carry combining acute/diaeresis (folded
    // by NFC) and the fi-ligature U+FB01 (NOT folded by NFC — proving the
    // form matters; NFKC folding is spec'd in NormalizeSpec, DuckDB has
    // no NFKC). Oracle mirrors via nfc_normalize.
    "text_nfc" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("w"), col("doc_id").cast("string"),
            lit(" e\u0301 o\u0308 \uFB01")).as("_raw"))
        .select(col("doc_id"),
          expr("unicode_norm(_raw, 'NFC')").as("nfc"),
          length(col("_raw")).cast("long").as("n_raw"),
          length(expr("unicode_norm(_raw, 'NFC')")).cast("long").as("n_nfc"))
        .orderBy("doc_id")),

    // Fixed-width (positional) source: the mainframe/enterprise feed
    // layout — no delimiter, columns are character ranges. The read is a
    // plain line scan + substring/trim/cast projection (whole-stage
    // codegen, splits per block); left-aligned text, right-aligned
    // numerics, all-blank = NULL. Fixture written by the query, oracle
    // rebuilds every field arithmetically.
    "source_fixed_width" -> ((s, dir) => {
      import graft.sources.TextTables
      import graft.sources.TextTables.FixedCol
      val tmp = java.nio.file.Files.createTempDirectory("graft_fw_")
      val lines = (0 until 40).map { i =>
        val id = i.toString.padTo(6, ' ')
        val name = s"item-$i".padTo(12, ' ')
        val amt = (i * 37).toString.reverse.padTo(10, ' ').reverse
        s"$id$name$amt"
      }
      java.nio.file.Files.write(tmp.resolve("data.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
      TextTables.readFixedWidth(s, tmp.toString, Seq(
          FixedCol("id", 1, 6, "long"),
          FixedCol("name", 7, 12),
          FixedCol("amount", 19, 10, "long")))
        .orderBy("id")
    }),

    // Gzip'd text ingest: the shape web corpora actually arrive in.
    // spark.read.text decodes .gz transparently via the codec registry —
    // but gzip is NOT splittable, so one file = one task; at 100 TB the
    // layout answer is many moderate shards (the standard WET/WARC
    // convention), never one giant archive.
    "source_gzip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_gz_")
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(tmp.resolve("part.txt.gz")))
      out.write((0 until 60).map(i => s"line-$i:${i * i}")
        .mkString("\n").getBytes("UTF-8"))
      out.close()
      s.read.text(tmp.toString)
        .select(
          regexp_extract(col("value"), "line-([0-9]+):", 1).cast("long").as("id"),
          col("value").as("line"))
        .orderBy("id")
    }),

    // ZIP archive ingest — the reference's REAL input format
    // (`FASTAll.nt.zip`, download_data.sh:2-6; until now the one ingest
    // step still needing an out-of-band unzip): the NT fixture corpus is
    // staged once per (sfDir, source fingerprint) as a 3-entry zip —
    // staging is skipped on re-runs, so only the archive scan + decode +
    // parse are timed — read back through ZipReader (binaryFile +
    // per-archive ZipInputStream) and fed to the SAME FastIngest.parse
    // as nt_parse. The oracle IS nt_parse's oracle, so the row proves
    // the zipped round trip end to end.
    "source_zip" -> ((s, dir) => {
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_zip_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        stagingFingerprint(dir, "part.parquet")
      val zipPath = java.nio.file.Paths.get(staged, "fast_all.nt.zip")
      if (!java.nio.file.Files.exists(zipPath)) {
        java.nio.file.Files.createDirectories(zipPath.getParent)
        val lines = DemoCorpus.ntFromPart(t(s, dir, "part"))
          .orderBy("line").collect().map(_.getString(0))
        val tmp = java.nio.file.Files.createTempFile(
          zipPath.getParent, ".staging", ".zip")
        val zout = new java.util.zip.ZipOutputStream(
          java.nio.file.Files.newOutputStream(tmp),
          java.nio.charset.StandardCharsets.UTF_8)
        try lines.grouped(math.max(1, (lines.length + 2) / 3))
          .zipWithIndex.foreach { case (chunk, i) =>
            zout.putNextEntry(new java.util.zip.ZipEntry(s"shard$i.nt"))
            zout.write(chunk.mkString("", "\n", "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            zout.closeEntry()
          }
        finally zout.close()
        try java.nio.file.Files.move(tmp, zipPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // a concurrent run staged it first — theirs is identical
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmp)
        }
      }
      FastIngest.parse(
          graft.sources.ZipReader.readLines(s, staged).select("line"))
        .select(col("subject"), col("predicate"), col("obj"))
        .orderBy("subject", "predicate", "obj")
    }),

    // WARC crawl-shard ingest (sources/WarcReader): the format a 100 TB
    // text corpus actually arrives in (ISO 28500, Common Crawl's gzip-
    // member-per-record shard convention). The fixture corpus is staged
    // once per (sfDir, source fingerprint) as 8 multi-record .warc.gz
    // shards — one warcinfo + one HTTP response record per document
    // (every third response chunked-transfer-coded to exercise that
    // decode), plus a conversion (WET) record for every fifth doc — so
    // only the binaryFile scan + member inflate + framing walk + HTTP
    // parse are timed. The oracle is the documents table itself: a hash
    // match proves the full round trip (gzip members, CRLF framing,
    // Content-Length blocks, chunked decode, UTF-8 body) byte-exactly.
    "source_warc" -> ((s, dir) => {
      WarcReader.records(s, stagedWarcCorpus(s, dir))
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("http_status").as("status"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          decode(col("body"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }),

    // WET extracted-text records from the SAME staged shards: the
    // conversion-record path (text/plain block, no HTTP envelope) —
    // what a text-only pipeline reads instead of the raw responses.
    "source_wet" -> ((s, dir) => {
      WarcReader.records(s, stagedWarcCorpus(s, dir))
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          decode(col("body"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }),

    // CONTINUOUS crawl ingestion: the same staged WARC shards replayed
    // as a binaryFile STREAM (2 shards per micro-batch) through the
    // identical parse stage (WarcReader.recordsOf is the shared
    // stateless flatMap) — proving the crawl source works as a live
    // feed, against the batch row's own oracle. No stateful operator,
    // so no state-store tuning: pure append at shard granularity.
    "streaming_replay_warc" -> ((s, dir) => {
      val staged = stagedWarcCorpus(s, dir)
      val q = WarcReader.recordsStream(s, staged, maxFilesPerTrigger = 2)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("http_status").as("status"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          decode(col("body"), "UTF-8").as("text"))
        .writeStream.format("memory").queryName("streaming_replay_warc_sink")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table("streaming_replay_warc_sink").orderBy("doc_id")
    }),

    // HTML text extraction (ops/Html): the step between a crawl response
    // and the documents table (the C4/CCNet "extract" stage) — lenient
    // tokenizer (quoted '>', raw-text script/style, comments), entity
    // decode, block-structured text, title + link harvesting. The
    // fixture page embeds the document text escaped; the oracle
    // reconstructs the exact block structure, so a hash match proves
    // tokenizer + entities + whitespace contract end to end.
    "text_html_extract" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Html
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) => (id, htmlFixturePage(id, text)) }
        .toDF("doc_id", "page")
        .select(col("doc_id"),
          Html.htmlTitle(col("page")).as("title"),
          Html.htmlText(col("page")).as("text"),
          array_join(Html.htmlLinks(col("page")), ",").as("links_csv"))
        .orderBy("doc_id")
    }),

    // Charset sniff + decode (ops/CharsetSniff): the step between raw
    // HTTP bodies and text — BOM beats header beats meta beats UTF-8
    // validation beats the windows-1252 browser fallback. Five delivery
    // modes rotate by id: labeled UTF-8, BOM'd UTF-8 under a LYING
    // header (BOM must win), BOM'd UTF-16LE with no header, unlabeled
    // UTF-8 (validation path), BOM'd UTF-16BE under a lying header.
    // Every mode recovers the text exactly, so the oracle is the
    // documents table + the expected label; the cp1252 mojibake
    // fallback is spec-pinned (CharsetSniffSpec) — it cannot be
    // SQL-reproduced byte-for-byte.
    "text_charset_sniff" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.CharsetSniff
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text0) =>
          val text = Option(text0).getOrElse("")
          val (payload, ct) = (id % 5) match {
            case 0 => (text.getBytes("UTF-8"), "text/html; charset=utf-8")
            case 1 => (Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              text.getBytes("UTF-8"), "text/html; charset=utf-16le")
            case 2 => (Array(0xff.toByte, 0xfe.toByte) ++
              text.getBytes("UTF-16LE"), null)
            case 3 => (text.getBytes("UTF-8"), "text/html")
            case _ => (Array(0xfe.toByte, 0xff.toByte) ++
              text.getBytes("UTF-16BE"), "text/plain; charset=utf-8")
          }
          (id, payload, ct)
        }
        .toDF("doc_id", "payload", "ct")
        .select(col("doc_id"),
          CharsetSniff.sniffDecoded(col("payload"), col("ct")).as("s"))
        .select(col("doc_id"), col("s.charset").as("charset"),
          col("s.text").as("text"))
        .orderBy("doc_id")
    }),

    // PDF text extraction (ops/PdfText): the second big document-corpus
    // "extract" format next to HTML — object scan, /FlateDecode inflate
    // (every even id compressed), content tokenizer, BT/ET text-operator
    // walk with Tj/TJ (every third line a kerned TJ split) and literal /
    // UTF-16BE-hex strings (non-Latin-1 corpus languages). The fixture
    // paginates the document text (8 words/line, 5 lines/page) and the
    // oracle re-joins lines with spaces, so a hash match proves the
    // whole chain recovers the text exactly across pages, filters, and
    // scripts.
    "text_pdf_extract" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.PdfText
      widen(t(s, dir, "documents"))
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val collapsed = Option(text).getOrElse("")
            .replaceAll("[ \t\n\r\f]+", " ").trim
          val words =
            if (collapsed.isEmpty) Array.empty[String] else collapsed.split(" ")
          val lines = s"Doc $id" +: words.grouped(8).map(_.mkString(" ")).toSeq
          val pages = lines.grouped(5).map(_.toSeq).toSeq
          (id, PdfText.pdfBytes(pages, flate = id % 2 == 0))
        }
        .toDF("doc_id", "payload")
        .select(col("doc_id"),
          regexp_replace(graft.ops.PdfText.pdfText(col("payload")),
            "\n", " ").as("text"))
        .orderBy("doc_id")
    }),

    // MAIN-content extraction (Html.extractMainText): the trafilatura-
    // style step past tag stripping — chrome containers (nav/header/
    // aside/footer), majority-link blocks (menus, read-more rows), and
    // head metadata all drop; content blocks survive. The fixture
    // surrounds the document text with all three boilerplate kinds; the
    // oracle keeps exactly the heading, the text, and the one plain
    // closing paragraph — proving the drops are surgical, not greedy.
    "text_html_main" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Html
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val body = Html.escapeText(Option(text).getOrElse(""))
          (id,
            s"""<html><head><title>Doc $id</title><style>p{}</style></head><body>
               |<nav><a href="/">Home</a> | <a href="/about">About</a></nav>
               |<header><p>Site $id banner</p></header>
               |<h1>Doc $id</h1>
               |<p>$body</p>
               |<p><a href="/more/$id">continue reading</a></p>
               |<aside>Related: <a href="/r1">one</a> <a href="/r2">two</a></aside>
               |<p>closing remarks stay</p>
               |<footer>&copy; 2026 corpus.example</footer>
               |</body></html>""".stripMargin)
        }
        .toDF("doc_id", "page")
        .select(col("doc_id"),
          Html.htmlMainText(col("page")).as("text"))
        .orderBy("doc_id")
    }),

    // The crawl pipeline composed end to end: WARC bytes → framing walk
    // → HTTP split (every even id chunked) → HTML extraction — what a
    // 100 TB Common Crawl ingestion actually runs, per-record with no
    // shuffle until the downstream aggregations.
    "pipeline_warc_html" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Html
      import graft.sources.WarcReader
      widen(t(s, dir, "documents"))
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val shard = WarcReader.writeShardGz(Seq(WarcReader.WriteRec(
            "response", s"http://corpus.example/doc/$id",
            "2026-01-01T00:00:00Z", 200, "text/html; charset=utf-8",
            htmlFixturePage(id, text).getBytes("UTF-8"),
            chunked = id % 2 == 0)))
          val inflated = WarcReader.inflateShard(shard).get
          WarcReader.parseShard(s"doc$id", inflated)._1.map { r =>
            val html = new String(r.body, "UTF-8")
            (id, r.http_status.getOrElse(-1),
              Html.extractTitle(html), Html.extractText(html))
          }
        }
        .toDF("doc_id", "status", "title", "text")
        .orderBy("doc_id")
    }),

    // The crawl FRONTIER: harvested links (Html.extractLinks) resolved
    // against their page's base URL, minus everything already crawled —
    // the fetch list a crawler derives each cycle. Shapes: link
    // explosion is map-side; the anti-join shuffles on the url hash
    // (both sides huge at crawl scale — the one shuffle the operation
    // fundamentally needs); the count aggregation is partial-aggregable.
    // Oracle: every page links /doc/(id+1) (internal — crawled unless
    // id+1 is past the corpus edge) and https://ex.com/(id%7)
    // (external — never crawled), so the frontier is derivable in SQL.
    "pipeline_crawl_frontier" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Html
      val pages = t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, s"http://corpus.example/doc/$id", htmlFixturePage(id, text))
        }
        .toDF("doc_id", "base_url", "page")
      val links = pages.select(col("base_url"),
          explode(Html.htmlLinks(col("page"))).as("href"))
        .select(Urls.resolveUrl(col("base_url"), col("href")).as("url"))
        .where(col("url").isNotNull)
      // the crawled set is the URL scheme itself — derive it from
      // doc_id directly instead of re-running the opaque page-building
      // map a second time (typed maps block column pruning, so a
      // `pages`-derived branch would rebuild every page string)
      val crawled = t(s, dir, "documents")
        .select(concat(lit("http://corpus.example/doc/"),
          col("doc_id").cast("long")).as("url"))
      links.join(crawled, Seq("url"), "left_anti")
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
        .orderBy("url")
    }),

    // Semantic dedup end-to-end: embedding-cosine near-dup pairs →
    // connected components → per-cluster size and a keep/drop verdict
    // (keep = the minimum-id member, which IS the component label).
    "embed_clusters" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("nrm", sqrt(Similarity.dotFixed("embedding", "embedding", 64)))
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      val pairs = a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .where(Similarity.dotFixed("a_emb", "b_emb", 64) /
          (col("a_nrm") * col("b_nrm")) >= 0.35)
        .select(col("a_id"), col("b_id"))
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .select(col("node").as("vec_id"), col("cluster_id"), col("cluster_size"),
          (col("node") === col("cluster_id")).cast("int").as("keep"))
        .orderBy("vec_id")
    }),

    // SemDeDup (Abbas '23): nearest-centroid clustering, then WITHIN each
    // cluster cosine-threshold pruning with the paper's keep-low-centroid-
    // sim rule (id tie-break). The pair space is per-cluster — `cluster`
    // is the self-join's only shuffle key, and K grows with the corpus so
    // the per-cluster quadratic term stays bounded; never all-pairs.
    "dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.semanticDedup(emb, cents, "vec_id", "embedding",
          "c_id", "c_emb", threshold = 0.35)
        .select(col("vec_id"), col("cluster"),
          round(col("cent_cos"), 4).as("cent_cos"), col("drop").as("is_dup"))
        .orderBy("vec_id")
    }),

    // RETRACTION from semantic-dedup state (vec_id ≡ 3 mod 10 removed):
    // survivors can be REINSTATED — a drop whose every better same-cell
    // duplicate was removed loses its flag. Centroids are the trained
    // index and do not move on takedown, so stored cluster/cent_cos stay
    // valid and only affected cells re-run the pair semi-join. Oracle =
    // full recompute over survivors with the ORIGINAL centroid set.
    "dedup_retract_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      // NO persist on the state frame, deliberately: a cross-window
      // BenchOne first suggested one helped (2.15 → ~1.5), but the
      // rigorous interleaved same-JVM A/B (4 alternating reps) showed
      // the persist SLOWER (1.64-1.99 unpersisted vs 1.81-2.31
      // persisted) — ReuseExchange already shares the assign+pair
      // subtree across the retract plan's four reads, and the
      // InMemoryRelation round-trip loses to codegen fusion (the
      // persist-vs-exchange-reuse rule, confirmed again).
      val state = Similarity.semanticDedupState(emb, cents, "vec_id",
        "embedding", "c_id", "c_emb", threshold = 0.35)
      val rem = emb.where(pmod(col("vec_id"), lit(10)) === 3).select("vec_id")
      Similarity.semanticDedupRetract(state, rem, "vec_id", "embedding",
          threshold = 0.35)
        .select(col("vec_id"), col("cluster"),
          round(col("cent_cos"), 4).as("cent_cos"), col("drop").as("is_dup"))
        .orderBy("vec_id")
    }),

    // Incremental SemDeDup: a 10% incoming batch (vec_id ≡ 9 mod 10)
    // against the stored 90% — broadcast batch vs cluster-assigned
    // stored side (stored corpus touched only on the batch's clusters,
    // never self-joined), in-batch keep-first on the same broadcast. The
    // semantic twin of dedup_incremental's band-table topology.
    "dedup_semantic_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.semanticDedupIncremental(
          emb.where(col("vec_id") % 10 =!= 9), emb.where(col("vec_id") % 10 === 9),
          cents, "vec_id", "embedding", "c_id", "c_emb", threshold = 0.35)
        .orderBy("vec_id")
    }),

    // Word-3-gram Jaccard near-dup via an inverted shingle index self-join
    // with a document-frequency cap on shingles (see Dedup.ngramCandidates
    // — the guard against the boilerplate-shingle k² blowup).
    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramCandidates(widen(t(s, dir, "documents")), "text", "doc_id",
          k = 3, dfCap = 100, threshold = 0.5)
        .orderBy("a_id", "b_id")),

    // Bag-of-words cosine similarity join (integer cos²·10⁴ over the
    // df-capped discriminative-term subspace) — the weighted-vector
    // complement of dedup_ngram's set Jaccard, same linear
    // inverted-index topology.
    "dedup_cosine_pairs" -> ((s, dir) =>
      Dedup.cosinePairs(t(s, dir, "documents"), "text", "doc_id",
          minCos2Bp = 2500, dfCap = 100)
        .orderBy("a", "b")),

    // Prefix-filter set-similarity self-join (PPJoin-style candidate
    // generation under a global rare-first shingle order, exact
    // integer-arithmetic verify — see Dedup.prefixJaccardJoin).
    "dedup_ppjoin" -> ((s, dir) =>
      Dedup.prefixJaccardJoin(t(s, dir, "documents"), "text", "doc_id",
          k = 3, tNum = 1, tDen = 2)
        .orderBy("id_a", "id_b")),

    // Salted two-phase collect_set over a genuinely hot key (3 returnflag
    // groups × 200k rows each at sf0.1) — the bounded-group-state pattern
    // for holistic aggregates at scale.
    "skew_salted_collect" -> ((s, dir) =>
      graft.ops.Skew.saltedCollectSet(
        t(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity").cast(IntegerType))
        .select(col("l_returnflag"), to_json(col("values")).as("values"))
        .orderBy("l_returnflag")),

    // Runtime-filter pattern: a 128 KB broadcast Bloom filter of the
    // selective dim keys drops non-matching fact rows BEFORE the join's
    // shuffle; the exact semi join after it makes false positives
    // harmless — so the oracle is the plain semi join.
    "bloom_prune_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val bloom = graft.ops.Bloom.build(urgent, "o_orderkey", mBits = 1 << 20, k = 5)
      val pruned = graft.ops.Bloom.prune(t(s, dir, "lineitem"), "l_orderkey", bloom, k = 5)
      pruned.join(urgent, pruned("l_orderkey") === urgent("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Capstone composition — a real curation pipeline: quality gate
    // (stopword ratio + length) → exact-dedup keep-first → deterministic
    // 50% sample → per-language counts. Every stage is one of the
    // verified ops; this checks they compose.
    "pipeline_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = docs
        .withColumn("stop_hits", Functions.wordSetHits(col("text"), stopEn))
        .withColumn("n_tok", size(split(col("text"), " ")))
        .where(col("n_tok") >= 20 && col("stop_hits") > 0)
      val keep = Dedup.exactGroups(quality, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val kept = quality.join(keep, "doc_id")
      graft.ops.Sampling.sample(kept, "doc_id", 50)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_tok"), 4).as("avg_tokens"))
        .orderBy("lang")
    }),

    // Quality-gate ablation sweep: docs/tokens retained at each stopword-
    // ratio threshold (basis points, 0..1800 by 200) — the curve that
    // justifies a gate value before a 100 TB filter run. One pass for the
    // per-doc score, a 10-row threshold broadcast, one grouped agg.
    "pipeline_quality_sweep" -> ((s, dir) => {
      import s.implicits._
      val stops = stopEn.mkString(",")
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          expr(s"word_set_hits(text, '$stops') * 10000L div size(split(text, ' '))")
            .as("q_bp"))
      val thresholds = (0 to 1800 by 200).toDF("thr_bp")
      scored.join(broadcast(thresholds), col("q_bp") >= col("thr_bp"))
        .groupBy("thr_bp")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("thr_bp")
    }),

    // Safety blocklist gate: per-doc hits against a term blocklist (the
    // word-filter stage every release pipeline runs) — native
    // word_set_hits loop, narrow projection; flags + hit counts.
    "text_blocklist" -> ((s, dir) => {
      val blocked = Seq("error", "slow", "dup", "spill", "skew")
      t(s, dir, "documents").select(col("doc_id"),
          Functions.wordSetHits(col("text"), blocked).as("block_hits"))
        .select(col("doc_id"), col("block_hits"),
          (col("block_hits") > 0).cast("int").as("flagged"))
        .orderBy("doc_id")
    }),

    "mm_meta" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        lit("text/plain").as("media_type"))
        .orderBy("doc_id")),

    // Typed-Aggregator merge (K3/A4): two conflicting doc projections of
    // `part`, merged through graft.ingest.MergeFastDocs.
    "merge_fast_docs" -> ((s, dir) => {
      import s.implicits._
      import graft.model.FastDoc
      val part = t(s, dir, "part")
      val d1 = part.select(
        col("p_partkey").cast("int").as("_id"), col("p_partkey").cast("int").as("fast"),
        lit("Topical").as("type"), col("p_name").as("prefLabel"),
        array(col("p_brand")).as("altLabel"),
        array().cast("array<string>").as("sameAsLc"),
        array().cast("array<string>").as("sameAsViaf"),
        array(Functions.normalizeSingular(col("p_name"))).as("normalized"))
      val d2 = part.select(
        col("p_partkey").cast("int").as("_id"), col("p_partkey").cast("int").as("fast"),
        lit("Geographic").as("type"), lit(null).cast("string").as("prefLabel"),
        array(col("p_type")).as("altLabel"),
        array().cast("array<string>").as("sameAsLc"),
        array().cast("array<string>").as("sameAsViaf"),
        array(Functions.normalizeSingular(col("p_type"))).as("normalized"))
      d1.unionByName(d2).as[FastDoc]
        .groupByKey(_._id)
        .agg(graft.ingest.MergeFastDocs.toColumn.name("doc"))
        .map(_._2)
        .toDF()
        .select(col("_id"), col("fast"), col("type"), col("prefLabel"),
          to_json(col("altLabel")).as("altLabel"),
          to_json(col("sameAsLc")).as("sameAsLc"),
          to_json(col("sameAsViaf")).as("sameAsViaf"),
          to_json(col("normalized")).as("normalized"))
        .orderBy("_id")
    }),

    // Deploy-shaped MERGE sink (the reference's upsert path,
    // `lib/ingest.js:134-165`, at deploy shape): replay three
    // micro-batches — create, update+insert, delete+upsert — through
    // Sinks.mergeInto's hash-bucketed dynamic-overwrite layout, then read
    // the final table back. The oracle computes the same per-key fold in
    // closed form (last-writer-wins with deletes), so a hash match proves
    // the multi-batch merge semantics end to end — previously this sink
    // was spec-only. Values are integer-derived (custkey), so the compare
    // is exact cross-engine.
    "sink_merge_into" -> ((s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft_sink_merge")
        .toString + "/t"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey"))
      // batch 1 (create): every %3 key, v = custkey
      graft.ingest.Sinks.mergeInto(s, path,
        o.where(col("k") % 3 === 0).select(col("k"), col("o_custkey").as("v")),
        "k", numBuckets = 16)
      // batch 2 (update + insert): every %2 key, v = 2·custkey
      graft.ingest.Sinks.mergeInto(s, path,
        o.where(col("k") % 2 === 0)
          .select(col("k"), (col("o_custkey") * 2).as("v")),
        "k", numBuckets = 16)
      // batch 3 (delete + upsert): %5-only keys deleted (absent keys are
      // a no-op), %7 keys upserted to -1
      graft.ingest.Sinks.mergeInto(s, path,
        o.where(col("k") % 5 === 0 || col("k") % 7 === 0)
          .select(col("k"), lit(-1L).as("v"), (col("k") % 7 =!= 0).as("_del")),
        "k", numBuckets = 16, deleteCol = Some("_del"))
      graft.ingest.Sinks.readMerged(s, path).orderBy("k")
    }),

    // Multimodal plumbing: documents as binary payloads through the typed
    // mapPartitions decode (text → deterministic stub path — see Multimodal).
    "mm_decode" -> ((s, dir) =>
      graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.fromDocuments(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id")),

    // REAL image-header decode (ImageHeaders): build PNG/GIF/JPEG byte
    // streams with dimensions derived from doc_id, parse them back through
    // the binary decode path, and let the oracle recompute the encoded
    // dimensions arithmetically — a hash match proves the container
    // parsers extract exactly what the public specs say is there.
    // REAL video-container header decode (Mp4Headers): ISO-BMFF box walk
    // for brand + mvhd timescale/duration; oracle recomputes the encoded
    // values (incl. integer-exact millisecond duration) arithmetically.
    "mm_decode_video" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Mp4Headers
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val brand = (id % 3) match {
            case 0 => "isom"; case 1 => "mp42"; case _ => "avc1"
          }
          val timescale = 1000L * (id % 4 + 1)
          val duration = id % 90000 + 1
          val parsed = Mp4Headers.parse(Mp4Headers.mp4Bytes(brand, timescale, duration))
          val (b, ts, d) = parsed.getOrElse(("none", -1L, -1L))
          (id, b, ts, d, if (ts > 0) d * 1000L / ts else -1L)
        }
        .toDF("media_id", "brand", "timescale", "duration", "duration_ms")
        .orderBy("media_id")
    }),

    // REAL audio-header decode (WavHeaders): synthesize RIFF/WAVE byte
    // streams with doc_id-derived parameters, parse them back, and let
    // the oracle recompute every field (incl. integer-exact duration)
    // arithmetically — a hash match proves the chunk walk reads exactly
    // what the public spec says is there.
    "mm_decode_audio" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.WavHeaders
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val channels = (id % 2).toInt + 1
          val rate = 8000 * ((id % 5).toInt + 1)
          val bits = if (id % 3 == 0) 8 else 16
          val dataBytes = ((id % 1000).toInt + 1) * 4
          val parsed = WavHeaders.parse(
            WavHeaders.wavBytes(channels, rate, bits, dataBytes))
          val (c, r, b, n) = parsed.getOrElse((-1, -1, -1, -1L))
          val byteRate = r.toLong * c * b / 8
          (id, c.toLong, r.toLong, b.toLong, n,
            if (byteRate > 0) n * 1000000L / byteRate else -1L)
        }
        .toDF("media_id", "channels", "sample_rate", "bits", "data_bytes", "duration_us")
        .orderBy("media_id")
    }),

    // REAL pixel decode (BmpPixels): synthesize 24-bpp BMPs whose pixel
    // (x, y) channels follow a closed-form formula bounded under 256 (no
    // mod wrap), walk every pixel back through the binary decode path,
    // and let the oracle recompute the per-channel sums arithmetically —
    // a hash match proves the decoder touches every pixel exactly once,
    // honors bottom-up row order and 4-byte row padding, and reads the
    // B,G,R byte order the spec defines.
    "mm_decode_pixels" -> ((s, dir) => {
      import s.implicits._
      import graft.model.MediaRecord
      import graft.ops.{BmpPixels, Multimodal}
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 16).toInt + 1
          val h = (id % 12).toInt + 1
          val base = (id % 5).toInt
          // max = 15*7 + 11*11 + 4 + 6 = 236 < 256 — exact closed form
          val payload = BmpPixels.bmpBytes(w, h, (x, y) => {
            val v = x * 7 + y * 11 + base
            (v, v + 3, v + 6)
          })
          MediaRecord(id, "image/bmp", payload, Map.empty)
        }
      Multimodal.decodePixels(recs)
        .toDF()
        .select(col("media_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // REAL compressed-image decode: the same closed-form pixel field as
    // mm_decode_pixels, but carried as an actual zlib-compressed PNG —
    // rows filtered with type y%5 at encode, so the decoder's inflate +
    // Sub/Up/Average/Paeth reversal must reproduce every pixel exactly
    // for the oracle's arithmetic sums to hash-match. The one compressed
    // codec a bare JVM ships (java.util.zip); see ops/PngPixels.
    "mm_decode_png" -> ((s, dir) => {
      import s.implicits._
      import graft.model.MediaRecord
      import graft.ops.{Multimodal, PngPixels}
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 13).toInt + 1
          val h = (id % 9).toInt + 2
          val base = (id % 7).toInt
          // max = 12*5 + 10*13 + 6 = 196 < 256 — exact closed form
          val payload = PngPixels.pngBytes(w, h, (x, y) => {
            val v = x * 5 + y * 13 + base
            (v, v + 2, v + 4)
          })
          MediaRecord(id, "image/png", payload, Map.empty)
        }
      Multimodal.decodePixels(recs)
        .toDF()
        .select(col("media_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // REAL lossy-codec decode (JpegPixels): baseline JPEG — huffman
    // entropy decode, DC prediction, dequant, the full 64-term IDCT,
    // 4:2:0 chroma upsampling, JFIF color transform, restart resync,
    // byte unstuffing. JPEG is lossy, so the fixture is built where the
    // roundtrip is EXACT: constant 8×8 blocks quantized with Q(0,0)=8
    // code DC = v−128 and IDCT back to precisely v (ops/JpegPixels docs),
    // and constant chroma turns the float color transform into exact
    // per-channel integer offsets — so the oracle recomputes every sum
    // arithmetically and a hash match proves the full decode path
    // touches every pixel exactly.
    "mm_decode_jpeg" -> ((s, dir) => {
      import graft.ops.Multimodal
      // staged corpus (shared with mm_phash_jpeg): encode is fixture
      // scaffolding — the timed path is parquet scan → decode, the shape
      // a real image corpus has
      val recs = stagedJpegCorpus(s, dir)
      Multimodal.decodePixels(recs)
        .toDF()
        .select(col("media_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // PROGRESSIVE (SOF2) twin of mm_decode_jpeg: the same DC-exact
    // generator laid out as a real multi-scan progression (DC first pass
    // at Al=1 + DC refinement + per-component AC scans as spanning EOB
    // runs — ops/JpegPixels.scala jpegProgressiveBytes), so the closed-
    // form oracle is IDENTICAL and a hash match proves the successive-
    // approximation machinery reconstructs every pixel exactly.
    "mm_decode_jpeg_progressive" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Multimodal
      val recs = widen(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 21).toInt + 6
          val h = (id % 17).toInt + 6
          val base = ((id * 3) % 160).toInt
          graft.model.MediaRecord(id, "image/jpeg",
            graft.ops.JpegPixels.jpegProgressiveBytes(w, h,
              grey = id % 2 == 0,
              (bx, by) => 40 + ((bx * 5 + by * 7 + base) % 160),
              cb = 128 + ((id % 3).toInt - 1) * 10,
              cr = 128 + ((id % 5).toInt - 2) * 5), Map.empty)
        }
      Multimodal.decodePixels(recs)
        .toDF()
        .select(col("media_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Corpus-coverage measurement (r15 verdict #6): a mixed JPEG corpus
    // — baseline, progressive, and deliberately-truncated progressions —
    // classified by SOF marker and by whether the strict decoder accepts
    // it. This is the operational report an engineer reads before
    // trusting pixel stats over a crawl shard: what fraction decodes,
    // what fraction falls to the header/metadata fallback, by kind.
    "mm_jpeg_coverage" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.JpegPixels
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 21).toInt + 6
          val h = (id % 17).toInt + 6
          val base = ((id * 3) % 160).toInt
          val yOf = (bx: Int, by: Int) => 40 + ((bx * 5 + by * 7 + base) % 160)
          val payload =
            if (id % 7 == 6) // stranded progression: AC band left at Al=1
              JpegPixels.jpegProgressiveGreyFromCoefs(w, h,
                (bx, by) => { val c = new Array[Int](64)
                  c(0) = yOf(bx, by) - 128; c(5) = 6; c },
                omitAcRefine = true)
            else if (id % 3 == 2)
              JpegPixels.jpegProgressiveBytes(w, h, grey = id % 2 == 0, yOf,
                cb = 128 + ((id % 3).toInt - 1) * 10,
                cr = 128 + ((id % 5).toInt - 2) * 5)
            else
              JpegPixels.jpegBytes(w, h, grey = id % 2 == 0, yOf,
                cb = 128 + ((id % 3).toInt - 1) * 10,
                cr = 128 + ((id % 5).toInt - 2) * 5)
          (JpegPixels.sofKind(payload).getOrElse("not-jpeg"),
            if (JpegPixels.decode(payload).isDefined) 1L else 0L)
        }
        .toDF("kind", "ok")
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum("ok").as("n_decoded"))
        .orderBy("kind")
    }),

    // MP3 frame-header walk (Mp3Headers): the lossy-audio metadata path
    // — VBR frame lengths (padding-aware), exact duration as the
    // (n_samples, sample_rate) rational, ID3v2/v1 framing — everything
    // a pipeline asks before shipping a payload to a real decoder. The
    // fixture rotates rate/channel/VBR/tag shapes by id; every reported
    // field is closed-form so the oracle replays the whole walk.
    "mm_decode_mp3" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Mp3Headers
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val nf = (id % 40).toInt + 3
          val bis = (0 until nf).map(f => ((id + f * 7) % 14).toInt + 1)
          val pads = (0 until nf).map(f => (id + f) % 3 == 0)
          val payload = Mp3Headers.mp3Bytes((id % 3).toInt, bis, pads,
            mono = id % 2 == 0,
            id3v2Size = if (id % 4 == 0) 50 + (id % 20).toInt else -1,
            id3v1 = id % 5 == 0)
          Mp3Headers.parse(payload).map(i =>
            (id, i.version, i.layer, i.sampleRate, i.channels, i.nFrames,
              i.nSamples, i.sumBitrateKbps,
              if (i.id3v2) 1 else 0, if (i.id3v1) 1 else 0))
        }
        .toDF("media_id", "version", "layer", "sample_rate", "channels",
          "n_frames", "n_samples", "sum_kbps", "has_id3v2", "has_id3v1")
        .orderBy("media_id")
    }),

    // REAL TIFF decode (TiffPixels): the scanned-document codec pairing
    // with text_pdf_extract — IFD walk, strips, TIFF-variant LZW
    // (MSB-first, EARLY width change) with horizontal predictor 2.
    // Variants rotate by id: uncompressed / LZW / LZW+predictor, grey /
    // RGB, single- / multi-strip. Lossless ⇒ decoded bytes equal the
    // generator formula and the oracle recomputes every channel sum.
    "mm_decode_tiff" -> ((s, dir) => {
      import s.implicits._
      import graft.model.MediaRecord
      import graft.ops.{Multimodal, TiffPixels}
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 12).toInt + 2
          val h = (id % 8).toInt + 2
          val base = (id % 9).toInt
          val grey = id % 2 == 0
          val payload = TiffPixels.tiffBytes(w, h, if (grey) 1 else 3,
            (x, y) => {
              val v = (x * 7 + y * 3 + base) % 256
              (v, (x * 5 + y * 11 + base) % 256, (x * 13 + y + base) % 256)
            },
            lzw = id % 3 != 0,
            predictor2 = id % 3 == 2,
            rowsPerStrip = if (id % 5 == 0) 3 else Int.MaxValue)
          MediaRecord(id, "image/tiff", payload, Map.empty)
        }
      Multimodal.decodePixels(recs).toDF()
        .select(col("media_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Whole-image-stack corpus coverage (generalizing mm_jpeg_coverage):
    // classify every payload by its SNIFFED container kind (signature +
    // SOF walk — never by what the fixture intended) and whether the
    // full decode chain accepts it — the report to read before trusting
    // pixel statistics on a mixed crawl shard. One kind (png) carries
    // deliberately truncated members, so its n_decoded < n proves the
    // count separates sniffability from decodability.
    "mm_image_coverage" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.{BmpPixels, GifPixels, JpegPixels, PngPixels}
      t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 13).toInt + 6
          val h = (id % 9).toInt + 6
          val base = (id % 7).toInt
          val px3 = (x: Int, y: Int) => {
            val v = (x * 5 + y * 13 + base) % 252
            (v, (v + 2) % 256, (v + 4) % 256)
          }
          val yOf = (bx: Int, by: Int) => 40 + ((bx * 5 + by * 7 + base) % 160)
          val payload = (id % 6) match {
            case 0 => BmpPixels.bmpBytes(w, h, px3)
            case 1 => PngPixels.pngBytes(w, h, px3)
            case 2 => JpegPixels.jpegBytes(w, h, grey = id % 2 == 0, yOf,
              cb = 128, cr = 128)
            case 3 => GifPixels.gifBytes(w, h, gifPal16, 0,
              Seq(GifPixels.FrameSpec(0, 0, w, h,
                (x, y) => ((x * 3 + y * 7 + id) % 16).toInt)))
            case 4 => JpegPixels.jpegProgressiveBytes(w, h,
              grey = id % 2 == 0, yOf, cb = 128, cr = 128)
            case _ => PngPixels.pngBytes(w, h, px3).dropRight(9) // truncated
          }
          val kind =
            if (payload.length >= 2 && payload(0) == 'B' && payload(1) == 'M')
              "bmp"
            else if (payload.length >= 4 && (payload(0) & 0xff) == 0x89 &&
              payload(1) == 'P') "png"
            else if (payload.length >= 2 && (payload(0) & 0xff) == 0xff &&
              (payload(1) & 0xff) == 0xd8)
              "jpeg-" + JpegPixels.sofKind(payload).getOrElse("unknown")
            else if (payload.length >= 4 &&
              new String(payload, 0, 4, "US-ASCII") == "GIF8") "gif"
            else "unknown"
          val ok = BmpPixels.decode(payload).isDefined ||
            PngPixels.decode(payload).isDefined ||
            JpegPixels.decode(payload).isDefined ||
            GifPixels.decode(payload).isDefined
          (kind, if (ok) 1L else 0L)
        }
        .toDF("kind", "ok")
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum("ok").as("n_decoded"))
        .orderBy("kind")
    }),

    // REAL audio sample walk (WavPcm): synthesize mono 16-bit PCM whose
    // sample i follows a closed-form integer formula, decode the bytes
    // back, and report exact per-64-sample-window sums / energy / silence
    // flags — the oracle recomputes every window arithmetically, proving
    // the byte-level LE16 walk and windowing end-to-end.
    "mm_audio_energy" -> ((s, dir) => {
      import s.implicits._
      import graft.model.MediaRecord
      import graft.ops.{Multimodal, WavPcm}
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val n = (id % 300).toInt + 50
          val samples = Array.tabulate(n)(i =>
            (((i.toLong * 37 + id) % 2001) - 1000).toShort)
          MediaRecord(id, "audio/wav", WavPcm.wavPcm16(8000, samples), Map.empty)
        }
      Multimodal.audioWindows(recs, windowSamples = 64)
        .select(col("media_id"), col("window_id"), col("n_s"),
          col("sum_s"), col("sum_sq"), col("silent"))
        .orderBy("media_id", "window_id")
    }),

    // COMPRESSED audio decode (FlacPcm): synthesize closed-form PCM, FLAC-
    // encode it (fixture scaffolding that cycles every subframe strategy
    // and stereo assignment — ops/FlacPcm.scala), decode the compressed
    // bytes back, and report exact per-64-sample-window sums per channel.
    // FLAC is lossless, so the decoded samples equal the generator formula
    // bit-for-bit and the oracle recomputes every window arithmetically —
    // a hash match proves the full bitstream walk (rice partitions, CRCs,
    // fixed/LPC predictors, mid/side reconstruction) sample-exactly.
    "mm_decode_flac" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.FlacPcm
      widen(t(s, dir, "documents"))
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val n = (id % 300).toInt + 50
          val ch0 = Array.tabulate(n)(i => (((i.toLong * 37 + id) % 2001) - 1000).toInt)
          val chans =
            if (id % 2 == 1)
              Array(ch0, Array.tabulate(n)(i =>
                (((i.toLong * 53 + 2 * id) % 1801) - 900).toInt))
            else Array(ch0)
          val dec = FlacPcm.decode(FlacPcm.flacEncode16(8000, chans))
            .getOrElse(throw new IllegalStateException(s"flac roundtrip failed id=$id"))
          for {
            c <- dec.samples.indices
            w <- 0 until (n + 63) / 64
          } yield {
            val from = w * 64
            val until = math.min(from + 64, n)
            var sumS = 0L; var sumSq = 0L
            var i2 = from
            while (i2 < until) {
              val v = dec.samples(c)(i2)
              sumS += v; sumSq += v.toLong * v
              i2 += 1
            }
            (id, c.toLong, w.toLong, (until - from).toLong, sumS, sumSq)
          }
        }
        .toDF("media_id", "ch", "window_id", "n_s", "sum_s", "sum_sq")
        .orderBy("media_id", "ch", "window_id")
    }),

    // REAL LZW-codec decode (GifPixels): the third compressed image
    // format, staged like BMP/JPEG — scan → full GIF decode (variable-
    // width LZW incl. interior clears on every third id, interlace
    // reorder on every even id). GIF is lossless, so decoded pixels
    // equal the generator formula and the oracle recomputes every
    // channel sum arithmetically — a hash match proves the LZW walk,
    // palette mapping, and both scan orders pixel-exactly.
    "mm_decode_gif" -> ((s, dir) =>
      graft.ops.Multimodal.decodePixels(stagedGifCorpus(s, dir)).toDF()
        .select(col("media_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")),

    // FRAME SAMPLING over animated media (Multimodal.gifFrameSamples):
    // the video-pipeline operation — decode a multi-frame stream, keep
    // every 2nd frame, emit per-kept-frame composited stats — on the one
    // codec pure-JVM decodes exactly (H.264 stays documented-out,
    // Mp4Headers scaladoc). Frames are nested shrinking rects drawn over
    // prior frames (odd frames interlaced), so the composited pixel at
    // (x,y) after frame f comes from frame least(f,x,y) — a closed form
    // the oracle evaluates directly, proving LZW + interlace +
    // compositing across frame boundaries.
    "mm_gif_frames" -> ((s, dir) => {
      import s.implicits._
      import graft.model.MediaRecord
      import graft.ops.GifPixels
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .filter(_ % 10 == 0)
        .map { id =>
          val w = (id % 9).toInt + 6
          val h = (id % 7).toInt + 5
          val nf = (id % 4).toInt + 2
          val frames = (0 until nf).map(f =>
            GifPixels.FrameSpec(f, f, w - f, h - f,
              (x, y) => ((x * 3 + y * 7 + f * 13 + id) % 16).toInt,
              delayCs = f * 4 + 2, interlace = f % 2 == 1))
          MediaRecord(id, "image/gif",
            GifPixels.gifBytes(w, h, gifPal16, 0, frames), Map.empty)
        }
      graft.ops.Multimodal.gifFrameSamples(recs, every = 2).toDF()
        .select(col("media_id"), col("frame_id"), col("delay_cs"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id", "frame_id")
    }),

    // Perceptual average-hash over REAL decoded pixels: 8×8 block grid,
    // bit = block mean luminance > global mean via exact integer
    // cross-multiply — the near-duplicate IMAGE key (image dedup becomes
    // the dedup_exact hash-groupBy shape). The oracle recomputes every
    // bit arithmetically from the generator formula, so a hash match
    // proves the full decode → block → threshold chain pixel-exactly.
    // The BMP corpus is STAGED (stagedBmpCorpus): encode is fixture
    // scaffolding, so the timed path is parquet scan → decode → hash.
    "mm_phash" -> ((s, dir) =>
      graft.ops.Multimodal.perceptualHashes(stagedBmpCorpus(s, dir)).toDF()
        .select(col("media_id"), col("width"), col("height"), col("phash_hex"))
        .orderBy("media_id")),

    // Perceptual hash over the LOSSY codec (r15): the same 8×8-block
    // average-hash construction as mm_phash, fed by the full baseline
    // JPEG decode — image dedup over the codec real crawls are made of.
    // The oracle rebuilds every bit arithmetically from the DC-exact
    // generator; the constant per-image color offsets CANCEL in the
    // block-vs-global threshold (affine-invariance of the average hash),
    // so one formula covers grey and color.
    "mm_phash_jpeg" -> ((s, dir) =>
      graft.ops.Multimodal.perceptualHashes(stagedJpegCorpus(s, dir)).toDF()
        .select(col("media_id"), col("width"), col("height"), col("phash_hex"))
        .orderBy("media_id")),

    // Image near-dup pairs: collapse the corpus to DISTINCT phash
    // classes first (the dedup_exact shape — the class table is what
    // scales, not the image count), then Manku 4×16-bit banding + exact
    // popcount over the classes (ops/Multimodal.phashPairs). Output is
    // every class pair within Hamming ≤ 3 with both class populations —
    // the image twin of dedup_simhash_pairs, proving the multimodal
    // dedup story composes end-to-end (decode → hash → groupBy → banded
    // pair join).
    "mm_phash_pairs" -> ((s, dir) => {
      import graft.ops.Multimodal
      val recs = stagedBmpCorpus(s, dir)
      // persisted: the class table feeds BOTH sides of the band
      // self-join plus the two population joins — uncached, the full
      // BMP encode + decode + hash pipeline would run four times. The
      // result is checkpointed via Iterate.scoped so the cache is
      // RELEASED at query-build exit (the neighborSimilarity
      // discipline), not pinned until session stop.
      val classes = Multimodal.perceptualHashes(recs).toDF()
        .groupBy("phash_hex").agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Multimodal.phashPairs(classes, "phash_hex", maxHamming = 3)
        .join(classes.select(col("phash_hex").as("pa"), col("n").as("n_a")), "pa")
        .join(classes.select(col("phash_hex").as("pb"), col("n").as("n_b")), "pb")
        .select(col("pa"), col("pb"), col("hamming"), col("n_a"), col("n_b"))
      graft.ops.Iterate.scoped(pairs, classes)
        .orderBy("hamming", "pa", "pb")
    }),

    "mm_decode_headers" -> ((s, dir) => {
      import s.implicits._
      import graft.model.MediaRecord
      import graft.ops.{ImageHeaders, Multimodal}
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 640).toInt + 1
          val h = (id % 480).toInt + 1
          val payload = (id % 3) match {
            case 0 => ImageHeaders.pngBytes(w, h)
            case 1 => ImageHeaders.gifBytes(w, h)
            case _ => ImageHeaders.jpegBytes(w, h)
          }
          MediaRecord(id, "application/octet-stream", payload, Map.empty)
        }
      Multimodal.extractFeatures(recs)
        .toDF()
        .select(col("media_id"), col("media_type"), col("width"), col("height"))
        .orderBy("media_id")
    })
  )

  // ---------------------------------------------------------------- oracles

  /** 10 BPE merge rounds unrolled as chained DuckDB CTE stages (the merge
    * recurrence is sequential, so recursive SQL can't express it — but a
    * fixed round count needs no recursion). Each stage re-derives pair
    * counts from the current word-frequency table, takes the argmax
    * (count desc, then lexicographic), and applies the merge via the same
    * double-gap literal replace `text_bpe_apply` uses — greedy
    * left-to-right non-overlapping, exactly one engine regex pass.
    */
  private lazy val bpeMergesOracle: String = {
    def stage(r: Int): String = {
      val p = r - 1
      s""" c$r AS (SELECT z[1] AS l, z[2] AS r, sum(freq)::BIGINT AS pf FROM (
         |        SELECT freq, unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS z
         |        FROM (SELECT string_split(syms, ' ') AS arr, freq FROM w$p)
         |        WHERE len(arr) >= 2)
         |      GROUP BY 1, 2),
         | t$r AS (SELECT l, r, pf FROM c$r ORDER BY pf DESC, l, r LIMIT 1),
         | w$r AS (SELECT trim(replace(
         |           replace(' ' || replace(w$p.syms, ' ', '  ') || ' ',
         |                   ' ' || t$r.l || '  ' || t$r.r || ' ',
         |                   ' ' || t$r.l || t$r.r || ' '),
         |           '  ', ' ')) AS syms, w$p.freq
         |         FROM w$p CROSS JOIN t$r),""".stripMargin
    }
    val tail = (1 to 10)
      .map(r => s"""SELECT $r AS "rank", l AS "left", r AS "right", pf AS pair_freq FROM t$r""")
      .mkString(" UNION ALL ")
    ("""WITH w0 AS (
       |  SELECT array_to_string(list_filter(string_split(w, ''), x -> x <> ''), ' ')
       |           || ' </w>' AS syms,
       |         count(*) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |        FROM documents)
       |  GROUP BY 1),""".stripMargin +
      (1 to 10).map(stage).mkString.stripSuffix(",") +
      s""" SELECT * FROM ($tail) ORDER BY "rank"""").replace("\n", " ")
  }

  def oracleSql: Map[String, String] = Map(

    "q1_filter_project" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        | WHERE o_orderstatus = 'F' AND o_totalprice > 1000 ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "q2_string_funcs" ->
      """SELECT p_partkey, lower(p_name) AS name_lower, length(p_name) AS name_len,
        | string_split(p_type, ' ')[-1] AS type_last FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    "q3_cast_filter" ->
      """SELECT l_orderkey, l_linenumber, CAST(trunc(l_quantity) AS INTEGER) AS qty_int
        | FROM lineitem WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),

    "q4_groupby_collect" ->
      """SELECT l_orderkey, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
        | to_json(list_sort(list_distinct(list(l_returnflag))))::VARCHAR AS flags
        | FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin.replace("\n", " "),

    "q5_first_nonnull" ->
      """SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_date,
        | max(o_orderpriority) AS max_priority,
        | coalesce(max(CASE WHEN o_orderstatus = 'F' THEN o_orderstatus END), min(o_orderstatus)) AS pick_status
        | FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin.replace("\n", " "),

    "q6_join_chain" ->
      """SELECT c_custkey, n_name, r_name FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "q7_disjunctive_join" ->
      """SELECT DISTINCT c_custkey, s_suppkey FROM customer JOIN supplier
        | ON c_nationkey = s_nationkey OR c_custkey = s_suppkey
        | ORDER BY c_custkey, s_suppkey""".stripMargin.replace("\n", " "),

    "q8_semi_join" ->
      """SELECT c_custkey FROM customer WHERE EXISTS
        | (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "q8_anti_join" ->
      """SELECT c_custkey FROM customer WHERE NOT EXISTS
        | (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1999-01-01') ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "q9_merge_dedup" ->
      """WITH u AS (
        |   SELECT p_partkey, p_name, 'Brand#A' AS p_brand FROM part
        |   UNION ALL
        |   SELECT p_partkey,
        |          CASE WHEN p_partkey % 2 = 0 THEN p_name || ' extended' ELSE substr(p_name, 1, 4) END,
        |          p_brand FROM part),
        | g AS (
        |   SELECT p_partkey, max(length(p_name)) AS ml,
        |          list_sort(list_distinct(list(p_brand))) AS brands
        |   FROM u GROUP BY p_partkey)
        | SELECT g.p_partkey,
        |        (SELECT max(p_name) FROM u WHERE u.p_partkey = g.p_partkey AND length(u.p_name) = g.ml) AS name_kept,
        |        to_json(g.brands)::VARCHAR AS brands
        | FROM g ORDER BY g.p_partkey""".stripMargin.replace("\n", " "),

    "q10_explode_tokens" ->
      """SELECT doc_id, token FROM (
        |   SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        | WHERE length(token) >= 2 ORDER BY doc_id, token LIMIT 1000""".stripMargin.replace("\n", " "),

    "q11_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "),

    "q12_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |        coalesce(o_orderpriority, '(all)') AS priority, count(*) AS cnt
        | FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        | ORDER BY status, priority""".stripMargin.replace("\n", " "),

    "q13_window" ->
      """SELECT l_orderkey, l_linenumber,
        |        row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, rn""".stripMargin.replace("\n", " "),

    "q14_event_window" ->
      """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS window_start, event_type,
        |        count(*) AS cnt, round(sum(value), 2) AS sum_val
        | FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " "),

    // the streamed replay must land on the batch answer — same oracle as q14
    "streaming_replay_q14" ->
      """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS window_start, event_type,
        |        count(*) AS cnt, round(sum(value), 2) AS sum_val
        | FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " "),

    "q49_hopping_window" ->
      """WITH h AS (SELECT event_type, value,
        |   unnest([epoch_ns(ts) - (epoch_ns(ts) % 3600000000000),
        |           epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) - 3600000000000]) AS window_start
        |   FROM events)
        | SELECT window_start, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_val
        | FROM h GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " "),

    "q15_normalize" ->
      s"SELECT doc_id, ${nsSql("text")} AS norm_text FROM documents ORDER BY doc_id",

    "q16_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        | FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),

    "q17_datetime" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |        CAST(month(o_orderdate) AS INTEGER) AS mo,
        |        CAST(day(o_orderdate) AS INTEGER) AS dom,
        |        CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "q18_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_nationkey < 12
        | INTERSECT SELECT o_custkey FROM orders
        | ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "q19_except" ->
      """SELECT p_partkey FROM part
        | EXCEPT SELECT l_partkey FROM lineitem
        | ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    "q54_listagg" ->
      """SELECT o_orderpriority,
        |   string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |   count(*) AS n
        | FROM orders GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),

    "q53_value_windows" ->
      """SELECT o_orderkey, o_orderstatus,
        |   first_value(o_orderkey) OVER w AS top_key,
        |   last_value(o_orderkey) OVER w AS bottom_key,
        |   nth_value(o_orderkey, 2) OVER w AS second_key
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderstatus
        |              ORDER BY o_totalprice DESC, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "q52_topk_exec" ->
      """WITH r AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |     row_number() OVER (PARTITION BY o_orderstatus
        |                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |   FROM orders)
        | SELECT o_orderkey, o_orderstatus, o_totalprice FROM r
        | WHERE rn <= 3 ORDER BY o_orderstatus, o_orderkey""".stripMargin.replace("\n", " "),

    "q51_set_ops_all" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem),
        | b AS (SELECT o_custkey % 100 AS k FROM orders),
        | ia AS (SELECT k, count(*) AS n_inter
        |   FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY k),
        | ea AS (SELECT k, count(*) AS n_except
        |   FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY k)
        | SELECT coalesce(ia.k, ea.k) AS k, coalesce(n_inter, 0) AS n_inter,
        |   coalesce(n_except, 0) AS n_except
        | FROM ia FULL OUTER JOIN ea ON ia.k = ea.k ORDER BY k""".stripMargin.replace("\n", " "),

    "orders_pareto" ->
      """WITH spend AS (SELECT o_custkey,
        |     CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,6))) * 100) AS BIGINT) AS cents
        |   FROM orders GROUP BY o_custkey),
        | r AS (SELECT o_custkey, cents,
        |     row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn FROM spend),
        | t AS (SELECT count(*) AS _n, sum(cents)::BIGINT AS _tot FROM spend)
        | SELECT CAST(((rn - 1) * 10) // _n AS INTEGER) + 1 AS decile,
        |   CAST((sum(cents) * 10000) // max(_tot) AS BIGINT) AS share_bp,
        |   count(*) AS n_cust
        | FROM r, t GROUP BY 1 ORDER BY decile""".stripMargin.replace("\n", " "),

    "q20_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |        CAST(coalesce(year(o_orderdate), -1) AS INTEGER) AS yr, count(*) AS cnt
        | FROM orders GROUP BY CUBE(o_orderstatus, year(o_orderdate))
        | ORDER BY status, yr""".stripMargin.replace("\n", " "),

    "q21_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
        |        round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |        round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        | ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " "),

    "q22_range_join" ->
      """SELECT a.event_id AS a_id, count(*) AS n_follow
        | FROM events a JOIN events b
        |   ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND epoch_ns(b.ts) >= epoch_ns(a.ts)
        |  AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 3600000000000
        | GROUP BY a.event_id ORDER BY a_id""".stripMargin.replace("\n", " "),

    "q30_struct" ->
      """SELECT o_orderkey,
        |        to_json({'status': o_orderstatus, 'price': round(o_totalprice, 2)})::VARCHAR AS info
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "profile_orders" ->
      """WITH s AS (SELECT count(*) AS total,
        |   count(o_custkey) AS c1, count(DISTINCT o_custkey) AS d1,
        |     CAST(min(o_custkey) AS VARCHAR) AS mn1, CAST(max(o_custkey) AS VARCHAR) AS mx1,
        |   count(o_orderstatus) AS c2, count(DISTINCT o_orderstatus) AS d2,
        |     CAST(min(o_orderstatus) AS VARCHAR) AS mn2, CAST(max(o_orderstatus) AS VARCHAR) AS mx2,
        |   count(o_totalprice) AS c3, count(DISTINCT o_totalprice) AS d3,
        |     CAST(min(o_totalprice) AS VARCHAR) AS mn3, CAST(max(o_totalprice) AS VARCHAR) AS mx3
        |   FROM orders)
        | SELECT 'o_custkey' AS "column", total - c1 AS n_null, d1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM s
        | UNION ALL
        | SELECT 'o_orderstatus', total - c2, d2, mn2, mx2 FROM s
        | UNION ALL
        | SELECT 'o_totalprice', total - c3, d3, mn3, mx3 FROM s
        | ORDER BY "column"""".stripMargin.replace("\n", " "),

    "bloom_prune_join" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        | FROM lineitem
        | WHERE l_orderkey IN
        |   (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "profile_histogram" ->
      """SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin, count(*) AS cnt,
        |        min(o_totalprice) AS min_val, max(o_totalprice) AS max_val,
        |        round(sum(o_totalprice), 2) AS sum_r2
        | FROM orders GROUP BY 1 ORDER BY bin""".stripMargin.replace("\n", " "),

    "sample_weighted" ->
      """SELECT doc_id, n_chars FROM (
        |   SELECT doc_id, n_chars,
        |          -ln(((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                + 1)::DOUBLE) / 4294967296.0) / n_chars::DOUBLE AS ekey
        |   FROM documents WHERE n_chars::DOUBLE > 0 ORDER BY ekey, doc_id LIMIT 20)
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "pipeline_pretrain" ->
      s"""WITH q AS (SELECT doc_id, text, source,
         |             len(string_split(text, ' ')) AS n_tok,
         |             len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits
         |           FROM documents),
         | g AS (SELECT * FROM q WHERE n_tok >= 20 AND stop_hits > 0),
         | ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM g),
         | shl AS (SELECT doc_id,
         |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
         |         FROM ws),
         | ex AS (SELECT doc_id, len(shl) AS n_sh,
         |        ('0x' || substr(md5(unnest(shl)), 1, 15))::BIGINT AS sh FROM shl),
         | dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
         | nd AS (SELECT count(*) AS nd FROM g),
         | per AS (SELECT ex.doc_id,
         |         sum(CASE WHEN df * 1000 >= nd * 5 THEN 1 ELSE 0 END) * 10000 // max(n_sh) AS bp
         |         FROM ex JOIN dfq USING (sh), nd GROUP BY ex.doc_id),
         | clean AS (SELECT g.* FROM g LEFT JOIN per USING (doc_id)
         |           WHERE coalesce(per.bp, 0) <= 8000),
         | firstids AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
         | dd AS (SELECT c.* FROM clean c JOIN firstids USING (doc_id)),
         | c2 AS (SELECT source, count(*)::BIGINT AS n_s FROM dd GROUP BY source),
         | m AS (SELECT min(n_s)::BIGINT AS n_min FROM c2),
         | r AS (SELECT source,
         |        least(10000, floor(10000.0 * sqrt(n_min::DOUBLE / n_s::DOUBLE))::BIGINT) AS keep_bp
         |        FROM c2, m),
         | k AS (SELECT dd.source, dd.n_tok FROM dd JOIN r USING (source)
         |       WHERE ('0x' || substr(md5('ts:' || CAST(dd.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |             % 10000 < r.keep_bp)
         | SELECT source, count(*) AS n_docs, sum(n_tok)::BIGINT AS tokens
         | FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    "sample_temperature" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source),
        | m AS (SELECT min(n_s)::BIGINT AS n_min FROM c),
        | r AS (SELECT source, n_s,
        |        least(10000, floor(10000.0 * sqrt(n_min::DOUBLE / n_s::DOUBLE))::BIGINT)::BIGINT
        |          AS keep_bp
        |        FROM c, m),
        | k AS (SELECT d.source, r.n_s, r.keep_bp
        |       FROM documents d JOIN r USING (source)
        |       WHERE ('0x' || substr(md5('ts:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |             % 10000 < r.keep_bp)
        | SELECT source, max(n_s)::BIGINT AS n_s, max(keep_bp)::BIGINT AS keep_bp,
        |        count(*) AS kept
        | FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    "split_kfold" ->
      """SELECT doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_dupfrac" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | ex AS (SELECT doc_id, len(shl) AS n_sh,
        |        ('0x' || substr(md5(unnest(shl)), 1, 15))::BIGINT AS sh FROM shl),
        | dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
        | per AS (SELECT ex.doc_id, max(n_sh)::BIGINT AS n_grams,
        |         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_grams
        |         FROM ex JOIN dfq USING (sh) GROUP BY ex.doc_id),
        | tot AS (SELECT d.doc_id, coalesce(per.n_grams, 0)::BIGINT AS n_grams,
        |         coalesce(per.dup_grams, 0)::BIGINT AS dup_grams,
        |         CASE WHEN coalesce(per.n_grams, 0) > 0
        |              THEN (per.dup_grams * 10000 // per.n_grams)::BIGINT
        |              ELSE 0::BIGINT END AS dup_frac_bp
        |         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
        | SELECT doc_id, n_grams, dup_grams, dup_frac_bp,
        |        (CASE WHEN dup_frac_bp <= 8000 THEN 1 ELSE 0 END)::INT AS keep
        | FROM tot ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "quality_outliers" ->
      """WITH st AS (SELECT lang, count(*)::DOUBLE AS n, sum(n_chars)::DOUBLE AS s,
        |            sum(n_chars * n_chars)::DOUBLE AS ss FROM documents GROUP BY lang)
        | SELECT doc_id, lang, n_chars,
        |        round((n_chars::DOUBLE - s / n) / sqrt(ss / n - (s / n) * (s / n)), 3) AS z_r3
        | FROM documents JOIN st USING (lang)
        | WHERE ss / n - (s / n) * (s / n) > 0
        |   AND abs((n_chars::DOUBLE - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 1.5
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "sketch_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct, 1 AS approx_ok
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "sketch_hll_merge" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct, 1 AS merge_ok
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "sketch_frequent_items" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        | tt AS (SELECT term, count(*)::BIGINT AS cnt FROM tok WHERE term <> '' GROUP BY term),
        | n AS (SELECT count(*)::BIGINT AS n FROM tok WHERE term <> '')
        | SELECT term, cnt FROM tt, n WHERE cnt * 51 > n
        | ORDER BY cnt DESC, term""".stripMargin.replace("\n", " "),

    "q41_global_rank" ->
      """SELECT o_orderkey,
        |        row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "profile_equidepth" ->
      """WITH r AS (SELECT o_totalprice,
        |             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |             count(*) OVER () AS n FROM orders)
        | SELECT ((rn - 1) * 10 // n + 1)::BIGINT AS bucket, count(*) AS cnt,
        |        min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        | FROM r GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "),

    "table_diff" ->
      """WITH a AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |           WHERE o_orderkey % 10 < 9),
        | b AS (SELECT o_orderkey,
        |              CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 50, 2)
        |                   ELSE o_totalprice END AS o_totalprice,
        |              o_orderstatus FROM orders WHERE o_orderkey % 10 > 0)
        | SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |        a.o_totalprice AS a_o_totalprice, a.o_orderstatus AS a_o_orderstatus,
        |        b.o_totalprice AS b_o_totalprice, b.o_orderstatus AS b_o_orderstatus,
        |        CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |             WHEN b.o_orderkey IS NULL THEN 'removed'
        |             WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
        |               OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'changed'
        |             ELSE 'unchanged' END AS status
        | FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "scd2_history" ->
      """WITH cur AS (SELECT c_custkey, c_acctbal, c_mktsegment,
        |                    0::BIGINT AS valid_from, NULL::BIGINT AS valid_to FROM customer),
        | upd AS (SELECT c_custkey,
        |                CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 100, 2)
        |                     ELSE c_acctbal END AS u_bal,
        |                c_mktsegment AS u_seg, 1000::BIGINT AS uts
        |         FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 1),
        | keep AS (SELECT c.* FROM cur c LEFT JOIN upd u USING (c_custkey)
        |          WHERE u.c_custkey IS NULL
        |             OR (NOT c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 AND NOT c.c_mktsegment IS DISTINCT FROM u.u_seg)),
        | closed_now AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
        |                       c.valid_from, u.uts AS valid_to
        |                FROM cur c JOIN upd u USING (c_custkey)
        |                WHERE c.c_acctbal IS DISTINCT FROM u.u_bal
        |                   OR c.c_mktsegment IS DISTINCT FROM u.u_seg),
        | new_open AS (SELECT u.c_custkey, u.u_bal AS c_acctbal, u.u_seg AS c_mktsegment,
        |                     u.uts AS valid_from, NULL::BIGINT AS valid_to
        |              FROM upd u LEFT JOIN cur c USING (c_custkey)
        |              WHERE c.c_custkey IS NULL
        |                 OR c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 OR c.c_mktsegment IS DISTINCT FROM u.u_seg)
        | SELECT * FROM keep UNION ALL SELECT * FROM closed_now
        | UNION ALL SELECT * FROM new_open
        | ORDER BY c_custkey, valid_from""".stripMargin.replace("\n", " "),

    "scd2_asof_lookup" ->
      """WITH cur AS (SELECT c_custkey, c_acctbal, c_mktsegment,
        |                    0::BIGINT AS valid_from, NULL::BIGINT AS valid_to FROM customer),
        | upd AS (SELECT c_custkey,
        |                CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 100, 2)
        |                     ELSE c_acctbal END AS u_bal,
        |                c_mktsegment AS u_seg, 1000::BIGINT AS uts
        |         FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 1),
        | keep AS (SELECT c.* FROM cur c LEFT JOIN upd u USING (c_custkey)
        |          WHERE u.c_custkey IS NULL
        |             OR (NOT c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 AND NOT c.c_mktsegment IS DISTINCT FROM u.u_seg)),
        | closed_now AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
        |                       c.valid_from, u.uts AS valid_to
        |                FROM cur c JOIN upd u USING (c_custkey)
        |                WHERE c.c_acctbal IS DISTINCT FROM u.u_bal
        |                   OR c.c_mktsegment IS DISTINCT FROM u.u_seg),
        | new_open AS (SELECT u.c_custkey, u.u_bal AS c_acctbal, u.u_seg AS c_mktsegment,
        |                     u.uts AS valid_from, NULL::BIGINT AS valid_to
        |              FROM upd u LEFT JOIN cur c USING (c_custkey)
        |              WHERE c.c_custkey IS NULL
        |                 OR c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 OR c.c_mktsegment IS DISTINCT FROM u.u_seg),
        | hist AS (SELECT * FROM keep UNION ALL SELECT * FROM closed_now
        |          UNION ALL SELECT * FROM new_open),
        | probes AS (SELECT c_custkey, unnest([500::BIGINT, 1500::BIGINT]) AS t FROM customer)
        | SELECT p.c_custkey, p.t, h.c_acctbal, h.c_mktsegment
        | FROM probes p JOIN hist h USING (c_custkey)
        | WHERE h.valid_from <= p.t AND (h.valid_to IS NULL OR p.t < h.valid_to)
        | ORDER BY p.c_custkey, p.t""".stripMargin.replace("\n", " "),

    "cdc_latest" ->
      """SELECT user_id, event_id, event_type, ts_us FROM (
        |   SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |          row_number() OVER (PARTITION BY user_id
        |            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |   FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin.replace("\n", " "),

    "skew_salted_join" ->
      """WITH dim AS (SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS flag_label
        |             FROM lineitem)
        | SELECT flag_label, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        | FROM lineitem JOIN dim USING (l_returnflag)
        | GROUP BY flag_label ORDER BY flag_label""".stripMargin.replace("\n", " "),

    "graph_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 4),
        | e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |           FROM li a JOIN li b
        |           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | nodes AS (SELECT count(DISTINCT n)::BIGINT AS n_nodes
        |           FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
        | edges AS (SELECT count(*)::BIGINT AS n_edges FROM e),
        | tri AS (SELECT count(*)::BIGINT AS n_triangles
        |         FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |                   JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        | SELECT n_nodes, n_edges, n_triangles FROM nodes, edges, tri
        | ORDER BY n_nodes""".stripMargin.replace("\n", " "),

    "graph_scc" ->
      """WITH RECURSIVE raw AS MATERIALIZED (
        |   SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
        |   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |   JOIN customer c ON o.o_custkey = c.c_custkey
        |   JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |   WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2),
        | e AS MATERIALIZED (SELECT src, dst FROM raw WHERE cnt % 11 = 0),
        | nodes AS (SELECT DISTINCT src AS n FROM e UNION SELECT DISTINCT dst FROM e),
        | reach(s, d) AS (SELECT src, dst FROM e
        |   UNION SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src),
        | mutual AS (SELECT a.s AS u, a.d AS v
        |            FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s),
        | scc AS (SELECT n.n AS node, least(n.n, coalesce(min(m.v), n.n)) AS scc_id
        |         FROM nodes n LEFT JOIN mutual m ON m.u = n.n GROUP BY n.n)
        | SELECT node::BIGINT AS node, scc_id::BIGINT AS scc_id
        | FROM scc ORDER BY node""".stripMargin.replace("\n", " "),

    "graph_jaccard" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 3),
        | e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |        FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | adj AS (SELECT u AS n, v AS nb FROM e UNION ALL SELECT v, u FROM e),
        | deg AS MATERIALIZED (SELECT n, count(*)::BIGINT AS deg FROM adj GROUP BY n),
        | sm AS (SELECT adj.n, adj.nb FROM adj JOIN deg ON adj.n = deg.n
        |        WHERE deg.deg <= 128),
        | cn AS (SELECT u, v, cn FROM (
        |          SELECT a.nb AS u, b.nb AS v, count(*)::BIGINT AS cn
        |          FROM sm a JOIN sm b ON a.n = b.n AND a.nb < b.nb GROUP BY 1, 2)
        |        WHERE cn >= 2),
        | j AS (SELECT cn.u, cn.v, cn.cn, du.deg AS deg_u, dv.deg AS deg_v,
        |         (cn.cn * 10000 // (du.deg + dv.deg - cn.cn))::BIGINT AS jaccard_bp,
        |         coalesce(le.linked, false) AS linked
        |       FROM cn JOIN deg du ON cn.u = du.n JOIN deg dv ON cn.v = dv.n
        |       LEFT JOIN (SELECT u, v, true AS linked FROM e) le
        |         ON cn.u = le.u AND cn.v = le.v)
        | SELECT u, v, cn, deg_u, deg_v, jaccard_bp, linked FROM j
        | ORDER BY jaccard_bp DESC, u, v LIMIT 100""".stripMargin.replace("\n", " "),

    // 3 PageRank rounds unrolled as chained CTEs; expression shapes
    // mirror Graph.pageRank term by term ((1.0-0.85)/n, NOT 0.15/n —
    // IEEE 1.0-0.85 != 0.15 exactly).
    "graph_pagerank" ->
      """WITH raw AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |             FROM lineitem l
        |             JOIN orders o ON l.l_orderkey = o.o_orderkey
        |             JOIN customer c ON o.o_custkey = c.c_custkey
        |             JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        | e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        | nodes AS MATERIALIZED (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        | nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        | deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        | r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
        | d1 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r0 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i1 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r0 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r1 AS MATERIALIZED (SELECT nodes.node, (1.0 - 0.85) / nn.n
        |          + 0.85 * (coalesce(i1.inbound, 0.0) + d1.dmass / nn.n) AS rank
        |        FROM nodes CROSS JOIN nn CROSS JOIN d1
        |        LEFT JOIN i1 ON nodes.node = i1.dst),
        | d2 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r1 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i2 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r1 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r2 AS MATERIALIZED (SELECT nodes.node, (1.0 - 0.85) / nn.n
        |          + 0.85 * (coalesce(i2.inbound, 0.0) + d2.dmass / nn.n) AS rank
        |        FROM nodes CROSS JOIN nn CROSS JOIN d2
        |        LEFT JOIN i2 ON nodes.node = i2.dst),
        | d3 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r2 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i3 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r2 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r3 AS MATERIALIZED (SELECT nodes.node, (1.0 - 0.85) / nn.n
        |          + 0.85 * (coalesce(i3.inbound, 0.0) + d3.dmass / nn.n) AS rank
        |        FROM nodes CROSS JOIN nn CROSS JOIN d3
        |        LEFT JOIN i3 ON nodes.node = i3.dst)
        | SELECT node::BIGINT AS node, round(rank * 1e8)::BIGINT AS rank_e8
        | FROM r3 ORDER BY node""".stripMargin.replace("\n", " "),

    // 3 synchronous LPA rounds unrolled; integer labels → exact
    // recurrence; tie-break = highest count then smallest label,
    // isolated nodes keep their own label each round.
    "graph_labelprop" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 4),
        | d AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM li a JOIN li b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | e AS (SELECT DISTINCT src, dst FROM
        |         (SELECT src, dst FROM d UNION ALL SELECT dst AS src, src AS dst FROM d)
        |       WHERE src <> dst),
        | nodes AS (SELECT src AS node FROM d UNION SELECT dst FROM d),
        | l0 AS (SELECT node, node AS label FROM nodes),
        | c1 AS (SELECT e.src AS node, l.label, count(*) AS cnt
        |        FROM e JOIN l0 l ON e.dst = l.node GROUP BY e.src, l.label),
        | b1 AS (SELECT node, label FROM (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |        FROM c1) WHERE rn = 1),
        | l1 AS (SELECT nodes.node, coalesce(b1.label, nodes.node) AS label
        |        FROM nodes LEFT JOIN b1 ON nodes.node = b1.node),
        | c2 AS (SELECT e.src AS node, l.label, count(*) AS cnt
        |        FROM e JOIN l1 l ON e.dst = l.node GROUP BY e.src, l.label),
        | b2 AS (SELECT node, label FROM (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |        FROM c2) WHERE rn = 1),
        | l2 AS (SELECT nodes.node, coalesce(b2.label, nodes.node) AS label
        |        FROM nodes LEFT JOIN b2 ON nodes.node = b2.node),
        | c3 AS (SELECT e.src AS node, l.label, count(*) AS cnt
        |        FROM e JOIN l2 l ON e.dst = l.node GROUP BY e.src, l.label),
        | b3 AS (SELECT node, label FROM (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |        FROM c3) WHERE rn = 1),
        | l3 AS (SELECT nodes.node, coalesce(b3.label, nodes.node) AS label
        |        FROM nodes LEFT JOIN b3 ON nodes.node = b3.node)
        | SELECT node::BIGINT AS node, label::BIGINT AS label
        | FROM l3 ORDER BY node""".stripMargin.replace("\n", " "),

    "text_bpe_apply" ->
      s"""WITH $bpeChainCte
        | SELECT doc_id,
        |        len(string_split(replace(bpe_syms, chr(31), ' '), ' '))::INT AS n_bpe_tokens,
        |        bpe_syms
        | FROM fin ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_fertility" ->
      s"""WITH $bpeChainCte,
        | t AS (SELECT d.lang,
        |        len(list_filter(string_split(d.text, ' '), w -> w <> ''))::BIGINT AS n_w,
        |        len(string_split(replace(f.bpe_syms, chr(31), ' '), ' '))::BIGINT AS n_t
        |      FROM fin f JOIN documents d ON d.doc_id = f.doc_id)
        | SELECT lang, count(*) AS n_docs, sum(n_w)::BIGINT AS sum_words,
        |        sum(n_t)::BIGINT AS sum_tokens,
        |        (100 * sum(n_t) // sum(n_w))::BIGINT AS fertility_x100
        | FROM t GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),

    "bpe_merges" -> bpeMergesOracle,

    "text_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | cnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tnz GROUP BY doc_id, term),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct,
        |         list_sort(list(struct_pack(term := term, c := c))) AS lst
        |         FROM cnt GROUP BY doc_id)
        | SELECT doc_id, n, n_distinct,
        |        round(ln(n::DOUBLE) - list_reduce(
        |          list_prepend(0.0, [x.c::DOUBLE * ln(x.c::DOUBLE) for x in lst]),
        |          (a, b) -> a + b) / n::DOUBLE, 3) AS entropy_r3
        | FROM per ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | cnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tnz GROUP BY doc_id, term),
        | gf AS (SELECT term, count(*)::BIGINT AS gf FROM tnz GROUP BY term),
        | n AS (SELECT count(*)::BIGINT AS n FROM tnz),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n_tok,
        |         list_sort(list(struct_pack(term := term, c := c, gf := gf))) AS lst
        |         FROM cnt JOIN gf USING (term) GROUP BY doc_id)
        | SELECT doc_id, n_tok,
        |        round(list_reduce(
        |          list_prepend(0.0, [x.c::DOUBLE * ln(x.gf::DOUBLE) for x in lst]),
        |          (a, b) -> a + b) / n_tok::DOUBLE - ln(n.n::DOUBLE), 3) AS avg_logp_r3
        | FROM per, n ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_lm_bigram" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT doc_id, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | cnt AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2, 3),
        | bgf AS (SELECT w1, w2, count(*)::BIGINT AS bgf FROM bg GROUP BY 1, 2),
        | lcf AS (SELECT w1, count(*)::BIGINT AS lcf FROM bg GROUP BY 1),
        | vv AS (SELECT count(DISTINCT t)::BIGINT AS v
        |        FROM (SELECT unnest(a) AS t FROM w)),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |           list_sort(list(struct_pack(w1 := w1, w2 := w2, c := c,
        |             bgf := bgf, lcf := lcf, v := v))) AS lst
        |         FROM cnt JOIN bgf USING (w1, w2) JOIN lcf USING (w1) CROSS JOIN vv
        |         GROUP BY doc_id)
        | SELECT doc_id, n_bigrams,
        |        round(list_reduce(list_prepend(0.0,
        |          [x.c::DOUBLE * (ln(x.bgf::DOUBLE + 1.0)
        |             - ln(x.lcf::DOUBLE + x.v::DOUBLE)) for x in lst]),
        |          (a, b) -> a + b) / n_bigrams::DOUBLE, 3) AS avg_logp_r3
        | FROM per ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_lm_kn_doc" ->
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT doc_id, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | bt AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
        | heads AS (SELECT w1, sum(c)::BIGINT AS cv, count(*)::BIGINT AS n1pv
        |           FROM bt GROUP BY w1),
        | tails AS (SELECT w2, count(*)::BIGINT AS ncw FROM bt GROUP BY w2),
        | tot AS (SELECT count(*)::BIGINT AS t FROM bt),
        | kn AS (SELECT w1, w2,
        |     (${knPpm("//")})::BIGINT AS kn_ppm
        |   FROM bt JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN tot),
        | dcnt AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS dc
        |          FROM bg GROUP BY 1, 2, 3)
        | SELECT doc_id, sum(dc)::BIGINT AS n_bigrams,
        |   (sum(dc * kn_ppm) // sum(dc))::BIGINT AS mean_kn_ppm
        | FROM dcnt JOIN kn USING (w1, w2)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_lm_kn" ->
      s"""WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | bt AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
        | heads AS (SELECT w1, sum(c)::BIGINT AS cv, count(*)::BIGINT AS n1pv
        |           FROM bt GROUP BY w1),
        | tails AS (SELECT w2, count(*)::BIGINT AS ncw FROM bt GROUP BY w2),
        | tot AS (SELECT count(*)::BIGINT AS t FROM bt)
        | SELECT w1, w2, c,
        |   (${knPpm("//")})::BIGINT AS kn_ppm
        | FROM bt JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN tot
        | WHERE c >= 5 ORDER BY kn_ppm DESC, w1, w2 LIMIT 100""".stripMargin.replace("\n", " "),

    "sketch_cms" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT term FROM tok WHERE term <> ''),
        | tt AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM tnz GROUP BY term),
        | n AS (SELECT count(*)::BIGINT AS n FROM tnz)
        | SELECT term, exact_cnt, 1 AS lower_ok, 1 AS upper_ok
        | FROM tt, n WHERE exact_cnt * 51 > n ORDER BY term""".stripMargin.replace("\n", " "),

    "sketch_frequent_by_lang" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | c AS (SELECT lang, term, count(*)::BIGINT AS cnt FROM tnz GROUP BY lang, term),
        | n AS (SELECT lang, count(*)::BIGINT AS n FROM tnz GROUP BY lang)
        | SELECT c.lang, c.term, c.cnt FROM c JOIN n USING (lang) WHERE c.cnt * 51 > n.n
        | ORDER BY lang, cnt DESC, term""".stripMargin.replace("\n", " "),

    "pack_sequences" ->
      """WITH d AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
        | s AS (SELECT lang, doc_id, n_tok,
        |        coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
        |        FROM d)
        | SELECT lang, doc_id, n_tok, start_tok,
        |        (start_tok // 512)::BIGINT AS bin_id, (start_tok % 512)::BIGINT AS offset_in_bin
        | FROM s ORDER BY lang, doc_id""".stripMargin.replace("\n", " "),

    "decontaminate" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | sh AS (SELECT doc_id, len(shl) AS n_sh, unnest(shl) AS sh FROM shl),
        | corp AS (SELECT doc_id, n_sh,
        |          ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh WHERE doc_id % 7 <> 0),
        | bench AS (SELECT DISTINCT ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |           FROM sh WHERE doc_id % 7 = 0),
        | hits AS (SELECT c.doc_id, max(c.n_sh) AS n_sh,
        |          sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_shared
        |          FROM corp c LEFT JOIN bench b ON c.h = b.h GROUP BY c.doc_id)
        | SELECT doc_id, n_sh, n_shared, round(n_shared / n_sh, 4) AS overlap_frac,
        |        (n_shared >= n_sh * 0.5)::INT AS contaminated
        | FROM hits ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "decontaminate_attrib" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | sh AS (SELECT doc_id, len(shl) AS n_sh, unnest(shl) AS sh FROM shl),
        | corp AS (SELECT doc_id, n_sh,
        |          ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh
        |          WHERE doc_id % 7 <> 0),
        | bench AS (SELECT DISTINCT doc_id % 3 AS bench_id,
        |           ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |           FROM sh WHERE doc_id % 7 = 0),
        | hits AS (SELECT c.doc_id, b.bench_id, max(c.n_sh)::BIGINT AS n_sh,
        |          count(*)::BIGINT AS n_shared
        |          FROM corp c JOIN bench b ON c.h = b.h GROUP BY 1, 2)
        | SELECT doc_id, bench_id, n_sh, n_shared,
        |        (n_shared * 10000 // n_sh)::BIGINT AS overlap_bp
        | FROM hits WHERE n_shared >= 3
        | ORDER BY doc_id, bench_id""".stripMargin.replace("\n", " "),

    // NB: expression tree (associativity, k1+1 as an ADD, no logs) must
    // mirror Rank.bm25TopTerms exactly — IEEE +,*,/ are deterministic,
    // so the trees match bit-for-bit; a "simplified" 2.2 literal would not.
    "text_bm25" ->
      """WITH toks AS (
        |   SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        | t AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term),
        | dl AS (SELECT doc_id, sum(tf) AS dl FROM t GROUP BY doc_id),
        | d AS (SELECT term, count(*) AS doc_freq FROM t GROUP BY term),
        | g AS (SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl),
        | s AS (SELECT t.doc_id, t.term, t.tf, d.doc_freq,
        |        (g.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5) * (t.tf * (1.2 + 1.0)) /
        |          (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / g.avgdl)) AS raw
        |   FROM t JOIN dl USING (doc_id) JOIN d USING (term) CROSS JOIN g),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rn FROM s)
        | SELECT doc_id, term, tf, doc_freq, round(raw, 4) AS score
        | FROM r WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin.replace("\n", " "),

    "sketch_quantiles" ->
      """WITH r AS (
        |   SELECT l_returnflag, l_extendedprice,
        |          row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |          count(*) OVER (PARTITION BY l_returnflag) AS n
        |   FROM lineitem)
        | SELECT l_returnflag,
        |        max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS median_price,
        |        max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90_price,
        |        1 AS approx_ok
        | FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "q28_levenshtein" ->
      """SELECT p_partkey, levenshtein(p_name, lower(p_type)) AS name_type_dist
        | FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    "q29_ranking" ->
      """SELECT o_orderkey, o_orderstatus,
        |        dense_rank() OVER w AS drk, ntile(4) OVER w AS quartile
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "q33_sql_surface" ->
      """SELECT c_custkey,
        |        round((SELECT sum(o_totalprice) FROM orders WHERE o_custkey = c_custkey), 2) AS spend
        | FROM customer ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "q36_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        | v AS (SELECT user_id, min(ts_us) AS v_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
        | c AS (SELECT e.user_id, min(e.ts_us) AS c_ts FROM e JOIN v USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts_us > v.v_ts GROUP BY e.user_id),
        | p AS (SELECT DISTINCT e.user_id FROM e JOIN c USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts_us > c.c_ts)
        | SELECT '1_view' AS stage, count(*) AS users FROM v
        | UNION ALL SELECT '2_click', count(*) FROM c
        | UNION ALL SELECT '3_purchase', count(*) FROM p
        | ORDER BY stage""".stripMargin.replace("\n", " "),

    "layout_zorder" -> {
      val zTerms = (0 until 16).map(i =>
        s"((((a >> $i) & 1) << ${2 * i}) | (((b >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" | ")
      s"""WITH t AS (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS a,
         |            CAST(floor(o_totalprice / 100) AS BIGINT) AS b FROM orders)
         | SELECT o_orderkey, $zTerms AS z FROM t
         | ORDER BY z, o_orderkey""".stripMargin.replace("\n", " ")
    },

    "shard_layout" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        |   FROM documents)
        | SELECT doc_id, hv % 8 AS shard,
        |        row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos,
        |        n_chars
        | FROM h ORDER BY shard, pos""".stripMargin.replace("\n", " "),

    // the streaming custom-state sessionizer must reproduce the batch
    // rollup exactly — ordinals included — so its oracle IS q35's SQL
    "streaming_replay_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        | f AS (SELECT user_id, ts_us, event_id, value,
        |        CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |             OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq FROM f)
        | SELECT user_id, session_seq, count(*) AS n_events,
        |        max(ts_us) - min(ts_us) AS dur_us,
        |        round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS sum_val
        | FROM g GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin.replace("\n", " "),

    "q35_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        | f AS (SELECT user_id, ts_us, event_id, value,
        |        CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |             OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq FROM f)
        | SELECT user_id, session_seq, count(*) AS n_events,
        |        max(ts_us) - min(ts_us) AS dur_us,
        |        round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS sum_val
        | FROM g GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin.replace("\n", " "),

    "q34_multi_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        | ORDER BY c_nationkey, c_mktsegment""".stripMargin.replace("\n", " "),

    "q40_range_window" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |            FROM events WHERE user_id < 100)
        | SELECT user_id, ts_us, event_id,
        |        count(*) OVER w AS n_trailing_1h,
        |        round(sum(value::DECIMAL(20,6)) OVER w, 2)::DOUBLE AS sum_trailing_1h
        | FROM ev
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        | ORDER BY user_id, ts_us, event_id""".stripMargin.replace("\n", " "),

    "quality_mad" ->
      """WITH v AS (SELECT lang, n_chars AS v FROM documents),
        | c AS (SELECT lang, v, count(*) AS c FROM v GROUP BY lang, v),
        | cum AS (SELECT lang, v, c,
        |   sum(c) OVER (PARTITION BY lang ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |   sum(c) OVER (PARTITION BY lang) AS n FROM c),
        | med AS (SELECT lang, v::BIGINT AS med FROM cum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm),
        | dev AS (SELECT t.lang, t.v, abs(t.v - m.med) AS d, m.med
        |   FROM v t JOIN med m USING (lang)),
        | dc AS (SELECT lang, d, count(*) AS c FROM dev GROUP BY lang, d),
        | dcum AS (SELECT lang, d, c,
        |   sum(c) OVER (PARTITION BY lang ORDER BY d
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |   sum(c) OVER (PARTITION BY lang) AS n FROM dc),
        | mad AS (SELECT lang, d::BIGINT AS mad FROM dcum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm)
        | SELECT dev.lang, count(*) AS n, max(med)::BIGINT AS med,
        |        max(mad)::BIGINT AS mad,
        |        sum(CASE WHEN d > mad THEN 1 ELSE 0 END)::BIGINT AS out_1mad,
        |        sum(CASE WHEN d > mad * 2 THEN 1 ELSE 0 END)::BIGINT AS out_2mad,
        |        sum(CASE WHEN d > mad * 3 THEN 1 ELSE 0 END)::BIGINT AS out_3mad
        | FROM dev JOIN mad USING (lang)
        | GROUP BY dev.lang ORDER BY dev.lang""".stripMargin.replace("\n", " "),

    "q44_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '*') AS status,
        |       coalesce(o_orderpriority, '*') AS priority,
        |       GROUPING(o_orderstatus)::INT AS g_status,
        |       GROUPING(o_orderpriority)::INT AS g_prio,
        |       count(*) AS n,
        |       round(sum(o_totalprice::DECIMAL(20,2)), 2)::DOUBLE AS total
        | FROM orders
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        | ORDER BY g_status, g_prio, status, priority""".stripMargin.replace("\n", " "),

    "q43_interpolate" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |            FROM events WHERE event_type = 'purchase'),
        | daily AS (SELECT user_id, day, count(*) AS cnt FROM ev GROUP BY user_id, day),
        | b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id),
        | grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM b),
        | j AS (SELECT g.user_id, g.day, d.cnt
        |       FROM grid g LEFT JOIN daily d USING (user_id, day)),
        | w AS (SELECT user_id, day, cnt,
        |   last_value(cnt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |   last_value(CASE WHEN cnt IS NOT NULL THEN day END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |   first_value(cnt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |   first_value(CASE WHEN cnt IS NOT NULL THEN day END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |   FROM j)
        | SELECT user_id, day::BIGINT AS day,
        |   (CASE WHEN cnt IS NOT NULL THEN cnt * 1000
        |         ELSE (pv * (nd - day) + nv * (day - pd)) * 1000 // (nd - pd)
        |    END)::BIGINT AS filled_x1000,
        |   (cnt IS NULL)::INT AS gap
        | FROM w ORDER BY user_id, day""".stripMargin.replace("\n", " "),

    "events_survival" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              epoch_us(ts) // 86400000000 AS day FROM events),
        | users AS (SELECT user_id, min(day) AS fd FROM ev GROUP BY user_id),
        | conv AS (SELECT user_id, min(day) AS pd FROM ev
        |          WHERE event_type = 'purchase' GROUP BY user_id),
        | cut AS (SELECT min(day) + 3 AS c FROM ev),
        | durs AS (SELECT CASE WHEN pd IS NOT NULL AND pd <= c THEN pd - fd
        |                      ELSE c - fd END AS dur,
        |            (pd IS NOT NULL AND pd <= c)::BIGINT AS dead
        |          FROM users LEFT JOIN conv USING (user_id), cut
        |          WHERE fd <= c),
        | bydur AS (SELECT dur, count(*)::BIGINT AS n_all, sum(dead)::BIGINT AS d
        |           FROM durs GROUP BY dur),
        | tot AS (SELECT count(*)::BIGINT AS n FROM durs),
        | ar AS (SELECT dur, d,
        |     (n - coalesce(sum(n_all) OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
        |   FROM bydur, tot),
        | deaths AS (SELECT dur, d, n_risk FROM ar WHERE d > 0)
        | SELECT dur AS t_day, n_risk, d AS n_churn,
        |   CASE WHEN n_risk = d THEN 0.0 ELSE
        |   round(exp(sum(ln((CASE WHEN n_risk = d THEN n_risk
        |                     ELSE n_risk - d END)::DOUBLE / n_risk::DOUBLE))
        |     OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 3)
        |   END AS surv_r3
        | FROM deaths ORDER BY t_day""".stripMargin.replace("\n", " "),

    "cohort_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        | SELECT cohort_day, day - cohort_day AS day_offset,
        |        count(DISTINCT e.user_id) AS users
        | FROM e JOIN f USING (user_id)
        | GROUP BY cohort_day, day_offset
        | ORDER BY cohort_day, day_offset""".stripMargin.replace("\n", " "),

    "q42_window_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | b AS (SELECT max(day) AS hi FROM ud),
        | c AS (SELECT user_id, unnest(range(day, day + 7)) AS wday FROM ud)
        | SELECT wday::BIGINT AS wday, count(DISTINCT user_id) AS u7
        | FROM c, b WHERE wday <= hi
        | GROUP BY wday ORDER BY wday""".stripMargin.replace("\n", " "),

    "q39_resample" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr, value
        |            FROM events WHERE user_id < 50),
        | hourly AS (SELECT user_id, hr,
        |            round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS hr_val
        |            FROM ev GROUP BY user_id, hr),
        | bounds AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM ev GROUP BY user_id),
        | grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hr FROM bounds),
        | j AS (SELECT g.user_id, g.hr, h.hr_val
        |       FROM grid g LEFT JOIN hourly h USING (user_id, hr))
        | SELECT user_id, hr::BIGINT AS hr,
        |        coalesce(hr_val, last_value(hr_val IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY hr
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS filled,
        |        (hr_val IS NULL)::INT AS gap
        | FROM j ORDER BY user_id, hr""".stripMargin.replace("\n", " "),

    "q38_unpivot" ->
      """SELECT metric, count(*) AS n,
        |        round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS total
        | FROM (UNPIVOT (SELECT l_orderkey, l_quantity AS quantity,
        |                l_extendedprice AS extendedprice, l_discount AS discount,
        |                l_tax AS tax FROM lineitem)
        |       ON quantity, extendedprice, discount, tax
        |       INTO NAME metric VALUE value)
        | GROUP BY metric ORDER BY metric""".stripMargin.replace("\n", " "),

    "q37_lateral" ->
      """SELECT n.n_nationkey, n.n_name, c.c_custkey, c.c_acctbal
        | FROM nation n,
        | LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |          WHERE c_nationkey = n.n_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        | ORDER BY n_nationkey, c_acctbal DESC, c_custkey""".stripMargin.replace("\n", " "),

    "q31_window_family" ->
      """SELECT o_orderkey, o_orderstatus,
        |        first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_key,
        |        round(percent_rank() OVER w, 6) AS pr,
        |        round(cume_dist() OVER w, 6) AS cd
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "q32_conditional" ->
      """SELECT o_orderkey, greatest(o_totalprice, 1000.0) AS floor_price,
        |        least(o_totalprice, 100000.0) AS cap_price,
        |        nullif(o_orderstatus, 'F') AS non_final,
        |        coalesce(nullif(o_orderstatus, 'F'), 'DONE') AS status_or_done
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "q26_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |        count(DISTINCT l_suppkey) AS n_supps
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "q27_pivot" ->
      """SELECT l_linestatus,
        |        round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS a_qty,
        |        round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS n_qty,
        |        round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS r_qty
        | FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin.replace("\n", " "),

    "sample_deterministic" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |       < (CASE lang WHEN 'en' THEN 10 ELSE 50 END)
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "split_train_test" ->
      """SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        |        count(*) AS cnt
        | FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
        |       FROM documents)
        | GROUP BY 1 ORDER BY split""".stripMargin.replace("\n", " "),

    "sample_capped" ->
      """WITH r AS (
        |   SELECT doc_id, source,
        |          row_number() OVER (PARTITION BY source
        |            ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                     doc_id) AS rk
        |   FROM documents)
        | SELECT doc_id, source FROM r WHERE rk <= 10
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_encode_ids" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tok AS (SELECT doc_id, unnest(ws) AS term,
        |         unnest(range(1, len(ws) + 1)) AS ord FROM w),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | vocab AS (SELECT term,
        |           row_number() OVER (ORDER BY count(*) DESC, term) AS tok_id
        |           FROM tnz GROUP BY term QUALIFY tok_id <= 64),
        | enc AS (SELECT t.doc_id, t.ord, coalesce(v.tok_id, 0)::INT AS tok_id
        |         FROM tnz t LEFT JOIN vocab v USING (term))
        | SELECT doc_id, count(*)::BIGINT AS n_tok,
        |        sum((tok_id = 0)::INT)::BIGINT AS n_oov,
        |        to_json(list(tok_id ORDER BY ord))::VARCHAR AS ids
        | FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "q24_percentile" ->
      """WITH r AS (
        |   SELECT l_returnflag, l_extendedprice,
        |          row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |          count(*) OVER (PARTITION BY l_returnflag) AS n
        |   FROM lineitem)
        | SELECT l_returnflag,
        |        max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS median_price,
        |        max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90_price
        | FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "q25_stats" ->
      """SELECT l_returnflag, round(avg(l_quantity), 4) AS avg_qty,
        |        round(stddev_samp(l_quantity), 4) AS sd_qty,
        |        round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "stats_regression" ->
      """WITH d AS (SELECT lang, n_chars AS x,
        |   len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS y
        |   FROM documents),
        | g AS (SELECT lang, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |       sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |       sum(x * x)::BIGINT AS sxx FROM d GROUP BY lang)
        | SELECT lang, n, n * sxy - sx * sy AS slope_num,
        |        n * sxx - sx * sx AS slope_den,
        |        sy * sxx - sx * sxy AS icept_num
        | FROM g ORDER BY lang""".stripMargin.replace("\n", " "),

    "corpus_drift" ->
      """WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
        |                    t -> t <> '')) AS term FROM documents),
        | cnt AS (SELECT term,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS a,
        |         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS b
        |         FROM tok GROUP BY term),
        | tot AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS na,
        |         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS nb FROM tok)
        | SELECT term, a, b, abs(a * nb - b * na) AS drift FROM cnt, tot
        | ORDER BY drift DESC, term LIMIT 30""".stripMargin.replace("\n", " "),

    "vocab_coverage" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
        |                    t -> t <> '')) AS term FROM documents),
        | v AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
        | r AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS k,
        |       sum(c) OVER (ORDER BY c DESC, term
        |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM v),
        | n AS (SELECT count(*)::BIGINT AS n FROM tok)
        | SELECT k::INT AS k, term, c, cum, cum * 10000 // n.n AS coverage_bp
        | FROM r, n WHERE k IN (1, 3, 10, 30) ORDER BY k""".stripMargin.replace("\n", " "),

    "dedup_cluster_stats" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH RECURSIVE $minhashSigCte,
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         | cl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         |        FROM reach GROUP BY s),
         | szs AS (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY cluster_id)
         | SELECT sz, count(*)::BIGINT AS n_clusters FROM szs GROUP BY sz
         | ORDER BY sz""".stripMargin.replace("\n", " ")
    },

    "dedup_calibration" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte,
         | cand AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |          round(($matches) / 8.0, 4) AS est_jaccard
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | exsh AS (SELECT doc_id, len(shingles) AS n_sh,
         |        ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh
         |        FROM (SELECT doc_id,
         |              list_distinct([ws2[i] || ' ' || ws2[i+1] || ' ' || ws2[i+2]
         |                             for i in range(1, greatest(len(ws2) - 1, 1))]) AS shingles
         |              FROM (SELECT doc_id, string_split(text, ' ') AS ws2 FROM documents))),
         | rare AS (SELECT sh FROM exsh GROUP BY sh HAVING count(*) <= 100),
         | exr AS (SELECT exsh.* FROM exsh JOIN rare USING (sh)),
         | xj AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |        round(count(*)::DOUBLE /
         |              (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) AS jaccard
         |        FROM exr a JOIN exr b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |        GROUP BY a.doc_id, b.doc_id),
         | j AS (SELECT c.a_id, c.b_id, round(c.est_jaccard * 10000)::BIGINT AS est_e4,
         |              round(x.jaccard * 10000)::BIGINT AS exact_e4
         |       FROM cand c LEFT JOIN xj x USING (a_id, b_id))
         | SELECT est_e4,
         |   (CASE WHEN exact_e4 IS NULL THEN -1 ELSE exact_e4 // 1000 END)::BIGINT AS exact_dec,
         |   count(*)::BIGINT AS n,
         |   sum(abs(est_e4 - coalesce(exact_e4, 0)))::BIGINT AS abs_err_e4
         | FROM j GROUP BY 1, 2 ORDER BY est_e4, exact_dec""".stripMargin.replace("\n", " ")
    },

    "q47_regex_extract" ->
      """SELECT doc_id,
        |   regexp_extract(source, '^src([0-9]+)$', 1)::BIGINT AS src_num,
        |   regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |   regexp_extract(text, '\b(ta[a-z]+)', 1) AS first_ta
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "events_markov" ->
      """WITH tr AS (SELECT user_id, event_type,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS prev FROM events),
        | c AS (SELECT prev, event_type AS next, count(*)::BIGINT AS cnt
        |       FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2)
        | SELECT prev, next, cnt,
        |        (cnt * 1000 // sum(cnt) OVER (PARTITION BY prev))::BIGINT AS permille
        | FROM c ORDER BY prev, next""".stripMargin.replace("\n", " "),

    "q46_collections" ->
      """WITH d AS (SELECT doc_id,
        |   list_filter(string_split(text, ' '), x -> x <> '') AS a
        |   FROM documents)
        | SELECT doc_id, len(a)::INT AS n,
        |   list_sort(a)[1] AS first_sorted,
        |   len(list_distinct(a))::INT AS n_distinct,
        |   coalesce(list_position(a, 'data'), 0)::BIGINT AS pos_data,
        |   list_contains(a, 'spark')::INT AS has_spark,
        |   array_to_string(list_sort(list_distinct(a))[1:3], ',') AS top3_sorted,
        |   (list_contains(a, 'data')::INT + list_contains(a, 'table')::INT
        |     + list_contains(a, 'row')::INT) AS n_core,
        |   reverse(array_to_string(a[1:2], ' ')) AS rev_head
        | FROM d WHERE len(a) >= 2 ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "graph_bfs" ->
      """WITH RECURSIVE cs AS (SELECT o_custkey AS c, l_suppkey + 1000000 AS sp
        |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | e AS (SELECT c AS src, sp AS dst FROM cs
        |        UNION SELECT sp, c FROM cs),
        | bfs(node, lvl) AS (
        |   SELECT c_custkey::BIGINT, 0 FROM customer WHERE c_nationkey = 0
        |   UNION
        |   SELECT e.dst, b.lvl + 1 FROM bfs b JOIN e ON b.node = e.src
        |   WHERE b.lvl < 3)
        | SELECT node, min(lvl)::BIGINT AS level FROM bfs GROUP BY node
        | ORDER BY node""".stripMargin.replace("\n", " "),

    // True-fixpoint k-core as a recursive CTE: the survivor set rides
    // each iteration as ONE list-valued row (a recursive term may
    // reference its CTE only once, but degree needs both endpoints'
    // survivorship — the list carries the whole set past that limit);
    // iteration stops when no node is peeled (len(nxt) = len(surv)).
    "graph_ppr" ->
      """WITH raw AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |             FROM lineitem l
        |             JOIN orders o ON l.l_orderkey = o.o_orderkey
        |             JOIN customer c ON o.o_custkey = c.c_custkey
        |             JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        | e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        | nodes AS MATERIALIZED (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        | ns AS MATERIALIZED (SELECT count(*) AS n FROM nodes WHERE node < 5),
        | deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        | tn AS MATERIALIZED (SELECT nodes.node,
        |        CASE WHEN nodes.node < 5 THEN 1.0::DOUBLE / ns.n ELSE 0.0::DOUBLE END AS t
        |      FROM nodes CROSS JOIN ns),
        | r0 AS MATERIALIZED (SELECT node, t AS rank FROM tn),
        | d1 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r0 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i1 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r0 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r1 AS MATERIALIZED (SELECT tn.node,
        |          (1.0::DOUBLE - 0.85::DOUBLE) * tn.t
        |          + 0.85::DOUBLE * (coalesce(i1.inbound, 0.0) + d1.dmass * tn.t) AS rank
        |        FROM tn CROSS JOIN d1 LEFT JOIN i1 ON tn.node = i1.dst),
        | d2 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r1 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i2 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r1 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r2 AS MATERIALIZED (SELECT tn.node,
        |          (1.0::DOUBLE - 0.85::DOUBLE) * tn.t
        |          + 0.85::DOUBLE * (coalesce(i2.inbound, 0.0) + d2.dmass * tn.t) AS rank
        |        FROM tn CROSS JOIN d2 LEFT JOIN i2 ON tn.node = i2.dst),
        | d3 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r2 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i3 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r2 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r3 AS MATERIALIZED (SELECT tn.node,
        |          (1.0::DOUBLE - 0.85::DOUBLE) * tn.t
        |          + 0.85::DOUBLE * (coalesce(i3.inbound, 0.0) + d3.dmass * tn.t) AS rank
        |        FROM tn CROSS JOIN d3 LEFT JOIN i3 ON tn.node = i3.dst)
        | SELECT node::BIGINT AS node, round(rank * 1e8)::BIGINT AS rank_e8
        | FROM r3 ORDER BY node""".stripMargin.replace("\n", " "),

    "graph_kcore" ->
      """WITH RECURSIVE
        | ed AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |        WHERE l_linenumber = 1),
        | e2 AS (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed),
        | peel AS (
        |   SELECT 0 AS r, (SELECT list(DISTINCT src ORDER BY src) FROM e2) AS surv
        |   UNION ALL
        |   SELECT r + 1, nxt FROM (
        |     SELECT r, surv,
        |       (SELECT coalesce(list(u ORDER BY u), []) FROM unnest(surv) AS t(u)
        |        WHERE (SELECT count(*) FROM e2
        |               WHERE e2.src = u AND list_contains(surv, e2.dst)) >= 8) AS nxt
        |     FROM peel) WHERE len(nxt) < len(surv)),
        | final AS (SELECT surv FROM peel ORDER BY len(surv) ASC LIMIT 1),
        | core AS (SELECT unnest(surv) AS node FROM final)
        | SELECT node,
        |        (SELECT count(*) FROM e2 JOIN final ON true
        |         WHERE e2.src = node AND list_contains(final.surv, e2.dst)) AS core_deg
        | FROM core ORDER BY node""".stripMargin.replace("\n", " "),

    "q45_topk_per_group" ->
      """WITH spend AS (SELECT o_orderpriority, o_custkey,
        |   round(sum(o_totalprice::DECIMAL(20,6)), 2)::DOUBLE AS spend
        |   FROM orders GROUP BY 1, 2),
        | r AS (SELECT o_orderpriority, o_custkey, spend,
        |   rank() OVER (PARTITION BY o_orderpriority
        |     ORDER BY spend DESC, o_custkey) AS rk FROM spend)
        | SELECT o_orderpriority, o_custkey, spend, rk::INT AS rk FROM r
        | WHERE rk <= 3 ORDER BY o_orderpriority, rk, o_custkey"""
        .stripMargin.replace("\n", " "),

    "profile_colstats" -> Seq(
      "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus").map { c =>
      s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n,
         | (count(*) - count($c))::BIGINT AS n_null,
         | count(DISTINCT $c)::BIGINT AS n_distinct,
         | min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
         | FROM lineitem""".stripMargin.replace("\n", " ")
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name"),

    "events_ewma" ->
      """SELECT user_id, count(*) AS n_events,
        |  list_reduce(list(CAST(floor(value * 100) AS BIGINT)
        |    ORDER BY epoch_ns(ts), event_id),
        |    (acc, x) -> (acc + x) // 2) AS ewma_cents
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "),

    "events_forecast_snaive" ->
      """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, count(*)::BIGINT AS actual
        |   FROM events GROUP BY 1),
        | j AS (SELECT d.day, d.actual, f.actual AS forecast, p.actual AS prev
        |       FROM daily d LEFT JOIN daily f ON d.day = f.day + 7
        |                    LEFT JOIN daily p ON d.day = p.day + 1),
        | nv AS (SELECT CAST(sum(abs(actual - prev)) AS BIGINT) AS sum_naive,
        |               count(*)::BIGINT AS n_naive
        |        FROM j WHERE prev IS NOT NULL)
        | SELECT day, actual, forecast, abs(actual - forecast) AS abs_err,
        |        (1000 * abs(actual - forecast) * n_naive) // sum_naive AS scaled_err_milli
        | FROM j CROSS JOIN nv WHERE forecast IS NOT NULL
        | ORDER BY day""".stripMargin.replace("\n", " "),

    "events_cusum" ->
      """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
        |   FROM events GROUP BY 1),
        | t AS (SELECT sum(n) AS tot, count(*) AS days FROM daily),
        | cs AS (SELECT day, n,
        |   CAST(sum(n * days - tot) OVER (ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
        |   FROM daily CROSS JOIN t)
        | SELECT day, n, cusum,
        |        abs(cusum) = (SELECT max(abs(cusum)) FROM cs) AS is_changepoint
        | FROM cs ORDER BY day""".stripMargin.replace("\n", " "),

    "events_anomaly" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
        | daily AS (SELECT event_type, day, count(*)::BIGINT AS cnt FROM ev GROUP BY 1, 2),
        | c AS (SELECT event_type, cnt AS v, count(*) AS c FROM daily GROUP BY 1, 2),
        | cum AS (SELECT event_type, v, c,
        |   sum(c) OVER (PARTITION BY event_type ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cm,
        |   sum(c) OVER (PARTITION BY event_type) AS n FROM c),
        | med AS (SELECT event_type, v::BIGINT AS med FROM cum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm),
        | d AS (SELECT daily.event_type, day, cnt, med, abs(cnt - med) AS dev
        |   FROM daily JOIN med USING (event_type)),
        | dc AS (SELECT event_type, dev AS v, count(*) AS c FROM d GROUP BY 1, 2),
        | dcum AS (SELECT event_type, v, c,
        |   sum(c) OVER (PARTITION BY event_type ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cm,
        |   sum(c) OVER (PARTITION BY event_type) AS n FROM dc),
        | mad AS (SELECT event_type, v::BIGINT AS mad FROM dcum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm)
        | SELECT event_type, day::BIGINT AS day, cnt, med, dev, mad
        | FROM d JOIN mad USING (event_type)
        | WHERE dev > 3 * mad ORDER BY event_type, day""".stripMargin.replace("\n", " "),

    "text_pmi" ->
      """WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | tok AS (SELECT unnest(a) AS w FROM w),
        | uni AS (SELECT w, count(*)::BIGINT AS cw FROM tok GROUP BY w),
        | n AS (SELECT count(*)::BIGINT AS n FROM tok),
        | bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | cab AS (SELECT w1, w2, count(*)::BIGINT AS cab FROM bg GROUP BY 1, 2)
        | SELECT w1, w2, cab, cab * n.n * 10000 // (u1.cw * u2.cw) AS pmi_bp
        | FROM cab JOIN uni u1 ON cab.w1 = u1.w JOIN uni u2 ON cab.w2 = u2.w
        | CROSS JOIN n WHERE cab >= 5
        | ORDER BY pmi_bp DESC, w1, w2 LIMIT 20""".stripMargin.replace("\n", " "),

    "events_attribution" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        | tt AS (SELECT user_id, epoch_us(ts) AS t_ts, event_id AS t_id, event_type AS t_type
        |        FROM events WHERE event_type IN ('click', 'view')
        |        QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts)
        |                                   ORDER BY event_id DESC) = 1)
        | SELECT p.event_id,
        |   CASE WHEN tt.t_ts IS NOT NULL AND p.ts_us - tt.t_ts <= 86400000000
        |        THEN tt.t_type ELSE 'direct' END AS channel,
        |   CASE WHEN tt.t_ts IS NOT NULL AND p.ts_us - tt.t_ts <= 86400000000
        |        THEN tt.t_id END AS touch_id
        | FROM p ASOF LEFT JOIN tt ON p.user_id = tt.user_id AND p.ts_us >= tt.t_ts
        | ORDER BY p.event_id""".stripMargin.replace("\n", " "),

    "q23_asof_join" ->
      """SELECT l.event_id, r.q_id AS asof_q_id, r.q_val AS asof_q_val
        | FROM (SELECT user_id, event_id, ts FROM events WHERE event_id % 2 = 0) l
        | ASOF LEFT JOIN (SELECT user_id, ts AS q_ts, event_id AS q_id,
        |                        round(value, 2) AS q_val FROM events WHERE event_id % 2 = 1) r
        |   ON l.user_id = r.user_id AND l.ts >= r.q_ts
        | ORDER BY l.event_id""".stripMargin.replace("\n", " "),

    "embed_pq_codes" ->
      """WITH m AS (SELECT unnest(range(0, 8)) AS m),
        | subs AS (SELECT vec_id, m.m AS m,
        |     embedding[m.m * 8 + 1 : m.m * 8 + 8] AS sub
        |   FROM embeddings, m),
        | cb AS (SELECT vec_id AS code, m, sub AS cb_sub FROM subs WHERE vec_id < 16),
        | scored AS (SELECT s.vec_id, s.m, cb.code,
        |     list_sum([pow(CAST(s.sub[i] AS DOUBLE) - CAST(cb.cb_sub[i] AS DOUBLE), 2)
        |               for i in range(1, 9)]) AS d2
        |   FROM subs s JOIN cb ON s.m = cb.m),
        | best AS (SELECT vec_id, m, min(struct_pack(d2 := d2, code := code)) AS b
        |   FROM scored GROUP BY vec_id, m)
        | SELECT vec_id, m, CAST(b.code AS BIGINT) AS code, round(b.d2, 6) AS err_r6
        | FROM best ORDER BY vec_id, m""".stripMargin.replace("\n", " "),

    // Two unrolled Lloyd rounds over the int8-quantized corpus; every CTE
    // that feeds more than one consumer is MATERIALIZED (DuckDB inlines
    // plain CTEs — the round chain would re-expand multiplicatively).
    // Arithmetic is integer-exact end to end: quantized components,
    // integer-grid codewords (round of an exact-sum mean), squared
    // distances as integer-valued doubles.
    "embed_pq_train" ->
      """WITH ma AS (SELECT vec_id, embedding,
        |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id,
        |     CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |          ELSE list_transform(embedding,
        |            x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |     END AS q
        |   FROM ma),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | subs AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |     q[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv FROM qv, mm),
        | seed AS MATERIALIZED (SELECT m, rn - 1 AS code, sv AS cv FROM
        |     (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        |      FROM subs) WHERE rn <= 4),
        | a1 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN seed c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e1 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n1 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e1 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c1 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM seed s LEFT JOIN n1 n ON s.m = n.m AND s.code = n.code),
        | a2 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c1 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e2 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a2 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n2 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e2 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c2 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM c1 s LEFT JOIN n2 n ON s.m = n.m AND s.code = n.code),
        | enc AS (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c2 c ON s.m = c.m GROUP BY s.vec_id, s.m)
        | SELECT e.vec_id, e.m, CAST(e.code AS BIGINT) AS code,
        |        to_json(list_transform(c.cv, x -> CAST(x AS INTEGER)))::VARCHAR AS codeword
        | FROM enc e JOIN c2 c ON e.m = c.m AND e.code = c.code
        | ORDER BY e.vec_id, e.m""".stripMargin.replace("\n", " "),

    // float-trainer twin: same CTE chain as embed_pq_train, but the
    // refreshed codeword component is the UNROUNDED mean pushed through
    // a REAL (float32) cast — Spark's CAST(avg AS FLOAT) — and only the
    // discrete assignments are emitted; d2 mirrors Spark's
    // dot-expansion shape
    "embed_pq_train_assign" ->
      """WITH ma AS (SELECT vec_id, embedding,
        |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id,
        |     CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |          ELSE list_transform(embedding,
        |            x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |     END AS q
        |   FROM ma),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | subs AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |     q[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv FROM qv, mm),
        | seed AS MATERIALIZED (SELECT m, rn - 1 AS code, sv AS cv FROM
        |     (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        |      FROM subs) WHERE rn <= 4),
        | a1 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([s.sv[i] * s.sv[i] for i in range(1, 17)])
        |                         - 2 * list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
        |                         + list_sum([c.cv[i] * c.cv[i] for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN seed c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e1 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n1 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, CAST(CAST(avg(v) AS REAL) AS DOUBLE) AS v
        |         FROM e1 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c1 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM seed s LEFT JOIN n1 n ON s.m = n.m AND s.code = n.code),
        | a2 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([s.sv[i] * s.sv[i] for i in range(1, 17)])
        |                         - 2 * list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
        |                         + list_sum([c.cv[i] * c.cv[i] for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c1 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e2 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a2 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n2 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, CAST(CAST(avg(v) AS REAL) AS DOUBLE) AS v
        |         FROM e2 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c2 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM c1 s LEFT JOIN n2 n ON s.m = n.m AND s.code = n.code),
        | enc AS (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([s.sv[i] * s.sv[i] for i in range(1, 17)])
        |                         - 2 * list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
        |                         + list_sum([c.cv[i] * c.cv[i] for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c2 c ON s.m = c.m GROUP BY s.vec_id, s.m)
        | SELECT vec_id, m, CAST(code AS BIGINT) AS code
        | FROM enc ORDER BY vec_id, m""".stripMargin.replace("\n", " "),

    "embed_pq_adc" ->
      """WITH m AS (SELECT unnest(range(0, 8)) AS m),
        | subs AS (SELECT vec_id, m.m AS m,
        |     embedding[m.m * 8 + 1 : m.m * 8 + 8] AS sub
        |   FROM embeddings, m),
        | cb AS (SELECT vec_id AS code, m, sub AS cb_sub FROM subs WHERE vec_id < 16),
        | scored AS (SELECT s.vec_id, s.m, cb.code,
        |     list_sum([pow(CAST(s.sub[i] AS DOUBLE) - CAST(cb.cb_sub[i] AS DOUBLE), 2)
        |               for i in range(1, 9)]) AS d2
        |   FROM subs s JOIN cb ON s.m = cb.m),
        | codes AS (SELECT vec_id, m, min(struct_pack(d2 := d2, code := code)).code AS code
        |   FROM scored GROUP BY vec_id, m),
        | q AS (SELECT vec_id AS q_id, m, sub AS q_sub FROM subs WHERE vec_id < 5),
        | pair AS (SELECT q.q_id, c.vec_id, c.m,
        |     list_sum([pow(CAST(q.q_sub[i] AS DOUBLE) - CAST(cb.cb_sub[i] AS DOUBLE), 2)
        |               for i in range(1, 9)]) AS d2
        |   FROM codes c JOIN cb ON c.m = cb.m AND c.code = cb.code
        |               JOIN q ON q.m = c.m
        |   WHERE c.vec_id <> q.q_id),
        | tot AS (SELECT q_id, vec_id,
        |     list_reduce(list_prepend(0.0,
        |       [x.d2 for x in list_sort(list(struct_pack(m := m, d2 := d2)))]),
        |       (a, b) -> a + b) AS adc2
        |   FROM pair GROUP BY q_id, vec_id),
        | ranked AS (SELECT q_id, vec_id AS neighbor_id, adc2,
        |     row_number() OVER (PARTITION BY q_id ORDER BY adc2, vec_id) AS rank
        |   FROM tot)
        | SELECT q_id, neighbor_id, round(adc2, 6) AS adc2_r6, rank
        | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "events_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |   FROM events),
        | p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |   FROM r WHERE rn <= 3 GROUP BY user_id)
        | SELECT path, count(*) AS n_users FROM p GROUP BY path
        | ORDER BY n_users DESC, path LIMIT 15""".stripMargin.replace("\n", " "),

    "quality_winsorize" ->
      """WITH ranked AS (SELECT lang, doc_id, n_chars,
        |     row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |     count(*) OVER (PARTITION BY lang) AS n
        |   FROM documents),
        | bounds AS (SELECT lang,
        |     max(CASE WHEN rn = ceil(n * 0.05) THEN n_chars END) AS p05,
        |     max(CASE WHEN rn = ceil(n * 0.95) THEN n_chars END) AS p95,
        |     max(n) AS n FROM ranked GROUP BY lang)
        | SELECT r.lang, max(b.n) AS n_docs, max(b.p05) AS p05, max(b.p95) AS p95,
        |   CAST((100 * sum(greatest(b.p05, least(b.p95, r.n_chars)))) // count(*) AS BIGINT)
        |     AS clip_mean_x100
        | FROM ranked r JOIN bounds b ON r.lang = b.lang
        | GROUP BY r.lang ORDER BY r.lang""".stripMargin.replace("\n", " "),

    "sketch_theta_overlap" ->
      """WITH f AS (SELECT user_id,
        |   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
        |   FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id)
        | SELECT CAST(sum(c * v) AS BIGINT) AS exact_overlap, 1 AS overlap_ok,
        |        count(*) AS exact_union, 1 AS union_ok,
        |        CAST(sum(c * (1 - v)) AS BIGINT) AS exact_diff, 1 AS diff_ok
        | FROM f ORDER BY exact_overlap""".stripMargin.replace("\n", " "),

    "fuzzy_name_match" ->
      """WITH p AS (SELECT p_partkey AS k, p_brand AS brand, p_size AS sz, p_name AS nm FROM part),
        | pairs AS (SELECT a.k AS part_a, b.k AS part_b,
        |     jaro_winkler_similarity(a.nm, b.nm) AS jw
        |   FROM p a JOIN p b ON a.brand = b.brand AND a.sz = b.sz AND a.k <> b.k),
        | ranked AS (SELECT part_a, part_b, jw,
        |     row_number() OVER (PARTITION BY part_a ORDER BY jw DESC, part_b) AS rank
        |   FROM pairs)
        | SELECT part_a, part_b, round(jw, 4) AS jw_r4, rank
        | FROM ranked WHERE rank <= 3 ORDER BY part_a, rank""".stripMargin.replace("\n", " "),

    "link_fellegi_sunter" ->
      """WITH p AS (SELECT p_partkey AS k, p_brand AS brand, p_size AS sz,
        |     p_name AS nm, p_type AS typ, p_retailprice AS price FROM part),
        | pr AS (SELECT a.k AS part_a, b.k AS part_b,
        |     jaro_winkler_similarity(a.nm, b.nm) AS jw,
        |     a.typ = b.typ AS m_eq, abs(a.price - b.price) <= 50.0 AS c_eq
        |   FROM p a JOIN p b ON a.brand = b.brand AND a.sz = b.sz AND a.k < b.k),
        | sc AS (SELECT part_a, part_b, jw,
        |     (CASE WHEN jw >= 0.9 THEN 40 ELSE -10 END +
        |      CASE WHEN m_eq THEN 15 ELSE -15 END +
        |      CASE WHEN c_eq THEN 10 ELSE -5 END) AS score FROM pr)
        | SELECT part_a, part_b, round(jw, 4) AS jw_r4, score::INT AS score,
        |   CASE WHEN score >= 45 THEN 'match' WHEN score >= 20 THEN 'possible'
        |        ELSE 'non-match' END AS decision
        | FROM sc WHERE score >= 20 ORDER BY part_a, part_b""".stripMargin.replace("\n", " "),

    "events_gini" ->
      """WITH cnt AS (SELECT user_id, count(*) AS x FROM events GROUP BY user_id),
        | r AS (SELECT user_id, x, row_number() OVER (ORDER BY x, user_id) AS rn FROM cnt),
        | s AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx, sum(rn * x)::BIGINT AS srx FROM r)
        | SELECT CAST(((2 * srx - (n + 1) * sx) * 10000) // (n * sx) AS BIGINT) AS gini_bp,
        |        n AS n_users
        | FROM s ORDER BY gini_bp""".stripMargin.replace("\n", " "),

    "embed_drift" ->
      """WITH pos AS (SELECT unnest(range(1, 65)) AS pos),
        | pe AS (SELECT label, vec_id % 2 AS par, vec_id, pos.pos AS pos,
        |     CAST(embedding[pos.pos] AS DOUBLE) AS v FROM embeddings, pos),
        | cell AS (SELECT label, par, pos,
        |     list_reduce(list_prepend(0.0,
        |       [x.v for x in list_sort(list(struct_pack(vec_id := vec_id, v := v)))]),
        |       (a, b) -> a + b) / count(*) AS cv
        |   FROM pe GROUP BY label, par, pos),
        | cent AS (SELECT label, par, list(cv ORDER BY pos) AS c FROM cell GROUP BY label, par),
        | ca AS (SELECT label, c AS ca FROM cent WHERE par = 0),
        | cb AS (SELECT label, c AS cb FROM cent WHERE par = 1)
        | SELECT ca.label,
        |   round(list_sum([ca[i] * cb[i] for i in range(1, 65)]) /
        |     (sqrt(list_sum([ca[i] * ca[i] for i in range(1, 65)])) *
        |      sqrt(list_sum([cb[i] * cb[i] for i in range(1, 65)]))), 4) + 0.0 AS drift_cos_r4
        | FROM ca JOIN cb ON ca.label = cb.label ORDER BY ca.label""".stripMargin.replace("\n", " "),

    "events_ab_cuped" -> {
      val TH = "((CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE) / np) / (CAST(sxxp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE) / np))"
      val VARY = "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
      val VARX = "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))"
      val COV = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
      val VADJ = s"$VARY + $TH * $TH * $VARX - 2 * $TH * $COV"
      s"""WITH e AS (SELECT user_id % 2 AS cohort, user_id,
         |             epoch_ns(ts) // 86400000000000 AS day FROM events),
         | md AS (SELECT min(day) AS min_day FROM e),
         | pu AS (SELECT cohort, user_id,
         |          CAST(sum(CASE WHEN day < min_day + 10 THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |          CAST(sum(CASE WHEN day >= min_day + 10 THEN 1 ELSE 0 END) AS BIGINT) AS y
         |        FROM e CROSS JOIN md GROUP BY cohort, user_id),
         | pc AS (SELECT cohort, count(*)::BIGINT AS n,
         |          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |          CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         |          CAST(sum(x * y) AS BIGINT) AS sxy
         |        FROM pu GROUP BY cohort),
         | pl AS (SELECT CAST(sum(n) AS BIGINT) AS np, CAST(sum(sx) AS BIGINT) AS sxp,
         |          CAST(sum(sy) AS BIGINT) AS syp, CAST(sum(sxx) AS BIGINT) AS sxxp,
         |          CAST(sum(sxy) AS BIGINT) AS sxyp
         |        FROM pc)
         | SELECT cohort, n,
         |   round(CAST(sy AS DOUBLE) / n, 4) + 0.0 AS mean_y_r4,
         |   round($TH, 4) + 0.0 AS theta_r4,
         |   round($VARY, 4) + 0.0 AS var_y_r4,
         |   round($VADJ, 4) + 0.0 AS var_adj_r4,
         |   CAST(round(10000 * (1 - ($VADJ) / $VARY), 0) AS BIGINT) AS reduction_bp
         | FROM pc CROSS JOIN pl ORDER BY cohort""".stripMargin.replace("\n", " ")
    },

    "events_mannwhitney" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |           FROM events WHERE event_type IN ('purchase', 'click')),
        | byv AS (SELECT v, count(*)::BIGINT AS cnt,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cnt_a
        |         FROM e GROUP BY v),
        | ranked AS (SELECT cnt, cnt_a,
        |     coalesce(sum(cnt) OVER (ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below
        |   FROM byv),
        | agg AS (SELECT sum(cnt_a)::BIGINT AS n_a, sum(cnt - cnt_a)::BIGINT AS n_b,
        |     sum(cnt_a * (2 * below + cnt + 1))::BIGINT AS r2a,
        |     sum(cnt::HUGEINT * cnt * cnt - cnt) AS ties FROM ranked),
        | u AS (SELECT n_a, n_b, (r2a - n_a * (n_a + 1))::BIGINT AS u2_a, ties FROM agg)
        | SELECT n_a, n_b, u2_a,
        |   ((3 * (n_a + n_b))::HUGEINT * (n_a + n_b - 1)
        |     * (u2_a - n_a * n_b)::HUGEINT
        |     * (u2_a - n_a * n_b)::HUGEINT * 10000
        |    >
        |    (38416 * n_a)::HUGEINT * n_b
        |     * ((n_a + n_b + 1)::HUGEINT * (n_a + n_b) * (n_a + n_b - 1) - ties))
        |     AS significant
        | FROM u ORDER BY n_a""".stripMargin.replace("\n", " "),

    "events_ab_ttest" ->
      """WITH e AS (SELECT event_type, user_id % 2 AS cohort, value FROM events),
        | stats AS (SELECT event_type, cohort, count(*) AS n,
        |     sum(CAST(value AS DECIMAL(24,6))) AS sx,
        |     sum(CAST(value * value AS DECIMAL(30,10))) AS sxx
        |   FROM e GROUP BY event_type, cohort),
        | a AS (SELECT event_type, n AS na, sx AS sxa, sxx AS sxxa FROM stats WHERE cohort = 0),
        | b AS (SELECT event_type, n AS nb, sx AS sxb, sxx AS sxxb FROM stats WHERE cohort = 1)
        | SELECT a.event_type, na, nb,
        |   round(
        |     (CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb) /
        |     sqrt(
        |      ((CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / na) / (na - 1)) / na +
        |      ((CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / nb) / (nb - 1)) / nb)
        |     , 4) + 0.0 AS t_r4
        | FROM a JOIN b ON a.event_type = b.event_type
        | ORDER BY a.event_type""".stripMargin.replace("\n", " "),

    "events_chisq" ->
      """WITH e AS (SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
        | cells AS (SELECT event_type, dow, count(*) AS obs FROM e GROUP BY event_type, dow),
        | rt AS (SELECT event_type, count(*) AS rt FROM e GROUP BY event_type),
        | ct AS (SELECT dow, count(*) AS ct FROM e GROUP BY dow),
        | n AS (SELECT count(*) AS _n FROM e)
        | SELECT cells.event_type, cells.dow, obs,
        |   round(pow(obs::DOUBLE - rt::DOUBLE * ct::DOUBLE / _n::DOUBLE, 2)
        |         / (rt::DOUBLE * ct::DOUBLE / _n::DOUBLE), 6) AS chi_r6
        | FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), n
        | ORDER BY event_type, dow""".stripMargin.replace("\n", " "),

    "privacy_pseudonymize" ->
      """SELECT event_id,
        |   substr(sha256('k1:' || CAST(user_id AS VARCHAR)), 1, 16) AS user_pseudo
        | FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),

    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |   CAST((sum(CAST(round(l_quantity * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_qty,
        |   CAST((sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_base_price,
        |   CAST((sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_disc_price,
        |   CAST((sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_charge,
        |   count(*) AS count_order
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),

    "tpch_q3" ->
      """SELECT l_orderkey,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue,
        |   o_orderdate
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE c_mktsegment = 'BUILDING'
        |   AND o_orderdate < TIMESTAMP '1998-01-01'
        |   AND l_shipdate > TIMESTAMP '1998-01-01'
        | GROUP BY l_orderkey, o_orderdate
        | ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin.replace("\n", " "),

    "tpch_q6" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue,
        |        count(*) AS n
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |   AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24
        | ORDER BY revenue""".stripMargin.replace("\n", " "),

    "tpch_q14" ->
      """WITH j AS (SELECT l_extendedprice, l_discount, p_type
        |   FROM lineitem JOIN part ON l_partkey = p_partkey
        |   WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'),
        | c AS (SELECT
        |   CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
        |     ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT) AS promo_cents,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS total_cents
        |   FROM j)
        | SELECT promo_cents, total_cents,
        |   CAST((promo_cents * 10000) // total_cents AS BIGINT) AS promo_bp
        | FROM c ORDER BY promo_bp""".stripMargin.replace("\n", " "),

    "tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        |               JOIN nation ON c_nationkey = n_nationkey
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1996-04-01'
        |   AND l_returnflag = 'R'
        | GROUP BY c_custkey, c_name, c_acctbal, n_name
        | ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", " "),

    "tpch_q18" ->
      """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |   round(sum(l_quantity), 2) AS total_qty
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                      GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
        | GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin.replace("\n", " "),

    "tpch_q5" ->
      """SELECT n_name,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        |               JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |               JOIN nation ON s_nationkey = n_nationkey
        |               JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1997-01-01'
        | GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replace("\n", " "),

    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1996-04-01'
        |   AND EXISTS (SELECT 1 FROM lineitem
        |               WHERE l_orderkey = o_orderkey
        |                 AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),

    "tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |   year(l_shipdate) AS l_year,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |               JOIN customer ON o_custkey = c_custkey
        |               JOIN supplier ON l_suppkey = s_suppkey
        |               JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |               JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1998-01-01'
        |   AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        | GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " "),

    "tpch_q12" ->
      """SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY THEN 'SLOW'
        |             WHEN l_shipdate >= o_orderdate + INTERVAL 30 DAY THEN 'MEDIUM'
        |             ELSE 'FAST' END AS ship_bucket,
        |   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-01-01'
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),

    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |   SELECT c_custkey, count(o_orderkey) AS c_count
        |   FROM customer LEFT OUTER JOIN orders
        |     ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |   GROUP BY c_custkey)
        | GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin.replace("\n", " "),

    "tpch_q15" ->
      """WITH revenue AS (
        |   SELECT l_suppkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS total
        |   FROM lineitem
        |   WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |     AND l_shipdate < TIMESTAMP '1996-04-01'
        |   GROUP BY l_suppkey)
        | SELECT s_suppkey, s_name,
        |   CAST(round(total, 2) AS DOUBLE) AS total_revenue
        | FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        | WHERE total = (SELECT max(total) FROM revenue)
        | ORDER BY s_suppkey""".stripMargin.replace("\n", " "),

    "tpch_q17" ->
      """WITH pp AS (SELECT l_partkey AS pk, sum(l_quantity) AS sq, count(*) AS nq
        |            FROM lineitem GROUP BY l_partkey)
        | SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))) * 100) AS BIGINT) AS total_cents,
        |   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))) * 100) AS BIGINT) // 7 AS avg_yearly_cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |               JOIN pp ON l_partkey = pk
        | WHERE p_brand = 'Brand#1' AND l_quantity * 5 * nq < sq
        | ORDER BY total_cents""".stripMargin.replace("\n", " "),

    "tpch_q19" ->
      """SELECT
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue,
        |   count(*) AS n
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)
        | ORDER BY revenue""".stripMargin.replace("\n", " "),

    "tpch_q22" ->
      """WITH c AS (SELECT *, CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        | s AS (SELECT sum(cents) AS sum_c, count(*) AS n_c FROM c WHERE cents > 0)
        | SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
        |   CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        | FROM c, s
        | WHERE cents * n_c > sum_c
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                   AND o_orderdate >= TIMESTAMP '1999-01-01')
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),

    "tpch_q2" ->
      """WITH cat AS (
        |   SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        | eu AS (
        |   SELECT s_suppkey, s_name, s_acctbal, n_name
        |   FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |                 JOIN region ON n_regionkey = r_regionkey
        |   WHERE r_name = 'EUROPE'),
        | costs AS (
        |   SELECT pk, s_suppkey, s_name, s_acctbal, n_name
        |   FROM cat JOIN eu ON sk = s_suppkey)
        | SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        | FROM costs JOIN part ON pk = p_partkey
        | WHERE p_size = 15 AND p_type = 'LARGE'
        |   AND s_acctbal = (SELECT min(s_acctbal) FROM costs c2 WHERE c2.pk = costs.pk)
        | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        | LIMIT 100""".stripMargin.replace("\n", " "),

    "tpch_q8" ->
      """SELECT year(o_orderdate) AS o_year,
        |   CAST(round(sum(CASE WHEN n1.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
        |     ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT) AS nation_cents,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS total_cents,
        |   CAST(round(sum(CASE WHEN n1.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
        |     ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT) * 10000
        |     // CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS mkt_share_bp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |               JOIN part ON l_partkey = p_partkey
        |               JOIN supplier ON l_suppkey = s_suppkey
        |               JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1998-01-01'
        |   AND p_type = 'ECONOMY'
        |   AND EXISTS (SELECT 1 FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |               JOIN region ON n2.n_regionkey = r_regionkey
        |               WHERE c_custkey = o_custkey AND r_name = 'ASIA')
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),

    "tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |     - p_retailprice * l_quantity * 0.1 AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_profit
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |               JOIN orders ON l_orderkey = o_orderkey
        |               JOIN supplier ON l_suppkey = s_suppkey
        |               JOIN nation ON s_nationkey = n_nationkey
        | WHERE p_name LIKE '%red%'
        | GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin.replace("\n", " "),

    "tpch_q11" ->
      """WITH pv AS (
        |   SELECT l_partkey,
        |     CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS value_cents
        |   FROM lineitem
        |   WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
        |     ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7')
        |   GROUP BY l_partkey)
        | SELECT l_partkey, value_cents FROM pv
        | WHERE value_cents * 1000 > (SELECT sum(value_cents) FROM pv)
        | ORDER BY value_cents DESC, l_partkey""".stripMargin.replace("\n", " "),

    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |   JOIN part ON l_partkey = p_partkey
        | WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        | GROUP BY p_brand, p_type, p_size
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin.replace("\n", " "),

    "tpch_q20" ->
      """SELECT s_suppkey, s_name FROM supplier
        | WHERE s_suppkey IN (
        |   SELECT l_suppkey FROM lineitem
        |   WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |     AND l_shipdate >= TIMESTAMP '1996-01-01'
        |     AND l_shipdate < TIMESTAMP '1997-01-01'
        |   GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 60)
        | ORDER BY s_suppkey""".stripMargin.replace("\n", " "),

    "tpch_q21" ->
      """WITH late AS (
        |   SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders
        |     ON l_orderkey = o_orderkey
        |   WHERE o_orderstatus = 'F'
        |     AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        | SELECT s_name, count(*) AS numwait
        | FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |              JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_3'
        |   AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        |               AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey
        |                   AND l3.l_suppkey <> l1.l_suppkey)
        | GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " "),

    "pipeline_dataset_card" ->
      """WITH bs AS (SELECT source, count(*) AS n,
        |            sum(len(string_split(text, ' '))) AS tok
        |            FROM documents GROUP BY source)
        | SELECT metric, dim, CAST(value AS BIGINT) AS value FROM (
        |   SELECT 'docs' AS metric, source AS dim, n AS value FROM bs
        |   UNION ALL SELECT 'tokens', source, tok FROM bs
        |   UNION ALL SELECT 'docs_lang', lang, count(*) FROM documents GROUP BY lang
        |   UNION ALL SELECT 'exact_dup_docs', 'all',
        |     count(*) - count(DISTINCT md5(text)) FROM documents
        |   UNION ALL SELECT 'mean_chars_x100', 'all',
        |     (100 * sum(n_chars)) // count(*) FROM documents)
        | ORDER BY metric, dim""".stripMargin.replace("\n", " "),

    "orders_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        | pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS cab
        |           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |           GROUP BY a.pk, b.pk),
        | marg AS (SELECT pk, count(*) AS cp FROM li GROUP BY pk),
        | n AS (SELECT count(DISTINCT ok) AS n_orders FROM li)
        | SELECT pa, pb, cab,
        |   CAST((10000 * n_orders * cab) // (ca.cp * cb.cp) AS BIGINT) AS lift_bp
        | FROM pairs JOIN marg ca ON pairs.pa = ca.pk
        |            JOIN marg cb ON pairs.pb = cb.pk, n
        | ORDER BY cab DESC, pa, pb LIMIT 20""".stripMargin.replace("\n", " "),

    "split_leakage_safe" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH RECURSIVE $minhashSigCte,
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         | cc AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         |        FROM reach GROUP BY s),
         | wc AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
         | SELECT doc_id, cluster_id,
         |   CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         | FROM (SELECT doc_id, cluster_id,
         |         ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
         |       FROM wc)
         | ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },

    "sample_dsir" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | raw AS (SELECT term, count(*)::BIGINT AS rf FROM tnz GROUP BY term),
        | tgt AS (SELECT term, count(*)::BIGINT AS tf FROM tnz WHERE source = 'src0' GROUP BY term),
        | model AS (SELECT raw.term, rf, coalesce(tf, 0)::BIGINT AS tf
        |           FROM raw LEFT JOIN tgt ON raw.term = tgt.term),
        | consts AS (SELECT (SELECT sum(rf) FROM raw)::BIGINT AS rn,
        |                   (SELECT count(*) FROM raw)::BIGINT AS v,
        |                   (SELECT count(*) FROM tnz WHERE source = 'src0')::BIGINT AS tn),
        | cnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tnz GROUP BY doc_id, term),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n_tok,
        |         list_sort(list(struct_pack(term := term, c := c, tf := tf, rf := rf))) AS lst
        |         FROM cnt JOIN model USING (term) GROUP BY doc_id)
        | SELECT doc_id, n_tok,
        |   round(list_reduce(
        |       list_prepend(0.0, [x.c::DOUBLE * (ln(x.tf::DOUBLE + 1.0) - ln(x.rf::DOUBLE + 1.0)) for x in lst]),
        |       (a, b) -> a + b) / n_tok::DOUBLE
        |     + ln(rn::DOUBLE + v::DOUBLE) - ln(tn::DOUBLE + v::DOUBLE), 3) + 0.0 AS dsir_r3
        | FROM per, consts ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "profile_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        | n AS (SELECT count(*) AS _n FROM events)
        | SELECT user_id, cnt, CAST(cnt * 10000 // _n AS INTEGER) AS share_bp
        | FROM c, n ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin.replace("\n", " "),

    "q50_rfm" ->
      """WITH m AS (SELECT o_custkey, max(o_orderdate) AS last_date, count(*) AS freq,
        |                  round(sum(o_totalprice), 2) AS monetary
        |           FROM orders GROUP BY o_custkey),
        | n AS (SELECT count(*) AS _n FROM m),
        | r AS (SELECT m.*,
        |   row_number() OVER (ORDER BY last_date DESC, o_custkey) AS r_rn,
        |   row_number() OVER (ORDER BY freq DESC, o_custkey) AS f_rn,
        |   row_number() OVER (ORDER BY monetary DESC, o_custkey) AS m_rn
        |   FROM m)
        | SELECT o_custkey, last_date, freq, monetary,
        |   CAST(1 + ((r_rn - 1) * 5) // _n AS INTEGER) AS r_q,
        |   CAST(1 + ((f_rn - 1) * 5) // _n AS INTEGER) AS f_q,
        |   CAST(1 + ((m_rn - 1) * 5) // _n AS INTEGER) AS m_q,
        |   CAST(1 + ((r_rn - 1) * 5) // _n AS STRING) ||
        |     CAST(1 + ((f_rn - 1) * 5) // _n AS STRING) ||
        |     CAST(1 + ((m_rn - 1) * 5) // _n AS STRING) AS segment
        | FROM r, n ORDER BY o_custkey""".stripMargin.replace("\n", " "),

    "q48_asof_forward" ->
      """SELECT l.event_id, r.q_id AS asof_q_id, r.q_val AS asof_q_val
        | FROM (SELECT user_id, event_id, ts FROM events WHERE event_id % 2 = 0) l
        | ASOF LEFT JOIN (SELECT user_id, ts AS q_ts, event_id AS q_id,
        |                        round(value, 2) AS q_val FROM events WHERE event_id % 2 = 1) r
        |   ON l.user_id = r.user_id AND l.ts <= r.q_ts
        | ORDER BY l.event_id""".stripMargin.replace("\n", " "),

    "text_redact" ->
      """SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
        |        len(regexp_extract_all(text, '[0-9]+')) AS n_redacted
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_tokens_bpe" ->
      """SELECT doc_id, len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "nt_parse" -> ntParseOracle,
    // the zipped round trip must land on the identical parsed table
    "source_zip" -> ntParseOracle,
    "nt_predicate_stats" -> ntPredicateStatsOracle,
    "nt_quarantine" ->
      """SELECT 'junk line ' || p_partkey AS line FROM part
        | WHERE p_partkey % 10 = 0 ORDER BY line""".stripMargin.replace("\n", " "),
    "fast_docs" -> fastDocsOracle,
    "viaf_update" -> viafUpdateOracle,

    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_cnt
        | FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin.replace("\n", " "),

    "dedup_minhash_sig" ->
      s"WITH $minhashSigCte SELECT * FROM sig ORDER BY doc_id",

    "dedup_minhash_pairs" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |        round(($matches) / 8.0, 4) AS est_jaccard
         | FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         | WHERE round(($matches) / 8.0, 4) >= 0.25
         | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")
    },

    "dedup_containment" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte,
         | pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         | i AS (SELECT p.a_id, p.b_id, count(*) AS inter FROM pairs p
         |   JOIN sh sa ON sa.doc_id = p.a_id
         |   JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
         |   GROUP BY p.a_id, p.b_id)
         | SELECT p.a_id, p.b_id, ca.n AS n_a, cb.n AS n_b,
         |   coalesce(i.inter, 0) AS inter_sh,
         |   coalesce(i.inter, 0) * 10000 // ca.n AS cont_a_bp,
         |   coalesce(i.inter, 0) * 10000 // cb.n AS cont_b_bp
         | FROM pairs p
         |   LEFT JOIN i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |   JOIN cnt ca ON ca.doc_id = p.a_id
         |   JOIN cnt cb ON cb.doc_id = p.b_id
         | ORDER BY p.a_id, p.b_id""".stripMargin.replace("\n", " ")
    },

    "stats_bootstrap" ->
      """WITH o AS (SELECT o_orderkey AS id,
        |     CAST(round(o_totalprice * 100) AS BIGINT) AS xc FROM orders),
        | h AS (SELECT xc,
        |     ('0x' || substr(md5('1:' || id), 1, 8))::BIGINT AS h1,
        |     ('0x' || substr(md5('2:' || id), 1, 8))::BIGINT AS h2 FROM o),
        | r AS (SELECT xc, h1, h2, unnest(range(0, 100)) AS b FROM h),
        | wts AS (SELECT b, xc, (h1 + b * h2) % 3 AS w FROM r),
        | m AS (SELECT b, ((sum(w * xc) * 10000) // sum(w))::BIGINT AS m
        |   FROM wts GROUP BY b),
        | rk AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rn FROM m)
        | SELECT count(*) AS n_replicas,
        |   max(CASE WHEN rn = 5 THEN m END) AS ci_lo,
        |   max(CASE WHEN rn = 50 THEN m END) AS ci_md,
        |   max(CASE WHEN rn = 95 THEN m END) AS ci_hi
        | FROM rk""".stripMargin.replace("\n", " "),

    "eval_bleu_pairs" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte,
         | pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | wsx AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         | gr AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
         |           for i in range(1, greatest(len(w), 1))]) AS g FROM wsx),
         | grams AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY doc_id, g),
         | clip AS (SELECT p.a_id, p.b_id, sum(least(ga.c, gb.c)) AS clip
         |   FROM pairs p JOIN grams ga ON ga.doc_id = p.a_id
         |   JOIN grams gb ON gb.doc_id = p.b_id AND gb.g = ga.g
         |   GROUP BY p.a_id, p.b_id),
         | tot AS (SELECT doc_id, sum(c)::BIGINT AS n_g FROM grams GROUP BY doc_id)
         | SELECT p.a_id, p.b_id, t.n_g AS n_a,
         |   coalesce(clip.clip, 0)::BIGINT AS clip_grams,
         |   (coalesce(clip.clip, 0) * 10000 // t.n_g)::BIGINT AS bleu2_bp
         | FROM pairs p
         |   LEFT JOIN clip ON clip.a_id = p.a_id AND clip.b_id = p.b_id
         |   JOIN tot t ON t.doc_id = p.a_id
         | ORDER BY p.a_id, p.b_id""".stripMargin.replace("\n", " ")
    },

    "decontaminate_semantic" ->
      s"""WITH b AS (SELECT vec_id AS b_id, embedding AS b_emb FROM embeddings
         |   WHERE vec_id % 9 = 0),
         | c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 9 <> 0),
         | scored AS (SELECT c.vec_id, b.b_id,
         |     ${duckCosine("c.embedding", "b.b_emb")} AS cos
         |   FROM c CROSS JOIN b),
         | best AS (SELECT vec_id, b_id AS bench_id, cos,
         |     row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, b_id) AS rn
         |   FROM scored)
         | SELECT vec_id, bench_id, round(cos, 4) AS cos_r4,
         |   CAST(cos >= 0.45 AS INT) AS contaminated
         | FROM best WHERE rn = 1 AND cos >= 0.40 ORDER BY vec_id""".stripMargin.replace("\n", " "),

    "split_purged_time" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS ts FROM events),
        | mm AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM e),
        | r AS (SELECT event_id, ts,
        |     least(4, greatest(0, ((ts - t0) * 5) // (t1 - t0 + 1))) AS f,
        |     least(4, greatest(0, ((ts + (t1 - t0) // 50 - t0) * 5) // (t1 - t0 + 1))) AS fp,
        |     least(4, greatest(0, ((ts - (t1 - t0) // 50 - t0) * 5) // (t1 - t0 + 1))) AS fm
        |   FROM e, mm),
        | roles AS (SELECT event_id, ts,
        |     CASE WHEN f = 2 THEN 'test'
        |          WHEN fp = 2 OR fm = 2 THEN 'purged'
        |          ELSE 'train' END AS role FROM r)
        | SELECT role, count(*) AS n_events, min(ts) AS min_ts, max(ts) AS max_ts
        | FROM roles GROUP BY role ORDER BY role""".stripMargin.replace("\n", " "),

    "pipeline_curation" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         | st AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_uniq, max(c) AS top_c,
         |        sum(length(w) * c) AS sum_len, max(length(w)) AS max_len
         |        FROM wc GROUP BY doc_id),
         | shh AS (SELECT doc_id,
         |        len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits
         |        FROM documents),
         | q AS (SELECT d.doc_id, d.lang, d.text, st.n_tok FROM documents d
         |       JOIN st ON st.doc_id = d.doc_id JOIN shh ON shh.doc_id = d.doc_id
         |       WHERE st.n_tok >= 10 AND st.n_tok <= 200 AND st.sum_len >= st.n_tok * 3
         |         AND st.sum_len <= st.n_tok * 10 AND st.max_len <= 20
         |         AND shh.stop_hits >= 2 AND st.n_uniq * 2 >= st.n_tok
         |         AND st.top_c * 5 <= st.n_tok),
         | exk AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         | ke AS (SELECT q.* FROM q JOIN exk USING (doc_id)),
         | ${minhashSigCteFrom("ke")},
         | pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | drp AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
         | kf AS (SELECT * FROM ke WHERE doc_id NOT IN (SELECT doc_id FROM drp)),
         | base AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY lang),
         | nq AS (SELECT lang, count(*) AS n_quality FROM q GROUP BY lang),
         | ne AS (SELECT lang, count(*) AS n_exact FROM ke GROUP BY lang),
         | nf AS (SELECT lang, count(*) AS n_final, sum(n_tok)::BIGINT AS tokens_final
         |        FROM kf GROUP BY lang)
         | SELECT base.lang, base.n_in,
         |   coalesce(nq.n_quality, 0) AS n_quality,
         |   coalesce(ne.n_exact, 0) AS n_exact,
         |   coalesce(nf.n_final, 0) AS n_final,
         |   coalesce(nf.tokens_final, 0) AS tokens_final
         | FROM base LEFT JOIN nq ON nq.lang = base.lang
         |   LEFT JOIN ne ON ne.lang = base.lang
         |   LEFT JOIN nf ON nf.lang = base.lang
         | ORDER BY base.lang""".stripMargin.replace("\n", " ")
    },

    "corpus_curriculum" ->
      """WITH s AS (SELECT doc_id,
        |     len(string_split(text, ' '))::BIGINT AS n_tok,
        |     len(list_distinct(string_split(text, ' ')))::BIGINT * 10000
        |       // len(string_split(text, ' '))::BIGINT AS div_bp
        |   FROM documents),
        | c AS (SELECT doc_id, n_tok, div_bp,
        |     sum(n_tok) OVER (ORDER BY div_bp DESC, doc_id
        |       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
        |     sum(n_tok) OVER ()::BIGINT AS total FROM s)
        | SELECT doc_id, n_tok, div_bp, cum AS cum_tok,
        |   (1 + (cum - 1) * 3 // total)::INT AS phase
        | FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "corpus_novelty" ->
      """WITH ws AS (SELECT doc_id % 2 AS half, lang, string_split(text, ' ') AS ws
        |     FROM documents),
        | gg AS (SELECT half, lang, unnest(list_distinct([ws[i] || ' ' || ws[i+1]
        |           for i in range(1, greatest(len(ws), 1))])) AS g FROM ws),
        | g AS (SELECT DISTINCT half, lang, g FROM gg),
        | n AS (SELECT lang, count(*) AS n_new FROM g WHERE half = 1 GROUP BY lang),
        | nov AS (SELECT a.lang, count(*) AS n_novel FROM g a
        |   WHERE a.half = 1 AND NOT EXISTS (SELECT 1 FROM g o
        |     WHERE o.half = 0 AND o.lang = a.lang AND o.g = a.g)
        |   GROUP BY a.lang)
        | SELECT n.lang, n.n_new, coalesce(nov.n_novel, 0) AS n_novel,
        |   coalesce(nov.n_novel, 0) * 10000 // n.n_new AS novel_bp
        | FROM n LEFT JOIN nov ON nov.lang = n.lang
        | ORDER BY n.lang""".stripMargin.replace("\n", " "),

    "dedup_topk_similar" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte,
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |          round(($matches) / 8.0, 4) AS est_jaccard
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | sym AS (SELECT a_id AS doc_id, b_id AS neighbor_id, est_jaccard FROM pairs
         |         UNION ALL SELECT b_id, a_id, est_jaccard FROM pairs),
         | ranked AS (SELECT doc_id, neighbor_id, est_jaccard,
         |     row_number() OVER (PARTITION BY doc_id
         |                        ORDER BY est_jaccard DESC, neighbor_id) AS rank
         |   FROM sym)
         | SELECT doc_id, neighbor_id, est_jaccard, rank FROM ranked
         | WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin.replace("\n", " ")
    },

    "events_stickiness" ->
      """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM e GROUP BY day),
        | u AS (SELECT count(DISTINCT user_id) AS _u FROM events)
        | SELECT day, dau, CAST((dau * 10000) // _u AS INTEGER) AS stickiness_bp
        | FROM dau, u ORDER BY day""".stripMargin.replace("\n", " "),

    "dedup_incremental" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte
         | SELECT a.doc_id AS in_id, b.doc_id AS stored_id,
         |        round(($matches) / 8.0, 4) AS est_jaccard
         | FROM sig a JOIN sig b
         |   ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND ($bandsMatch)
         | WHERE round(($matches) / 8.0, 4) >= 0.25
         | ORDER BY in_id, stored_id""".stripMargin.replace("\n", " ")
    },

    // batch twin of the streamed replay: one LSH self-join over the
    // whole corpus, unordered pairs
    "streaming_replay_dedup" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH $minhashSigCte
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |        round(($matches) / 8.0, 4) AS est_jaccard
         | FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         | WHERE round(($matches) / 8.0, 4) >= 0.25
         | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")
    },

    "dedup_clusters" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH RECURSIVE $minhashSigCte,
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         | SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         | FROM reach GROUP BY s ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },

    // retraction must land on the full recompute over SURVIVORS — same
    // CC oracle, signature CTE restricted to the surviving corpus
    "dedup_retract_clusters" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH RECURSIVE ${minhashSigCteFrom(
          "(SELECT * FROM documents WHERE doc_id % 10 <> 3) docs_r")},
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         | SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         | FROM reach GROUP BY s ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },

    // the warm-start path must land on the FULL recompute's clustering —
    // the oracle is dedup_clusters' all-pairs CC verbatim
    "dedup_clusters_incremental" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH RECURSIVE $minhashSigCte,
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         | SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         | FROM reach GROUP BY s ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },

    "dedup_canonical" -> {
      val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
      val bandsMatch = (0 until 4).map(b =>
        s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
      s"""WITH RECURSIVE $minhashSigCte,
         | pairs AS (
         |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
         |   WHERE round(($matches) / 8.0, 4) >= 0.25),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         | comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         |          FROM reach GROUP BY s),
         | q AS (SELECT doc_id,
         |         (len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)}))
         |            * 10000) // len(string_split(text, ' ')) AS quality_bp
         |       FROM documents),
         | wc AS (SELECT q.doc_id, coalesce(c.cluster_id, q.doc_id) AS cluster_id,
         |               q.quality_bp
         |        FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id),
         | best AS (SELECT cluster_id, doc_id, quality_bp, row_number() OVER (
         |            PARTITION BY cluster_id ORDER BY quality_bp DESC, doc_id) AS rn
         |          FROM wc)
         | SELECT cluster_id, doc_id AS keep_id, quality_bp
         | FROM best WHERE rn = 1 ORDER BY cluster_id""".stripMargin.replace("\n", " ")
    },

    // NOTE: the outer sum() of BIGINT is HUGEINT in DuckDB; the driver's
    // pandas bridge coerces HUGEINT to float64, losing exactness above
    // 2^53 — CAST back to BIGINT so 60-bit simhash values survive.
    "dedup_simhash" ->
      """WITH t AS (
        |   SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        | v AS (
        |   SELECT doc_id, r.b AS b, sum(((h >> r.b) & 1) * 2 - 1) AS vote
        |   FROM t CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r GROUP BY doc_id, r.b)
        | SELECT doc_id,
        |        CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        | FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_simhash_pairs" ->
      """WITH t AS (
        |   SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        | v AS (
        |   SELECT doc_id, r.b AS b, sum(((h >> r.b) & 1) * 2 - 1) AS vote
        |   FROM t CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r GROUP BY doc_id, r.b),
        | s AS (SELECT doc_id,
        |       CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
        |                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |       FROM v GROUP BY doc_id),
        | bd AS (SELECT doc_id, simhash, r.b AS band,
        |        (simhash >> (r.b * 15)) & 32767 AS key
        |        FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS b) r),
        | cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
        |          bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        |          FROM bd a JOIN bd b
        |            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        | SELECT a, b, hamming FROM cand WHERE hamming <= 3
        | ORDER BY a, b""".stripMargin.replace("\n", " "),

    "text_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |        len(list_distinct(string_split(text, ' '))) AS n_distinct
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // RE2 script-run rebuild of the BreakIterator segmentation on the
    // pinned fixture (see multilingualFixture for the shapes that make
    // the two provably agree): per-script CJK runs, then a joiner-aware
    // alphanumeric run over the space-separated scripts.
    "text_tokens_unicode" -> {
      val cases = multilingualFixture.zipWithIndex
        .map { case (s, i) => s"WHEN $i THEN '${s.replace("'", "''")}'" }
        .mkString(" ")
      val pat = """[\p{Han}]+|[\p{Hiragana}]+|[\p{Katakana}]+|[\p{Hangul}]+""" +
        """|[\p{Latin}\p{Greek}\p{Cyrillic}\p{Nd}]+""" +
        """([''\-.,_][\p{Latin}\p{Greek}\p{Cyrillic}\p{Nd}]+)*"""
      s"""SELECT doc_id,
         | array_to_string(regexp_extract_all(raw, '$pat'), ' ') AS tokens,
         | len(regexp_extract_all(raw, '$pat'))::BIGINT AS n_tokens
         | FROM (SELECT doc_id,
         |   CASE doc_id % ${multilingualFixture.size} $cases END AS raw
         |   FROM documents)
         | ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },

    "text_chunk" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
        | c AS (SELECT doc_id, text,
        |        unnest(range(0, ((n - 1) // 150) + 1))::INT AS chunk_idx,
        |        unnest(range(1, n + 1, 150))::BIGINT AS chunk_start FROM d)
        | SELECT doc_id, chunk_idx, chunk_start,
        |        substr(text, chunk_start, 200) AS chunk,
        |        length(substr(text, chunk_start, 200))::BIGINT AS chunk_len
        | FROM c ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "),

    "text_fingerprint" ->
      s"SELECT doc_id, md5(${normSql("text")}) AS fp FROM documents ORDER BY doc_id",

    "text_fingerprint_rolling" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE list_reduce([unicode(ch)::BIGINT for ch in string_split(text, '')],
        |                        (a, b) -> (a * 31 + b) % 999999999999989) END AS rh
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_cdc" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, '') AS a
        |           FROM documents WHERE length(text) > 0),
        | cut0 AS (SELECT doc_id, text, len(a) AS n,
        |     [p for p in range(8, len(a) + 1) if
        |        (list_sum([unicode(a[p - j])::BIGINT
        |           * ([1, 31, 961, 29791, 923521, 28629151, 887503681, 512613922])[j + 1]::BIGINT
        |           for j in range(0, 8)]) % 1000000007) % 32 = 0] AS cs
        |   FROM d),
        | cuts AS (SELECT doc_id, text,
        |     CASE WHEN len(cs) = 0 OR cs[-1] <> n THEN list_append(cs, n)
        |          ELSE cs END AS cuts
        |   FROM cut0),
        | chunks AS (SELECT doc_id,
        |     unnest([substr(text,
        |         (CASE WHEN i = 1 THEN 0 ELSE cuts[i - 1] END) + 1,
        |         cuts[i] - (CASE WHEN i = 1 THEN 0 ELSE cuts[i - 1] END))
        |       for i in range(1, len(cuts) + 1)]) AS chunk
        |   FROM cuts),
        | hs AS (SELECT doc_id, ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS h,
        |          length(chunk) AS clen FROM chunks)
        | SELECT h, count(*)::BIGINT AS n_copies,
        |   count(DISTINCT doc_id)::BIGINT AS n_docs, min(clen)::INT AS clen
        | FROM hs GROUP BY h HAVING count(*) > 1
        | ORDER BY n_copies DESC, h LIMIT 100""".stripMargin.replace("\n", " "),

    "text_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        | seg AS (SELECT doc_id,
        |           unnest(range(0, (len(ws) + 1) // 2)) AS seg_idx,
        |           unnest(list_transform(range(0, (len(ws) + 1) // 2),
        |             i -> array_to_string(ws[i * 2 + 1:(i + 1) * 2], ' '))) AS seg
        |         FROM w),
        | sdf AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY seg),
        | boiler AS (SELECT seg FROM sdf, nd WHERE seg_df * 1000 > nd * 50),
        | kept AS (SELECT s.doc_id, s.seg_idx, s.seg FROM seg s
        |          ANTI JOIN boiler b USING (seg)),
        | rebuilt AS (SELECT doc_id, count(*) AS n_kept,
        |               array_to_string(list_transform(
        |                 list_sort(list(struct_pack(seg_idx := seg_idx, seg := seg))),
        |                 x -> x.seg), ' ') AS clean_text
        |             FROM kept GROUP BY doc_id)
        | SELECT w.doc_id, (len(ws) + 1) // 2 AS n_seg,
        |        coalesce(n_kept, 0) AS n_kept,
        |        coalesce(clean_text, '') AS clean_text
        | FROM w LEFT JOIN rebuilt USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents),
        | bg AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 1),
        |          i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
        |        FROM w WHERE len(ws) >= 2),
        | cnt AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
        | rk AS (SELECT doc_id, bg, cnt,
        |          sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n_bigrams,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rn
        |        FROM cnt),
        | top AS (SELECT doc_id, n_bigrams, bg, cnt FROM rk WHERE rn = 1)
        | SELECT w.doc_id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
        |        coalesce(bg, '') AS top_bigram, coalesce(cnt, 0)::BIGINT AS top_cnt,
        |        (CASE WHEN n_chars > 0
        |              THEN coalesce(cnt, 0) * length(coalesce(bg, '')) * 10000 // n_chars
        |              ELSE 0 END)::BIGINT AS rep_bp
        | FROM w LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_segments" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | seg AS (SELECT doc_id,
        |           unnest(range(0, (len(ws) + 1) // 2)) AS seg_idx,
        |           unnest(list_transform(range(0, (len(ws) + 1) // 2),
        |             i -> array_to_string(ws[i * 2 + 1:(i + 1) * 2], ' '))) AS seg
        |         FROM w),
        | win AS (SELECT doc_id, seg_idx, seg,
        |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |         FROM seg),
        | kept AS (SELECT doc_id, seg_idx, seg FROM win WHERE rn = 1),
        | rebuilt AS (SELECT doc_id, count(*) AS n_kept,
        |               array_to_string(list_transform(
        |                 list_sort(list(struct_pack(seg_idx := seg_idx, seg := seg))),
        |                 x -> x.seg), ' ') AS clean_text
        |             FROM kept GROUP BY doc_id)
        | SELECT w.doc_id, (len(ws) + 1) // 2 AS n_seg,
        |        coalesce(n_kept, 0) AS n_kept,
        |        coalesce(clean_text, '') AS clean_text
        | FROM w LEFT JOIN rebuilt USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // the full composed pipeline rebuilt in SQL: quantize → seed
    // centroids → 2 unrolled Lloyd rounds (same CTEs as embed_pq_train)
    // → encode → IVF assign (argmin cosine) → 2-probe per query → ADC
    // over codes in probed cells → top-3; integer arithmetic end to end
    "embed_ivfpq" ->
      """WITH ma AS (SELECT vec_id, embedding,
        |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS MATERIALIZED (SELECT vec_id,
        |     CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |          ELSE list_transform(embedding,
        |            x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |     END AS q
        |   FROM ma),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | subs AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |     q[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv FROM qv, mm),
        | seed AS MATERIALIZED (SELECT m, rn - 1 AS code, sv AS cv FROM
        |     (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        |      FROM subs) WHERE rn <= 4),
        | a1 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN seed c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e1 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n1 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e1 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c1 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM seed s LEFT JOIN n1 n ON s.m = n.m AND s.code = n.code),
        | a2 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c1 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e2 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a2 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n2 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e2 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c2 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM c1 s LEFT JOIN n2 n ON s.m = n.m AND s.code = n.code),
        | enc AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c2 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | cents AS MATERIALIZED (SELECT vec_id AS c_id, q AS c_emb FROM qv WHERE vec_id < 8),
        | assign AS MATERIALIZED (SELECT v.vec_id,
        |     min(struct_pack(nc := -(list_dot_product(c.c_emb, v.q) /
        |           (sqrt(list_dot_product(c.c_emb, c.c_emb)) * sqrt(list_dot_product(v.q, v.q)))),
        |         cid := c.c_id)).cid AS cluster
        |   FROM qv v, cents c GROUP BY v.vec_id),
        | probes AS (SELECT q_id, cluster FROM (
        |     SELECT v.vec_id AS q_id, c.c_id AS cluster,
        |       row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |         (list_dot_product(c.c_emb, v.q) /
        |           (sqrt(list_dot_product(c.c_emb, c.c_emb)) * sqrt(list_dot_product(v.q, v.q)))) DESC,
        |         c.c_id) AS rk
        |     FROM qv v, cents c WHERE v.vec_id >= 10 AND v.vec_id < 15)
        |   WHERE rk <= 2),
        | cand AS (SELECT p.q_id, a.vec_id AS neighbor_id
        |   FROM probes p JOIN assign a ON a.cluster = p.cluster
        |   WHERE a.vec_id <> p.q_id),
        | qsubs AS (SELECT v.vec_id AS q_id, mm.m AS m,
        |     v.q[mm.m * 16 + 1 : mm.m * 16 + 16] AS qv_sub
        |   FROM qv v, mm WHERE v.vec_id >= 10 AND v.vec_id < 15),
        | adc AS (SELECT c.q_id, c.neighbor_id,
        |     sum(list_sum([pow(qs.qv_sub[i] - cb.cv[i], 2) for i in range(1, 17)])) AS adc2
        |   FROM cand c JOIN enc e ON e.vec_id = c.neighbor_id
        |               JOIN c2 cb ON cb.m = e.m AND cb.code = e.code
        |               JOIN qsubs qs ON qs.q_id = c.q_id AND qs.m = e.m
        |   GROUP BY c.q_id, c.neighbor_id),
        | ranked AS (SELECT q_id, neighbor_id, adc2,
        |     row_number() OVER (PARTITION BY q_id ORDER BY adc2, neighbor_id) AS rank
        |   FROM adc)
        | SELECT q_id, neighbor_id, CAST(adc2 AS BIGINT) AS adc2, CAST(rank AS BIGINT) AS rank
        | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "dedup_spans_exact" -> spanDedupExactOracle,

    // the SA-run pipeline must land on the identical table — one oracle
    "dedup_spans_sa" -> spanDedupExactOracle,

    "dedup_retract" -> spanDedupExactOracleOver("doc_id % 10 <> 3"),

    // the warm-start run must equal the full recompute over the union —
    // the oracle IS the full recompute (same SQL as dedup_spans_sa)
    "dedup_spans_sa_incremental" -> spanDedupExactOracle,

    "suffix_array" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | sfx0 AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM t),
        | sfx AS (SELECT doc_id, pos, array_to_string(ws[pos + 1 :], ' ') AS s FROM sfx0)
        | SELECT doc_id, pos, row_number() OVER (ORDER BY s, doc_id, pos) AS sa_rank
        | FROM sfx ORDER BY doc_id, pos""".stripMargin.replace("\n", " "),

    // the oracle SORTS EVERY SUFFIX STRING outright — feasible single-node,
    // which is exactly the contrast with the distributed prefix-doubling
    // build; token-level LCP via the first-mismatch list comprehension
    "suffix_repeated_top" ->
      s"""WITH $saNeighborLcpCte,
        | top AS (SELECT *, row_number() OVER (ORDER BY lcp DESC, doc_id, pos, nbr_id, nbr_pos) AS rnk
        |   FROM lcp)
        | SELECT doc_id, pos, nbr_id, nbr_pos, CAST(lcp AS BIGINT) AS lcp,
        |   array_to_string(wa[1 : least(lcp, 10)], ' ') AS snippet,
        |   CAST(rnk AS BIGINT) AS rank
        | FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin.replace("\n", " "),

    "suffix_lcp_profile" ->
      s"""WITH $saNeighborLcpCte
        | SELECT CASE WHEN lcp >= 50 THEN 50 WHEN lcp >= 20 THEN 20
        |             WHEN lcp >= 10 THEN 10 WHEN lcp >= 5 THEN 5
        |             WHEN lcp >= 2 THEN 2 WHEN lcp >= 1 THEN 1
        |             ELSE 0 END AS lcp_ge,
        |        count(*) AS n_pairs, CAST(max(lcp) AS BIGINT) AS max_lcp
        | FROM lcp GROUP BY 1 ORDER BY lcp_ge""".stripMargin.replace("\n", " "),

    "dedup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | g AS (SELECT doc_id,
        |         unnest(range(0, len(ws) - 4)) AS gpos,
        |         unnest(list_transform(range(0, len(ws) - 4),
        |           i -> ('0x' || substr(md5(array_to_string(ws[i + 1:i + 5], ' ')), 1, 15))::BIGINT)) AS gh
        |       FROM w WHERE len(ws) >= 5),
        | r AS (SELECT doc_id, gpos,
        |         row_number() OVER (PARTITION BY gh ORDER BY doc_id, gpos) AS rn
        |       FROM g),
        | cov AS (SELECT DISTINCT doc_id, gpos + unnest(range(0, 5)) AS pos
        |         FROM r WHERE rn >= 2),
        | t AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, unnest(ws) AS tok FROM w),
        | kept AS (SELECT t.doc_id, t.pos, t.tok FROM t ANTI JOIN cov USING (doc_id, pos)),
        | rb AS (SELECT doc_id, count(*) AS n_kept,
        |          array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
        |        FROM kept GROUP BY doc_id)
        | SELECT w.doc_id, len(ws)::BIGINT AS n_tok,
        |        coalesce(n_kept, 0)::BIGINT AS n_kept,
        |        coalesce(clean_text, '') AS clean_text
        | FROM w LEFT JOIN rb USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        | g AS (SELECT doc_id, n - 7 AS n_pos, text,
        |         unnest(range(1, n - 7 + 1)) AS pos FROM d WHERE n >= 11),
        | h AS (SELECT doc_id, n_pos, pos,
        |         ('0x' || substr(md5(substr(text, pos, 8)), 1, 15))::BIGINT AS fp
        |       FROM g),
        | w AS (SELECT doc_id, n_pos, pos,
        |         min(fp) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |       FROM h),
        | s AS (SELECT DISTINCT doc_id, sel AS fp FROM w WHERE pos <= n_pos - 3),
        | cnts AS (SELECT doc_id, count(*) AS n_fp FROM s GROUP BY doc_id),
        | dfq AS (SELECT fp, count(*) AS df FROM s GROUP BY fp),
        | idx AS (SELECT s.fp, s.doc_id FROM s JOIN dfq USING (fp) WHERE df <= 20),
        | pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
        |        FROM idx x JOIN idx y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |        GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 10)
        | SELECT a, b, shared,
        |        (shared * 10000 // least(ca.n_fp, cb.n_fp))::BIGINT AS contain_bp
        | FROM pr JOIN cnts ca ON pr.a = ca.doc_id
        |         JOIN cnts cb ON pr.b = cb.doc_id
        | WHERE shared * 10000 // least(ca.n_fp, cb.n_fp) >= 2500
        | ORDER BY a, b""".stripMargin.replace("\n", " "),

    "text_selfdedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tok AS (SELECT doc_id, unnest(ws) AS tk,
        |           generate_subscripts(ws, 1) AS i FROM w),
        | firsts AS (SELECT doc_id, tk, min(i) AS i FROM tok GROUP BY doc_id, tk),
        | reb AS (SELECT doc_id, count(*) AS n_kept,
        |           array_to_string(list(tk ORDER BY i), ' ') AS dedup_text
        |         FROM firsts GROUP BY doc_id)
        | SELECT w.doc_id, len(ws)::BIGINT AS n_tok,
        |        coalesce(n_kept, 0)::BIGINT AS n_kept,
        |        coalesce(dedup_text, '') AS dedup_text
        | FROM w LEFT JOIN reb USING (doc_id) ORDER BY w.doc_id""".stripMargin.replace("\n", " "),

    "text_winnowing" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        | g AS (SELECT doc_id, n - 7 AS n_pos, text,
        |         unnest(range(1, n - 7 + 1)) AS pos FROM d WHERE n >= 11),
        | h AS (SELECT doc_id, n_pos, pos,
        |         ('0x' || substr(md5(substr(text, pos, 8)), 1, 15))::BIGINT AS fp
        |       FROM g),
        | w AS (SELECT doc_id, n_pos, pos,
        |         min(fp) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |       FROM h),
        | s AS (SELECT DISTINCT doc_id, sel AS fp FROM w WHERE pos <= n_pos - 3),
        | a AS (SELECT doc_id, count(*) AS n_fp, bit_xor(fp) AS fp_xor
        |       FROM s GROUP BY doc_id)
        | SELECT d.doc_id, coalesce(n_fp, 0) AS n_fp, coalesce(fp_xor, 0) AS fp_xor
        | FROM d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),

    "text_quality" ->
      s"""SELECT doc_id, length(text) AS n_char, len(string_split(text, ' ')) AS n_tok,
         | len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits,
         | round(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)}))::DOUBLE
         |       / len(string_split(text, ' ')), 4) AS stop_ratio
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_stitch" ->
      """WITH d AS (SELECT doc_id,
        |        array_to_string(string_split(text, ' ')[1:3], ' ') AS head_g,
        |        array_to_string(string_split(text, ' ')[len(string_split(text, ' ')) - 2:len(string_split(text, ' '))], ' ') AS tail_g
        |      FROM documents WHERE len(string_split(text, ' ')) >= 3),
        | tails AS (SELECT doc_id AS id_a, tail_g AS g FROM d),
        | heads AS (SELECT doc_id AS id_b, head_g AS g FROM d),
        | tok AS (SELECT g FROM tails GROUP BY g HAVING count(*) <= 100),
        | hok AS (SELECT g FROM heads GROUP BY g HAVING count(*) <= 100)
        | SELECT id_a, id_b, t.g AS boundary
        | FROM tails t JOIN tok USING (g) JOIN hok USING (g) JOIN heads h USING (g)
        | WHERE id_a <> id_b
        | ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),

    "quality_logreg" ->
      s"""WITH f AS (SELECT doc_id,
         |   len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)}))::BIGINT * 10000
         |     // len(string_split(text, ' '))::BIGINT AS stop_bp,
         |   length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::BIGINT * 10000
         |     // greatest(length(text)::BIGINT, 1) AS punct_bp,
         |   CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 10000 ELSE 0 END::BIGINT AS len_band
         | FROM documents)
         | SELECT doc_id, stop_bp, punct_bp, len_band,
         |   -30000 + 8 * stop_bp + len_band - 5 * punct_bp AS margin,
         |   (-30000 + 8 * stop_bp + len_band - 5 * punct_bp) > 0 AS keep
         | FROM f ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // hand-evaluated RFC 9309: graftbot sees only its own group
    // (Disallow /doc/), otherbot falls to * (Disallow /private + the
    // /private/open carve-out + the anchored /tmp*.log$)
    "governance_robots" ->
      """SELECT doc_id::BIGINT AS doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'graftbot' ELSE 'otherbot' END AS agent,
        |  CASE (doc_id // 2) % 4
        |    WHEN 0 THEN '/doc/' || doc_id
        |    WHEN 1 THEN '/private/' || doc_id
        |    WHEN 2 THEN '/private/open/' || doc_id
        |    ELSE '/tmp' || doc_id || '.log' END AS path,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN CASE WHEN (doc_id // 2) % 4 = 0 THEN 0 ELSE 1 END
        |    ELSE CASE WHEN (doc_id // 2) % 4 IN (1, 3) THEN 0 ELSE 1 END
        |  END AS allowed
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "governance_kanon" ->
      """WITH q AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |             floor(c_acctbal / 1000)::BIGINT AS bal_band FROM customer),
        | g AS (SELECT (GROUPING(nation) * 4 + GROUPING(segment) * 2
        |               + GROUPING(bal_band))::BIGINT AS level, count(*) AS cnt
        |       FROM q GROUP BY ROLLUP (nation, segment, bal_band))
        | SELECT level, count(*) AS n_groups, min(cnt) AS k_anonymity,
        |   sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END)::BIGINT AS rows_at_risk
        | FROM g GROUP BY level ORDER BY level""".stripMargin.replace("\n", " "),

    "governance_ldiv" ->
      """WITH q AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |             floor(c_acctbal / 1000)::BIGINT AS bal_band FROM customer),
        | g AS (SELECT nation, segment, count(*)::BIGINT AS cnt,
        |              count(DISTINCT bal_band)::BIGINT AS l_div
        |       FROM q GROUP BY nation, segment)
        | SELECT nation, count(*) AS n_groups, min(l_div) AS min_l,
        |   sum(CASE WHEN l_div < 3 THEN cnt ELSE 0 END)::BIGINT AS rows_at_risk
        | FROM g GROUP BY nation ORDER BY nation""".stripMargin.replace("\n", " "),

    "text_feature_hash" ->
      """SELECT doc_id,
        |   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS feat,
        |   count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY doc_id, feat
        | ORDER BY doc_id, feat""".stripMargin.replace("\n", " "),

    "tpch_q17_style" ->
      """WITH li AS (SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |              CAST(l_extendedprice AS DECIMAL(20,6)) AS price FROM lineitem),
        | pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
        | lif AS (SELECT li.l_partkey, li.qc, li.price FROM li JOIN pk ON l_partkey = p_partkey),
        | pp AS (SELECT l_partkey, sum(qc) AS sumq, count(*) AS cnt FROM lif GROUP BY 1)
        | SELECT count(*) AS n_rows,
        |   CAST(round(coalesce(sum(price), 0) * 100) AS BIGINT) AS sum_cents
        | FROM lif JOIN pp USING (l_partkey) WHERE 5 * qc * cnt < sumq
        | ORDER BY n_rows""".stripMargin.replace("\n", " "),

    "tpch_q22_style" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey AS nation,
        |                CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        | avgpos AS (SELECT nation, sum(cents) AS sum_pos, count(*) AS n_pos
        |            FROM cust WHERE cents > 0 GROUP BY nation)
        | SELECT nation, count(*) AS n_cust, sum(cents)::BIGINT AS total_cents
        | FROM cust JOIN avgpos USING (nation)
        | WHERE cents * n_pos > sum_pos
        |   AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cust.c_custkey
        |                   AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        | GROUP BY nation ORDER BY nation""".stripMargin.replace("\n", " "),

    "text_langid" -> textLangidOracle,

    "text_langid_ngram" -> {
      def hits(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
      val en = hits("th|he|er|an")
      val es = hits("qu|ci|os|la")
      val de = hits("ch|ei|un|ge")
      s"""SELECT doc_id,
         | CASE WHEN $en > 0 AND $en >= $es AND $en >= $de THEN 'en'
         |      WHEN $es > 0 AND $es >= $de THEN 'es'
         |      WHEN $de > 0 THEN 'de'
         |      ELSE 'und' END AS lang_pred
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },

    "ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id, ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "embed_mmr" -> {
      // steps 2..5 unrolled: score each unselected candidate against the
      // selected set via the pair-sim table, pick argmax (ties to id)
      val steps = (2 to 5).map { i =>
        s"""r$i AS (SELECT c.q_id, c.id, c.rel,
           |   0.7 * c.rel - 0.3 * max(pp.sim) AS score
           |   FROM cand c
           |   JOIN sel${i - 1} s ON s.q_id = c.q_id
           |   LEFT JOIN sel${i - 1} ex ON ex.q_id = c.q_id AND ex.id = c.id
           |   JOIN p pp ON pp.q_id = c.q_id AND pp.a = least(c.id, s.id)
           |     AND pp.b = greatest(c.id, s.id)
           |   WHERE ex.id IS NULL GROUP BY c.q_id, c.id, c.rel),
           | pk$i AS (SELECT q_id, id, score, row_number() OVER
           |     (PARTITION BY q_id ORDER BY score DESC, id) AS rn FROM r$i),
           | sel$i AS (SELECT q_id, id, step, score FROM sel${i - 1} UNION ALL
           |   SELECT q_id, id, $i AS step, score FROM pk$i WHERE rn = 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |   WHERE vec_id < 5),
         | scored AS (SELECT q.q_id, e.vec_id AS id,
         |     ${duckCosine("q.q_emb", "e.embedding")} AS rel
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | cand AS (SELECT q_id, id, rel FROM (SELECT q_id, id, rel,
         |     row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, id) AS rn
         |   FROM scored) WHERE rn <= 20),
         | p AS (SELECT c1.q_id, c1.id AS a, c2.id AS b,
         |     ${duckCosine("e1.embedding", "e2.embedding")} AS sim
         |   FROM cand c1 JOIN cand c2 ON c1.q_id = c2.q_id AND c1.id < c2.id
         |   JOIN embeddings e1 ON e1.vec_id = c1.id
         |   JOIN embeddings e2 ON e2.vec_id = c2.id),
         | s1 AS (SELECT q_id, id, 0.7 * rel AS score, row_number() OVER
         |     (PARTITION BY q_id ORDER BY 0.7 * rel DESC, id) AS rn FROM cand),
         | sel1 AS (SELECT q_id, id, 1 AS step, score FROM s1 WHERE rn = 1),
         | $steps
         | SELECT q_id, id AS neighbor_id, step, round(score, 4) AS mmr_r4
         | FROM sel5 ORDER BY q_id, step""".stripMargin.replace("\n", " ")
    },

    "embed_matryoshka" ->
      s"""WITH p AS (
         |   SELECT d.dim, q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |          row_number() OVER (PARTITION BY d.dim, q.vec_id
         |            ORDER BY ${duckCosine("(q.embedding[1:d.dim])", "(e.embedding[1:d.dim])")} DESC,
         |                     e.vec_id) AS rnk
         |   FROM (VALUES (8), (16), (32), (64)) d(dim)
         |   CROSS JOIN embeddings q
         |   JOIN embeddings e ON e.vec_id <> q.vec_id
         |   WHERE q.vec_id < 10),
         | top AS (SELECT dim, q_id, neighbor_id FROM p WHERE rnk <= 3),
         | full64 AS (SELECT q_id, neighbor_id FROM top WHERE dim = 64)
         | SELECT t.dim, t.q_id, array_to_string(list_sort(list(t.neighbor_id)), ',') AS top3,
         |        CAST(sum(CASE WHEN f.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits
         | FROM top t LEFT JOIN full64 f
         |   ON t.q_id = f.q_id AND t.neighbor_id = f.neighbor_id
         | GROUP BY t.dim, t.q_id ORDER BY t.dim, t.q_id""".stripMargin.replace("\n", " "),

    "retrieval_mrr" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         | scored AS (
         |   SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, q_label, n_label,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id,
         |   coalesce(min(CASE WHEN n_label = q_label THEN rank END), 0) AS first_rel_rank
         | FROM ranked WHERE rank <= 10 GROUP BY q_id ORDER BY q_id""".stripMargin.replace("\n", " "),

    "retrieval_ap" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         | scored AS (
         |   SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, (n_label = q_label)::BIGINT AS rel,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored),
         | top10 AS (SELECT q_id, rel, rank,
         |     sum(rel) OVER (PARTITION BY q_id ORDER BY rank
         |       ROWS UNBOUNDED PRECEDING) AS relcnt
         |   FROM ranked WHERE rank <= 10),
         | ap AS (SELECT q_id, sum(rel)::BIGINT AS n_rel,
         |     sum(CASE WHEN rel = 1 THEN relcnt * 2520 // rank ELSE 0 END)::BIGINT AS ap2520
         |   FROM top10 GROUP BY q_id)
         | SELECT q_id, n_rel,
         |   CASE WHEN n_rel > 0 THEN (ap2520 * 10000 // (n_rel * 2520))::BIGINT
         |        ELSE 0 END AS ap_bp
         | FROM ap ORDER BY q_id""".stripMargin.replace("\n", " "),

    "retrieval_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         | lc AS (SELECT label, count(*)::BIGINT AS n_lab FROM embeddings GROUP BY label),
         | scored AS (
         |   SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, q_label, (n_label = q_label)::BIGINT AS rel,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored),
         | agg AS (SELECT q_id, q_label, sum(rel)::BIGINT AS n_rel,
         |     sum(rel * ($duckNdcgW)[rank::INT])::BIGINT AS dcg
         |   FROM ranked WHERE rank <= 10 GROUP BY q_id, q_label)
         | SELECT q_id, n_rel, (n_lab - 1)::BIGINT AS n_rel_corpus,
         |   CASE WHEN n_lab > 1
         |        THEN (dcg * 10000 // ($duckNdcgCw)[least(n_lab - 1, 10)::INT])::BIGINT
         |        ELSE 0 END AS ndcg_bp
         | FROM agg JOIN lc ON lc.label = agg.q_label
         | ORDER BY q_id""".stripMargin.replace("\n", " "),

    "ann_lsh" ->
      s"""WITH planes AS (
         |   SELECT j, d, ('0x' || substr(md5(j || ':' || d), 1, 8))::BIGINT % 1001 - 500 AS w
         |   FROM (SELECT unnest(range(0, 6)) AS j), (SELECT unnest(range(0, 64)) AS d)),
         | dots AS (
         |   SELECT vec_id, j, sum(CAST(embedding[d + 1] AS DOUBLE) * w) AS dot
         |   FROM embeddings, planes GROUP BY vec_id, j),
         | buckets AS (
         |   SELECT vec_id, sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS bucket
         |   FROM dots GROUP BY vec_id),
         | e AS (SELECT em.vec_id, em.embedding, b.bucket FROM embeddings em JOIN buckets b USING (vec_id)),
         | q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM e WHERE vec_id < 10),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id, ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "validate_orders" ->
      """WITH ov AS (SELECT
        |   sum(CASE WHEN coalesce(o_custkey IS NOT NULL, false) THEN 0 ELSE 1 END) AS v_custkey,
        |   sum(CASE WHEN coalesce(o_orderdate IS NOT NULL, false) THEN 0 ELSE 1 END) AS v_date,
        |   sum(CASE WHEN coalesce(o_orderstatus IN ('O', 'F', 'P'), false) THEN 0 ELSE 1 END) AS v_status,
        |   sum(CASE WHEN coalesce(o_totalprice > 0, false) THEN 0 ELSE 1 END) AS v_pos,
        |   sum(CASE WHEN coalesce(o_totalprice <= 400000, false) THEN 0 ELSE 1 END) AS v_400k,
        |   count(*) AS n FROM orders),
        | lv AS (SELECT
        |   sum(CASE WHEN coalesce(l_discount >= 0 AND l_discount <= 0.1, false) THEN 0 ELSE 1 END) AS v_disc,
        |   sum(CASE WHEN coalesce(l_quantity >= 1 AND l_quantity <= 50, false) THEN 0 ELSE 1 END) AS v_q50,
        |   sum(CASE WHEN coalesce(l_quantity <= 45, false) THEN 0 ELSE 1 END) AS v_q45,
        |   count(*) AS n FROM lineitem),
        | fk1 AS (SELECT count(*) AS v, (SELECT count(*) FROM lineitem) AS n FROM lineitem li
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)),
        | fk2 AS (SELECT count(*) AS v, (SELECT count(*) FROM orders) AS n FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        | SELECT rule, CAST(n_viol AS BIGINT) AS n_viol, CAST(n_rows AS BIGINT) AS n_rows FROM (
        |   SELECT 'o_custkey_not_null' AS rule, v_custkey AS n_viol, n AS n_rows FROM ov
        |   UNION ALL SELECT 'o_date_not_null', v_date, n FROM ov
        |   UNION ALL SELECT 'o_status_in_set', v_status, n FROM ov
        |   UNION ALL SELECT 'o_totalprice_positive', v_pos, n FROM ov
        |   UNION ALL SELECT 'o_totalprice_under_400k', v_400k, n FROM ov
        |   UNION ALL SELECT 'l_discount_bounds', v_disc, n FROM lv
        |   UNION ALL SELECT 'l_quantity_in_1_50', v_q50, n FROM lv
        |   UNION ALL SELECT 'l_quantity_under_45', v_q45, n FROM lv
        |   UNION ALL SELECT 'fk_lineitem_orders', v, n FROM fk1
        |   UNION ALL SELECT 'fk_orders_customer', v, n FROM fk2)
        | ORDER BY rule""".stripMargin.replace("\n", " "),

    "pipeline_quality_sweep" ->
      s"""WITH scored AS (SELECT doc_id,
         |     len(string_split(text, ' '))::BIGINT AS n_tok,
         |     (len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) * 10000)
         |       // len(string_split(text, ' ')) AS q_bp
         |   FROM documents),
         | thr AS (SELECT unnest(range(0, 1801, 200)) AS thr_bp)
         | SELECT thr_bp, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
         | FROM scored JOIN thr ON q_bp >= thr_bp
         | GROUP BY thr_bp ORDER BY thr_bp""".stripMargin.replace("\n", " "),

    "text_blocklist" ->
      """SELECT doc_id,
        |   len(list_filter(string_split(text, ' '),
        |       t -> t IN ('error', 'slow', 'dup', 'spill', 'skew'))) AS block_hits,
        |   CASE WHEN len(list_filter(string_split(text, ' '),
        |       t -> t IN ('error', 'slow', 'dup', 'spill', 'skew'))) > 0
        |     THEN 1 ELSE 0 END AS flagged
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "corpus_mix" ->
      """WITH tok AS (SELECT lang, len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS tok FROM documents),
        | per AS (SELECT lang, count(*)::BIGINT AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens FROM tok GROUP BY lang),
        | tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per),
        | tgt(lang, target_bp) AS (VALUES ('en', 4000), ('de', 1500), ('fr', 1500), ('es', 1500), ('zh', 1500))
        | SELECT p.lang, p.n_docs, p.tokens,
        |        (p.tokens * 10000) // t.total AS natural_bp,
        |        CAST(g.target_bp AS BIGINT) AS target_bp,
        |        (t.total * g.target_bp) // p.tokens AS need_bp,
        |        least(10000, (t.total * g.target_bp) // p.tokens) AS keep_bp,
        |        (p.tokens * least(10000, (t.total * g.target_bp) // p.tokens)) // 10000 AS kept_tokens
        | FROM per p JOIN tgt g ON p.lang = g.lang CROSS JOIN tot t
        | ORDER BY p.lang""".stripMargin.replace("\n", " "),

    "quality_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        | tk AS (SELECT doc_id, lang, term FROM tok WHERE term <> ''),
        | gf AS (SELECT term, count(*)::BIGINT AS gf FROM tk GROUP BY term),
        | dt AS (SELECT doc_id, lang, term, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2, 3),
        | sc AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tok,
        |               CAST(sum(c * (length(bin(gf)) - 1)) AS BIGINT) AS s
        |        FROM dt JOIN gf USING (term) GROUP BY 1, 2),
        | s2 AS (SELECT doc_id, lang, n_tok, (s * 1000) // n_tok AS fam_milli FROM sc),
        | r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY fam_milli DESC, doc_id) AS rw,
        |              count(*) OVER (PARTITION BY lang) AS n_l FROM s2)
        | SELECT doc_id, lang, n_tok, fam_milli,
        |        CASE 1 + ((rw - 1) * 3) // n_l WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        | FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "quality_gopher" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         | st AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_uniq, max(c) AS top_c,
         |        sum(length(w) * c) AS sum_len, max(length(w)) AS max_len
         |        FROM wc GROUP BY doc_id),
         | sh AS (SELECT doc_id,
         |        len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits
         |        FROM documents)
         | SELECT st.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |   CAST(n_tok >= 10 AND n_tok <= 200 AS INTEGER) AS f_words,
         |   CAST(sum_len >= n_tok * 3 AND sum_len <= n_tok * 10 AS INTEGER) AS f_meanlen,
         |   CAST(max_len <= 20 AS INTEGER) AS f_maxlen,
         |   CAST(stop_hits >= 2 AS INTEGER) AS f_stop,
         |   CAST(n_uniq * 2 >= n_tok AS INTEGER) AS f_uniq,
         |   CAST(top_c * 5 <= n_tok AS INTEGER) AS f_topword,
         |   CAST(n_tok >= 10 AND n_tok <= 200 AND sum_len >= n_tok * 3
         |        AND sum_len <= n_tok * 10 AND max_len <= 20 AND stop_hits >= 2
         |        AND n_uniq * 2 >= n_tok AND top_c * 5 <= n_tok AS INTEGER) AS keep
         | FROM st JOIN sh ON st.doc_id = sh.doc_id ORDER BY st.doc_id""".stripMargin.replace("\n", " "),

    "url_normalize" ->
      s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw_url FROM documents),
         | p AS (SELECT doc_id, raw_url,
         |   lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |   regexp_replace(lower(regexp_extract(raw_url, '^[^:/?#]+://([^/?#:]+)', 1)), '^www\\.', '') AS hst,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#:]+:([0-9]+)', 1) AS prt,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS pth0,
         |   regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1) AS qry
         |   FROM u),
         | c AS (SELECT doc_id, raw_url, sch, hst,
         |   CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
         |             AND NOT (sch = 'http' AND prt = '80')
         |        THEN ':' || prt ELSE '' END AS prtpart,
         |   CASE WHEN regexp_replace(pth0, '/+$$', '') = '' THEN '/'
         |        ELSE regexp_replace(pth0, '/+$$', '') END AS pth,
         |   coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |     x -> NOT starts_with(x, 'utm_')), '&'), '') AS qkept
         |   FROM p)
         | SELECT doc_id, raw_url,
         |   sch || '://' || hst || prtpart || pth ||
         |     CASE WHEN qkept = '' THEN '' ELSE '?' || qkept END AS url_canon,
         |   regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1) AS domain
         | FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "url_dedup" ->
      s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw_url FROM documents),
         | p AS (SELECT doc_id, raw_url,
         |   lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |   regexp_replace(lower(regexp_extract(raw_url, '^[^:/?#]+://([^/?#:]+)', 1)), '^www\\.', '') AS hst,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#:]+:([0-9]+)', 1) AS prt,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS pth0,
         |   regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1) AS qry
         |   FROM u),
         | c AS (SELECT doc_id,
         |   sch || '://' || hst ||
         |   CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
         |             AND NOT (sch = 'http' AND prt = '80')
         |        THEN ':' || prt ELSE '' END ||
         |   CASE WHEN regexp_replace(pth0, '/+$$', '') = '' THEN '/'
         |        ELSE regexp_replace(pth0, '/+$$', '') END ||
         |   CASE WHEN coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') = '' THEN ''
         |        ELSE '?' || coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') END AS url_canon
         |   FROM p)
         | SELECT url_canon, min(doc_id) AS keep_id, count(*) AS n_docs
         | FROM c GROUP BY url_canon ORDER BY url_canon""".stripMargin.replace("\n", " "),

    "url_domain_stats" ->
      s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw_url FROM documents),
         | p AS (SELECT doc_id, raw_url,
         |   lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |   regexp_replace(lower(regexp_extract(raw_url, '^[^:/?#]+://([^/?#:]+)', 1)), '^www\\.', '') AS hst,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#:]+:([0-9]+)', 1) AS prt,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS pth0,
         |   regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1) AS qry
         |   FROM u),
         | c AS (SELECT doc_id,
         |   regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1) AS domain,
         |   sch || '://' || hst ||
         |   CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
         |             AND NOT (sch = 'http' AND prt = '80')
         |        THEN ':' || prt ELSE '' END ||
         |   CASE WHEN regexp_replace(pth0, '/+$$', '') = '' THEN '/'
         |        ELSE regexp_replace(pth0, '/+$$', '') END ||
         |   CASE WHEN coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') = '' THEN ''
         |        ELSE '?' || coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') END AS url_canon
         |   FROM p)
         | SELECT domain, count(DISTINCT url_canon) AS n_urls, count(*) AS n_docs
         | FROM c GROUP BY domain ORDER BY domain""".stripMargin.replace("\n", " "),

    "sample_coreset" -> {
      def dist(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i])::BIGINT * ($a[i] - $b[i])))"
      val stages = (2 to 8).map { r =>
        s""" n$r AS (SELECT vec_id AS cid, best AS sel FROM s${r - 1}
           |   ORDER BY best DESC, vec_id LIMIT 1),
           | c$r AS (SELECT n$r.cid, q.qv AS cq, n$r.sel
           |   FROM n$r JOIN q ON q.vec_id = n$r.cid),
           | s$r AS MATERIALIZED (SELECT s.vec_id, s.qv,
           |   least(s.best, ${dist("s.qv", "c.cq")}) AS best
           |   FROM s${r - 1} s, c$r c)""".stripMargin
      }.mkString(",")
      // sel > 0 mirrors kCenterCoreset's radius-0 stop: once the
      // covering radius collapses (fewer distinct vectors than k), every
      // later stage would re-select the seed at sel = 0 — drop those
      // rows so both engines emit the same (possibly < 8) exemplar set
      val tails = (2 to 8).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), cid, sel::BIGINT FROM n$r WHERE sel > 0")
        .mkString(" ")
      s"""WITH m AS (SELECT vec_id, embedding,
         |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
         |   FROM embeddings),
         | q AS MATERIALIZED (SELECT vec_id,
         |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
         |        ELSE list_transform(embedding,
         |               x -> CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER)) END AS qv
         |   FROM m),
         | c1 AS (SELECT vec_id AS cid, qv AS cq FROM q
         |        WHERE vec_id = (SELECT min(vec_id) FROM q)),
         | s1 AS MATERIALIZED (SELECT q.vec_id, q.qv, ${dist("q.qv", "c.cq")} AS best
         |   FROM q, c1 c),$stages
         | SELECT CAST(1 AS BIGINT) AS rank, cid AS vec_id, CAST(0 AS BIGINT) AS sel_d2
         | FROM c1 $tails ORDER BY rank""".stripMargin.replace("\n", " ")
    },

    "embed_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id, ma,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
        |        ELSE list_transform(embedding,
        |               x -> CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER)) END AS q
        |   FROM m)
        | SELECT vec_id, round(ma, 6) AS scale6,
        |        CAST(list_sum(q) AS BIGINT) AS q_sum,
        |        CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
        |        CAST(list_max(list_transform(q, x -> abs(x))) AS INTEGER) AS q_max
        | FROM qv ORDER BY vec_id""".stripMargin.replace("\n", " "),

    "embed_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |   FROM embeddings WHERE vec_id < 10),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id, e.label AS neg_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.label <> q.q_label),
         | ranked AS (
         |   SELECT q_id, neighbor_id, neg_label, cos,
         |          row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, neg_label, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "embed_label_outliers" ->
      """WITH m AS (SELECT vec_id, label, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id, label,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |        ELSE list_transform(embedding,
        |          x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |   END AS q FROM m),
        | ex AS (SELECT label, generate_subscripts(q, 1) AS pos, unnest(q) AS v FROM qv),
        | ps AS (SELECT label, pos, sum(v) AS s, count(*) AS c FROM ex GROUP BY 1, 2),
        | cents AS (SELECT label, list(s ORDER BY pos) AS cv, max(c) AS n
        |   FROM ps GROUP BY label),
        | sc AS (SELECT vec_id, qv.label,
        |   list_dot_product(q, cv) AS vc,
        |   list_dot_product(q, q) AS vv,
        |   list_dot_product(cv, cv) AS cc
        |   FROM qv JOIN cents USING (label)
        |   WHERE n > 1 AND list_dot_product(q, q) > 0),
        | res AS (SELECT label, vec_id,
        |   (vc - vv) / (sqrt(vv) * sqrt(cc - 2 * vc + vv)) AS loo,
        |   row_number() OVER (PARTITION BY label
        |     ORDER BY (vc - vv) / (sqrt(vv) * sqrt(cc - 2 * vc + vv)), vec_id) AS rank
        |   FROM sc)
        | SELECT label, vec_id, round(loo, 4) AS loo_cos4, rank
        | FROM res WHERE rank <= 3 ORDER BY label, rank""".stripMargin.replace("\n", " "),

    "embed_quantized_topk" ->
      """WITH m AS (SELECT vec_id,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma,
        |   embedding FROM embeddings),
        | qv AS (SELECT vec_id,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |        ELSE list_transform(embedding,
        |               x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE)) END AS qd
        |   FROM m),
        | nn AS (SELECT vec_id, qd, sqrt(list_dot_product(qd, qd)) AS nrm FROM qv),
        | qs AS (SELECT vec_id AS q_id, qd AS qqd, nrm AS qnrm FROM nn WHERE vec_id < 10),
        | scored AS (
        |   SELECT qs.q_id, e.vec_id AS neighbor_id,
        |          CAST(list_dot_product(qs.qqd, e.qd) AS BIGINT) AS dot_q,
        |          list_dot_product(qs.qqd, e.qd) / (qs.qnrm * e.nrm) AS cos
        |   FROM qs CROSS JOIN nn e WHERE e.vec_id <> qs.q_id),
        | ranked AS (
        |   SELECT q_id, neighbor_id, dot_q, cos,
        |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |   FROM scored)
        | SELECT q_id, neighbor_id, dot_q, round(cos, 4) AS cos_sim, rank
        | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "embed_hamming" ->
      """WITH bits AS (
        |   SELECT label, vec_id,
        |          list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END
        |                    for i in range(1, least(len(embedding), 60) + 1)])::BIGINT AS bits
        |   FROM embeddings)
        | SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |        CAST(bit_count(xor(a.bits, b.bits)) AS INTEGER) AS hamming
        | FROM bits a JOIN bits b ON a.label = b.label AND a.vec_id < b.vec_id
        | WHERE bit_count(xor(a.bits, b.bits)) <= 20
        | ORDER BY a_id, b_id""".stripMargin.replace("\n", " "),

    "ann_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | q AS (SELECT vec_id AS q_id, embedding AS q_emb, cluster FROM a2
         |       WHERE vec_id >= 10 AND vec_id < 20),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q JOIN a2 e ON q.cluster = e.cluster AND e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    // trained-IVF: the integer-grid k-means loop unrolled round-for-round
    // (integer inputs ⟹ exact dots, correctly-rounded sqrt/divide, exact
    // rounded means — every round's centroids are bit-identical to the
    // engine's), then the nprobe=2 IVF tail over the trained centroids.
    "ann_ivf_trained" -> {
      def assignCte(cents: String): String =
        s"""SELECT f.vec_id, f.embedding, c.c_id,
           |   row_number() OVER (PARTITION BY f.vec_id
           |     ORDER BY ${duckCosine("c.c_emb", "f.embedding")} DESC, c.c_id) AS rk
           | FROM fix f CROSS JOIN $cents c""".stripMargin
      def meanCte(assign: String, prev: String): String =
        s"""SELECT p.c_id, coalesce(g.c_emb, p.c_emb) AS c_emb FROM $prev p
           | LEFT JOIN (
           |   SELECT c_id, list(v ORDER BY d) AS c_emb FROM (
           |     SELECT a.c_id, d.d,
           |       CAST(CAST(round(avg(a.embedding[d.d + 1]), 0) AS BIGINT) AS FLOAT) AS v
           |     FROM (SELECT embedding, c_id FROM $assign WHERE rk = 1) a,
           |          (SELECT unnest(range(16)) AS d) d
           |     GROUP BY a.c_id, d.d)
           |   GROUP BY c_id) g ON p.c_id = g.c_id""".stripMargin
      s"""WITH fix AS MATERIALIZED ($clusteredEmbFixtureSql),
         | c0 AS MATERIALIZED (SELECT vec_id AS c_id, embedding AS c_emb FROM fix WHERE vec_id < 16),
         | a1 AS MATERIALIZED (${assignCte("c0")}),
         | c1 AS MATERIALIZED (${meanCte("a1", "c0")}),
         | a2 AS MATERIALIZED (${assignCte("c1")}),
         | c2 AS MATERIALIZED (${meanCte("a2", "c1")}),
         | assign AS MATERIALIZED (${assignCte("c2")}),
         | stored AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | qp AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cluster FROM assign
         |       WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
         | scored AS (
         |   SELECT qp.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("qp.q_emb", "e.embedding")} AS cos
         |   FROM qp JOIN stored e ON qp.cluster = e.cluster AND e.vec_id <> qp.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")
    },

    "ann_ivf_probe2" ->
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | qp AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cluster FROM assign
         |       WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
         | scored AS (
         |   SELECT qp.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("qp.q_emb", "e.embedding")} AS cos
         |   FROM qp JOIN a2 e ON qp.cluster = e.cluster AND e.vec_id <> qp.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "ann_ivf_replicated" ->
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk <= 2),
         | qp AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cluster FROM assign
         |       WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
         | scored AS (
         |   SELECT DISTINCT qp.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("qp.q_emb", "e.embedding")} AS cos
         |   FROM qp JOIN a2 e ON qp.cluster = e.cluster AND e.vec_id <> qp.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "retrieval_rrf" ->
      s"""WITH toks0 AS (SELECT doc_id,
         |          unnest(list_distinct(string_split(lower(text), ' '))) AS term
         |        FROM documents),
         | tk AS (SELECT doc_id, term FROM toks0 WHERE term <> ''),
         | lex0 AS (SELECT q.doc_id AS q_id, d.doc_id AS doc_id, count(*) AS overlap
         |          FROM tk q JOIN tk d USING (term)
         |          WHERE q.doc_id < 10 AND d.doc_id <> q.doc_id
         |          GROUP BY 1, 2),
         | lex AS (SELECT q_id, doc_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, doc_id) AS lrank
         |         FROM lex0 QUALIFY lrank <= 20),
         | vec0 AS (SELECT q.vec_id AS q_id, d.vec_id AS doc_id,
         |            ${duckCosine("q.embedding", "d.embedding")} AS cos
         |          FROM embeddings q CROSS JOIN embeddings d
         |          WHERE q.vec_id < 10 AND d.vec_id <> q.vec_id),
         | vec AS (SELECT q_id, doc_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS vrank
         |         FROM vec0 QUALIFY vrank <= 20),
         | fused AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
         |             coalesce(l.doc_id, v.doc_id) AS doc_id,
         |             (CASE WHEN l.lrank IS NULL THEN 0 ELSE 1000000 // (60 + l.lrank) END
         |            + CASE WHEN v.vrank IS NULL THEN 0 ELSE 1000000 // (60 + v.vrank) END)::BIGINT AS rrf_ppm
         |           FROM lex l FULL JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
         | SELECT q_id, doc_id, rrf_ppm,
         |        row_number() OVER (PARTITION BY q_id ORDER BY rrf_ppm DESC, doc_id) AS rank
         | FROM fused QUALIFY rank <= 10
         | ORDER BY q_id, rank""".stripMargin.replace("\n", " "),

    "embed_neardup" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |        round(${duckCosine("a.embedding", "b.embedding")}, 4) AS cos_sim
         | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         | WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
         | ORDER BY a_id, b_id""".stripMargin.replace("\n", " "),

    "source_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_csv" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_partition_prune" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        | WHERE lang = 'en' ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_xml" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_orc" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_binary" ->
      """SELECT printf('f%02d.bin', i) AS fname,
        |        length('file-' || i || ':payload-' || (i * i))::BIGINT AS length,
        |        md5('file-' || i || ':payload-' || (i * i)) AS content_md5
        | FROM range(0, 25) t(i) ORDER BY fname""".stripMargin.replace("\n", " "),

    "text_nfc" ->
      """WITH p AS (SELECT doc_id,
        |     'w' || doc_id || ' e' || chr(769) || ' o' || chr(776) || ' ' || chr(64257) AS raw
        |   FROM documents)
        | SELECT doc_id, nfc_normalize(raw) AS nfc,
        |        length(raw)::BIGINT AS n_raw,
        |        length(nfc_normalize(raw))::BIGINT AS n_nfc
        | FROM p ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_fixed_width" ->
      """SELECT i::BIGINT AS id, 'item-' || i AS name, (i * 37)::BIGINT AS amount
        | FROM range(0, 40) t(i) ORDER BY id""".stripMargin.replace("\n", " "),

    "source_gzip" ->
      """SELECT i::BIGINT AS id, 'line-' || i || ':' || (i * i) AS line
        | FROM range(0, 60) t(i) ORDER BY id""".stripMargin.replace("\n", " "),

    // the staged WARC shards round-trip the documents table byte-exactly:
    // n_bytes is the UTF-8 length (DuckDB strlen = bytes, length = chars)
    "source_warc" ->
      """SELECT doc_id::BIGINT AS doc_id, 200 AS status,
        |        strlen(text)::BIGINT AS n_bytes, text
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_wet" ->
      """SELECT doc_id::BIGINT AS doc_id,
        |        strlen(text)::BIGINT AS n_bytes, text
        | FROM documents WHERE doc_id % 5 = 0
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // the stream replays the batch corpus exactly → the batch oracle
    "streaming_replay_warc" ->
      """SELECT doc_id::BIGINT AS doc_id, 200 AS status,
        |        strlen(text)::BIGINT AS n_bytes, text
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_html_extract" ->
      s"""SELECT doc_id::BIGINT AS doc_id, 'Doc ' || doc_id AS title,
         |        $duckHtmlText AS text,
         |        '/doc/' || (doc_id + 1) || ',https://ex.com/' || (doc_id % 7) AS links_csv
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "pipeline_warc_html" ->
      s"""SELECT doc_id::BIGINT AS doc_id, 200 AS status,
         |        'Doc ' || doc_id AS title, $duckHtmlText AS text
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // chrome/link-dense/head blocks drop; what survives is the heading,
    // the document text, and the one plain closing paragraph
    "text_html_main" ->
      """WITH p AS (SELECT doc_id::BIGINT AS doc_id,
        |        trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
        | SELECT doc_id, 'Doc ' || doc_id || chr(10) ||
        |   (CASE WHEN t = '' THEN '' ELSE t || chr(10) END) ||
        |   'closing remarks stay' AS text
        | FROM p ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // every mode recovers the exact text; the label replays the
    // resolution order
    "text_charset_sniff" ->
      """SELECT doc_id::BIGINT AS doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
        |    WHEN 2 THEN 'utf-16le-bom' WHEN 3 THEN 'utf-8'
        |    ELSE 'utf-16be-bom' END AS charset,
        |  text
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // PDF pagination re-joined with spaces = the collapsed source text
    "text_pdf_extract" ->
      """WITH p AS (SELECT doc_id::BIGINT AS doc_id,
        |        trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
        | SELECT doc_id, 'Doc ' || doc_id ||
        |   (CASE WHEN t = '' THEN '' ELSE ' ' || t END) AS text
        | FROM p ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "pipeline_crawl_frontier" ->
      """WITH ext AS (SELECT 'https://ex.com/' || (doc_id % 7) AS url FROM documents),
        | intl AS (SELECT 'http://corpus.example/doc/' || (doc_id + 1) AS url
        |          FROM documents
        |          WHERE doc_id + 1 NOT IN (SELECT doc_id FROM documents)),
        | a AS (SELECT url FROM ext UNION ALL SELECT url FROM intl)
        | SELECT url, count(*)::BIGINT AS n_refs
        | FROM a GROUP BY url ORDER BY url""".stripMargin.replace("\n", " "),

    "source_evolution" ->
      """SELECT doc_id, text,
        |        CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang,
        |        source, n_chars
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "embed_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |   SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |   FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |   WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         | comp AS (SELECT s AS vec_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
         | SELECT vec_id, cluster_id,
         |        count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |        (vec_id = cluster_id)::INT AS keep
         | FROM comp ORDER BY vec_id""".stripMargin.replace("\n", " "),

    "dedup_semantic" ->
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id, c.c_emb,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster,
         |               ${duckCosine("c_emb", "embedding")} AS cent_cos
         |        FROM assign WHERE rk = 1),
         | drops AS (
         |   SELECT DISTINCT a.vec_id
         |   FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |   WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
         |     AND (b.cent_cos < a.cent_cos
         |          OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id)))
         | SELECT a2.vec_id, a2.cluster, round(a2.cent_cos, 4) AS cent_cos,
         |        CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
         | FROM a2 LEFT JOIN drops d ON a2.vec_id = d.vec_id
         | ORDER BY a2.vec_id""".stripMargin.replace("\n", " "),

    // full recompute over survivors, centroids from the ORIGINAL corpus
    // (the trained index does not move on takedown)
    "dedup_retract_semantic" ->
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | surv AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id, c.c_emb,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM surv e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster,
         |               ${duckCosine("c_emb", "embedding")} AS cent_cos
         |        FROM assign WHERE rk = 1),
         | drops AS (
         |   SELECT DISTINCT a.vec_id
         |   FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |   WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
         |     AND (b.cent_cos < a.cent_cos
         |          OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id)))
         | SELECT a2.vec_id, a2.cluster, round(a2.cent_cos, 4) AS cent_cos,
         |        CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
         | FROM a2 LEFT JOIN drops d ON a2.vec_id = d.vec_id
         | ORDER BY a2.vec_id""".stripMargin.replace("\n", " "),

    "dedup_semantic_incremental" ->
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | b AS (SELECT * FROM a2 WHERE vec_id % 10 = 9),
         | s AS (SELECT * FROM a2 WHERE vec_id % 10 <> 9),
         | m AS (
         |   SELECT b.vec_id, s.vec_id AS m_id FROM b JOIN s ON b.cluster = s.cluster
         |   WHERE ${duckCosine("b.embedding", "s.embedding")} >= 0.35
         |   UNION ALL
         |   SELECT b.vec_id, p.vec_id AS m_id FROM b JOIN b p
         |     ON b.cluster = p.cluster AND p.vec_id < b.vec_id
         |   WHERE ${duckCosine("b.embedding", "p.embedding")} >= 0.35),
         | mm AS (SELECT vec_id, min(m_id) AS match_id FROM m GROUP BY vec_id)
         | SELECT b.vec_id, b.cluster, mm.match_id,
         |        CASE WHEN mm.match_id IS NULL THEN 0 ELSE 1 END AS is_dup
         | FROM b LEFT JOIN mm ON b.vec_id = mm.vec_id
         | ORDER BY b.vec_id""".stripMargin.replace("\n", " "),

    "dedup_cosine_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |        WHERE term <> '' GROUP BY doc_id, term),
        | dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | idx AS (SELECT tf.term, tf.doc_id, tf.tf FROM tf
        |         JOIN dfq USING (term) WHERE df <= 100),
        | norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM idx GROUP BY doc_id),
        | dot AS (SELECT x.doc_id AS a, y.doc_id AS b, sum(x.tf * y.tf)::BIGINT AS dot
        |         FROM idx x JOIN idx y ON x.term = y.term AND x.doc_id < y.doc_id
        |         GROUP BY x.doc_id, y.doc_id)
        | SELECT a, b, dot,
        |        (dot * dot * 10000 // (na.n2 * nb.n2))::BIGINT AS cos2_bp
        | FROM dot JOIN norms na ON dot.a = na.doc_id
        |          JOIN norms nb ON dot.b = nb.doc_id
        | WHERE dot * dot * 10000 // (na.n2 * nb.n2) >= 2500
        | ORDER BY a, b""".stripMargin.replace("\n", " "),

    "dedup_ngram" ->
      """WITH sh AS (
        |   SELECT doc_id,
        |          list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                         for i in range(1, greatest(len(ws) - 1, 1))]) AS shingles
        |   FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        | ex AS (SELECT doc_id, len(shingles) AS n_sh,
        |        ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh FROM sh),
        | rare AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 100),
        | exr AS (SELECT ex.* FROM ex JOIN rare USING (sh))
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) AS jaccard
        | FROM exr a JOIN exr b ON a.sh = b.sh AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id
        | HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) >= 0.5
        | ORDER BY a_id, b_id""".stripMargin.replace("\n", " "),

    // Brute-force O(n²) reference for the prefix-filtered join — the
    // oracle verifies LOSSLESSNESS of the candidate pruning: every pair
    // with set-Jaccard ≥ 1/2 must appear, with exact inter/union counts.
    "dedup_ppjoin" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | hs AS (SELECT doc_id,
        |        [('0x' || substr(md5(s), 1, 15))::BIGINT for s in shl] AS hs
        |        FROM shl WHERE len(shl) > 0),
        | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
        |        (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::BIGINT AS uni
        |        FROM hs a, hs b WHERE a.doc_id < b.doc_id)
        | SELECT id_a, id_b, inter, uni, (inter * 10000 // uni)::BIGINT AS sim_bp
        | FROM p WHERE inter * 2 >= uni ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),

    "skew_salted_collect" ->
      """SELECT l_returnflag,
        |        to_json(list_sort(list_distinct(list(CAST(trunc(l_quantity) AS INTEGER)))))::VARCHAR AS values
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "pipeline_curate" ->
      s"""WITH quality AS (
         |   SELECT doc_id, lang, text,
         |          len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits,
         |          len(string_split(text, ' ')) AS n_tok
         |   FROM documents),
         | gated AS (SELECT * FROM quality WHERE n_tok >= 20 AND stop_hits > 0),
         | keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         | kept AS (SELECT g.* FROM gated g JOIN keep k USING (doc_id)),
         | sampled AS (SELECT * FROM kept
         |   WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 50)
         | SELECT lang, count(*) AS n_docs, round(avg(n_tok), 4) AS avg_tokens
         | FROM sampled GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),

    "mm_meta" ->
      """SELECT doc_id, strlen(text) AS n_bytes, 'text/plain' AS media_type
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "merge_fast_docs" -> mergeFastDocsOracle,

    // closed-form twin of the 3-batch merge replay: per-key
    // last-writer-wins with deletes — %7 upserts (-1) win over %5
    // deletes, which win over batch 2's %2 doubles over batch 1's %3 base
    "sink_merge_into" ->
      """SELECT o_orderkey AS k,
        |        CASE WHEN o_orderkey % 7 = 0 THEN -1
        |             WHEN o_orderkey % 2 = 0 THEN o_custkey * 2
        |             ELSE o_custkey END AS v
        | FROM orders
        | WHERE o_orderkey % 7 = 0
        |    OR (o_orderkey % 5 <> 0 AND (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0))
        | ORDER BY k""".stripMargin.replace("\n", " "),

    "mm_decode" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |        strlen(text) AS n_bytes, md5(text) AS checksum,
        |        CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 640 + 1 AS INTEGER) AS width,
        |        CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 480 + 1 AS INTEGER) AS height
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),

    "mm_decode_headers" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |        CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                        WHEN 1 THEN 'image/gif'
        |                        ELSE 'image/jpeg' END AS media_type,
        |        CAST(doc_id % 640 + 1 AS INTEGER) AS width,
        |        CAST(doc_id % 480 + 1 AS INTEGER) AS height
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),

    "mm_decode_pixels" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 16 + 1)::BIGINT AS w,
        |        (doc_id % 12 + 1)::BIGINT AS h,
        |        (doc_id % 5)::BIGINT AS base
        |        FROM documents)
        | SELECT media_id, 'image/bmp' AS media_type, w AS width, h AS height,
        |        w * h AS n_px,
        |        7 * (w * (w - 1) // 2) * h + 11 * (h * (h - 1) // 2) * w + base * w * h AS sum_r,
        |        7 * (w * (w - 1) // 2) * h + 11 * (h * (h - 1) // 2) * w + (base + 3) * w * h AS sum_g,
        |        7 * (w * (w - 1) // 2) * h + 11 * (h * (h - 1) // 2) * w + (base + 6) * w * h AS sum_b
        | FROM p ORDER BY media_id""".stripMargin.replace("\n", " "),

    // v = 5x + 13y + base over a w×h grid: Σv = 5·T(w−1)·h + 13·T(h−1)·w
    // + base·w·h with T(n) = n(n+1)/2; channels offset by +2 / +4
    "mm_decode_png" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 13 + 1)::BIGINT AS w,
        |        (doc_id % 9 + 2)::BIGINT AS h,
        |        (doc_id % 7)::BIGINT AS base
        |        FROM documents)
        | SELECT media_id, 'image/png' AS media_type, w AS width, h AS height,
        |        w * h AS n_px,
        |        5 * (w * (w - 1) // 2) * h + 13 * (h * (h - 1) // 2) * w + base * w * h AS sum_r,
        |        5 * (w * (w - 1) // 2) * h + 13 * (h * (h - 1) // 2) * w + (base + 2) * w * h AS sum_g,
        |        5 * (w * (w - 1) // 2) * h + 13 * (h * (h - 1) // 2) * w + (base + 4) * w * h AS sum_b
        | FROM p ORDER BY media_id""".stripMargin.replace("\n", " "),

    // DC-exact JPEG fixture: per 8×8 block Y = 40 + ((5bx+7by+base)%160);
    // Σ over blocks weights each by its visible pixel count (partial edge
    // blocks clip). Constant chroma (cbd, crd) adds per-channel offsets
    // floor(c+0.5) — the same floor(x+0.5) rounding as the decoder's
    // math.round, exact because luma is integer.
    "mm_decode_jpeg" -> jpegDcOracle,

    // IDENTICAL oracle: the progressive layout carries the same pixels
    "mm_decode_jpeg_progressive" -> jpegDcOracle,

    // mixed-corpus coverage report: kinds and accept fractions are
    // closed-form in the id (baseline 2/3 minus the stranded slice,
    // progressive 1/3 plus it; only the stranded progressions reject)
    "mm_jpeg_coverage" ->
      """WITH p AS (SELECT
        |   CASE WHEN doc_id % 7 = 6 OR doc_id % 3 = 2 THEN 'progressive'
        |        ELSE 'baseline' END AS kind,
        |   CASE WHEN doc_id % 7 = 6 THEN 0 ELSE 1 END AS ok
        |   FROM documents)
        | SELECT kind, count(*)::BIGINT AS n, sum(ok)::BIGINT AS n_decoded
        | FROM p GROUP BY kind ORDER BY kind""".stripMargin.replace("\n", " "),


    "mm_audio_energy" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        ((doc_id % 300) + 50)::BIGINT AS n FROM documents),
        | s AS (SELECT media_id, unnest(range(0, n)) AS i FROM p),
        | v AS (SELECT media_id, (i // 64)::INT AS window_id,
        |        ((i * 37 + media_id) % 2001) - 1000 AS smp FROM s),
        | w AS (SELECT media_id, window_id, count(*)::BIGINT AS n_s,
        |        sum(smp)::BIGINT AS sum_s, sum(smp * smp)::BIGINT AS sum_sq
        |   FROM v GROUP BY media_id, window_id)
        | SELECT media_id, window_id, n_s, sum_s, sum_sq,
        |   CAST(sum_sq < n_s * 10000 AS INT) AS silent
        | FROM w ORDER BY media_id, window_id""".stripMargin.replace("\n", " "),

    // lossless codec → the decoded samples ARE the generator formula;
    // channel 1 exists only for odd ids (stereo fixtures)
    "mm_decode_flac" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        ((doc_id % 300) + 50)::BIGINT AS n,
        |        (doc_id % 2)::BIGINT AS stereo FROM documents),
        | s AS (SELECT media_id, stereo, unnest(range(0, n)) AS i FROM p),
        | v0 AS (SELECT media_id, 0::BIGINT AS ch, (i // 64)::BIGINT AS window_id,
        |        ((i * 37 + media_id) % 2001) - 1000 AS smp FROM s),
        | v1 AS (SELECT media_id, 1::BIGINT AS ch, (i // 64)::BIGINT AS window_id,
        |        ((i * 53 + 2 * media_id) % 1801) - 900 AS smp FROM s WHERE stereo = 1),
        | v AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
        | SELECT media_id, ch, window_id, count(*)::BIGINT AS n_s,
        |        sum(smp)::BIGINT AS sum_s, sum(smp * smp)::BIGINT AS sum_sq
        | FROM v GROUP BY media_id, ch, window_id
        | ORDER BY media_id, ch, window_id""".stripMargin.replace("\n", " "),

    // the whole frame walk replayed in SQL: the MPEG1-LIII bitrate
    // table indexed per frame, 1152 samples/frame, tag flags by id
    "mm_decode_mp3" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 40 + 3)::BIGINT AS nf FROM documents),
        | fr AS (SELECT media_id, nf, unnest(range(0, nf)) AS f FROM p),
        | kb AS (SELECT media_id, nf,
        |        list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |          (((media_id + f * 7) % 14) + 1)::INT) AS kbps FROM fr),
        | s AS (SELECT media_id, nf, sum(kbps)::BIGINT AS sum_kbps
        |   FROM kb GROUP BY media_id, nf)
        | SELECT media_id, 'mpeg1' AS version, 3 AS layer,
        |   CASE media_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |     ELSE 32000 END AS sample_rate,
        |   CASE WHEN media_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
        |   nf AS n_frames, (nf * 1152)::BIGINT AS n_samples, sum_kbps,
        |   CASE WHEN media_id % 4 = 0 THEN 1 ELSE 0 END AS has_id3v2,
        |   CASE WHEN media_id % 5 = 0 THEN 1 ELSE 0 END AS has_id3v1
        | FROM s ORDER BY media_id""".stripMargin.replace("\n", " "),

    // lossless codec → decoded bytes ARE the generator formula; grey
    // fills all three channel sums with the single channel
    "mm_decode_tiff" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 12 + 2)::BIGINT AS w, (doc_id % 8 + 2)::BIGINT AS h,
        |        (doc_id % 9)::BIGINT AS base, (doc_id % 2)::BIGINT AS grey
        |   FROM documents),
        | xs AS (SELECT media_id, w, h, base, grey, unnest(range(0, w)) AS x FROM p),
        | xy AS (SELECT media_id, w, h, base, grey, x, unnest(range(0, h)) AS y FROM xs),
        | px AS (SELECT media_id, w, h, grey,
        |        (x * 7 + y * 3 + base) % 256 AS r,
        |        (x * 5 + y * 11 + base) % 256 AS g,
        |        (x * 13 + y + base) % 256 AS b FROM xy),
        | s AS (SELECT media_id, w, h, count(*)::BIGINT AS n_px,
        |        sum(r)::BIGINT AS sum_r,
        |        sum(CASE WHEN grey = 0 THEN r ELSE g END)::BIGINT AS sum_g,
        |        sum(CASE WHEN grey = 0 THEN r ELSE b END)::BIGINT AS sum_b
        |   FROM px GROUP BY media_id, w, h)
        | SELECT media_id, 'image/tiff' AS media_type, w AS width,
        |        h AS height, n_px, sum_r, sum_g, sum_b
        | FROM s ORDER BY media_id""".stripMargin.replace("\n", " "),

    // counts follow doc_id arithmetic; truncated members keep the png
    // signature but fail decode
    "mm_image_coverage" ->
      """WITH k AS (SELECT doc_id,
        |   CASE doc_id % 6 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
        |     WHEN 2 THEN 'jpeg-baseline' WHEN 3 THEN 'gif'
        |     WHEN 4 THEN 'jpeg-progressive' ELSE 'png' END AS kind,
        |   CASE WHEN doc_id % 6 = 5 THEN 0 ELSE 1 END AS ok
        |   FROM documents)
        | SELECT kind, count(*)::BIGINT AS n, sum(ok)::BIGINT AS n_decoded
        | FROM k GROUP BY kind ORDER BY kind""".stripMargin.replace("\n", " "),

    // lossless codec → decoded pixels ARE the generator formula;
    // palette entry i = (i·17, i·29 mod 256, i·41 mod 256)
    "mm_decode_gif" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 14 + 2)::BIGINT AS w,
        |        (doc_id % 11 + 2)::BIGINT AS h FROM documents),
        | xs AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM p),
        | xy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
        | px AS (SELECT media_id, w, h,
        |        ((x * 3 + y * 7 + media_id) % 16) AS i FROM xy),
        | s AS (SELECT media_id, w, h, count(*)::BIGINT AS n_px,
        |        sum(i * 17)::BIGINT AS sum_r,
        |        sum((i * 29) % 256)::BIGINT AS sum_g,
        |        sum((i * 41) % 256)::BIGINT AS sum_b
        |   FROM px GROUP BY media_id, w, h)
        | SELECT media_id, 'image/gif' AS media_type, w AS width,
        |        h AS height, n_px, sum_r, sum_g, sum_b
        | FROM s ORDER BY media_id""".stripMargin.replace("\n", " "),

    // composited pixel (x,y) after frame f comes from frame
    // least(f, x, y) — the nested-rect design makes compositing a
    // closed form; sampled frames are the even ones
    "mm_gif_frames" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 9 + 6)::BIGINT AS w, (doc_id % 7 + 5)::BIGINT AS h,
        |        (doc_id % 4 + 2)::BIGINT AS nf
        |   FROM documents WHERE doc_id % 10 = 0),
        | fr AS (SELECT media_id, w, h, unnest(range(0, nf)) AS f FROM p),
        | sf AS (SELECT * FROM fr WHERE f % 2 = 0),
        | xs AS (SELECT media_id, w, h, f, unnest(range(0, w)) AS x FROM sf),
        | xy AS (SELECT media_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs),
        | px AS (SELECT media_id, f,
        |        ((x * 3 + y * 7 + least(f, x, y) * 13 + media_id) % 16) AS i
        |   FROM xy),
        | s AS (SELECT media_id, f, sum(i * 17)::BIGINT AS sum_r,
        |        sum((i * 29) % 256)::BIGINT AS sum_g,
        |        sum((i * 41) % 256)::BIGINT AS sum_b
        |   FROM px GROUP BY media_id, f)
        | SELECT media_id, f::INT AS frame_id, (f * 4 + 2)::INT AS delay_cs,
        |        sum_r, sum_g, sum_b
        | FROM s ORDER BY media_id, frame_id""".stripMargin.replace("\n", " "),

    "mm_phash" ->
      s"""WITH $duckPhashCte
        | SELECT p.media_id, p.w::INT AS width, p.h::INT AS height, h.phash_hex
        | FROM p JOIN hashes h ON h.media_id = p.media_id
        | ORDER BY p.media_id""".stripMargin.replace("\n", " "),

    // per-pixel luminance = 3·Y + per-image color offset; the offset
    // cancels in bSum·nPx > total·bCnt (affine invariance), so the bits
    // derive from Y alone — Y(x,y) = 40 + ((5·(x div 8) + 7·(y div 8) +
    // base) % 160), the DC-exact JPEG generator
    "mm_phash_jpeg" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 21 + 6)::BIGINT AS w,
        |        (doc_id % 17 + 6)::BIGINT AS h,
        |        ((doc_id * 3) % 160)::BIGINT AS base
        |        FROM documents),
        | xs AS (SELECT media_id, w, h, base, unnest(range(0, w)) AS x FROM p),
        | xy AS (SELECT media_id, w, h, base, x, unnest(range(0, h)) AS y FROM xs),
        | px AS (SELECT media_id, w, h,
        |        40 + ((5 * (x // 8) + 7 * (y // 8) + base) % 160) AS lum,
        |        (x * 8) // w AS bx, (y * 8) // h AS by FROM xy),
        | blocks AS (SELECT media_id, w, h, by, bx,
        |        sum(lum)::BIGINT AS bs, count(*)::BIGINT AS bc
        |   FROM px GROUP BY media_id, w, h, by, bx),
        | tot AS (SELECT media_id, sum(lum)::BIGINT AS ts FROM px GROUP BY media_id),
        | rb AS (SELECT b.media_id, b.by,
        |     sum(CASE WHEN b.bs * (b.w * b.h) > t.ts * b.bc
        |              THEN 1 << b.bx ELSE 0 END)::BIGINT AS rbyte
        |   FROM blocks b JOIN tot t ON t.media_id = b.media_id
        |   GROUP BY b.media_id, b.by),
        | grid AS (SELECT media_id, unnest(range(0, 8)) AS by FROM p),
        | fullrows AS (SELECT g.media_id, g.by, coalesce(rb.rbyte, 0) AS rbyte
        |   FROM grid g LEFT JOIN rb ON rb.media_id = g.media_id AND rb.by = g.by),
        | hashes AS (SELECT media_id,
        |     string_agg(printf('%02x', rbyte), '' ORDER BY by) AS phash_hex
        |   FROM fullrows GROUP BY media_id)
        | SELECT p.media_id, p.w::INT AS width, p.h::INT AS height, h.phash_hex
        | FROM p JOIN hashes h ON h.media_id = p.media_id
        | ORDER BY p.media_id""".stripMargin.replace("\n", " "),

    "mm_phash_pairs" ->
      s"""WITH $duckPhashCte,
        | classes AS (SELECT phash_hex, count(*)::BIGINT AS n
        |   FROM hashes GROUP BY phash_hex),
        | cb AS (SELECT phash_hex, n,
        |     ('0x' || substr(phash_hex, 1, 8))::BIGINT AS hi,
        |     ('0x' || substr(phash_hex, 9, 8))::BIGINT AS lo FROM classes)
        | SELECT a.phash_hex AS pa, b.phash_hex AS pb,
        |   (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INT AS hamming,
        |   a.n AS n_a, b.n AS n_b
        | FROM cb a JOIN cb b ON a.phash_hex < b.phash_hex
        | WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        | ORDER BY hamming, pa, pb""".stripMargin.replace("\n", " "),

    "mm_decode_video" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' ELSE 'avc1' END AS brand,
        |        (1000 * (doc_id % 4 + 1))::BIGINT AS timescale,
        |        (doc_id % 90000 + 1)::BIGINT AS duration
        |        FROM documents)
        | SELECT media_id, brand, timescale, duration,
        |        (duration * 1000 // timescale)::BIGINT AS duration_ms
        | FROM p ORDER BY media_id""".stripMargin.replace("\n", " "),

    "mm_decode_audio" ->
      """WITH p AS (SELECT doc_id::BIGINT AS media_id,
        |        (doc_id % 2 + 1)::BIGINT AS channels,
        |        (8000 * (doc_id % 5 + 1))::BIGINT AS sample_rate,
        |        (CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END)::BIGINT AS bits,
        |        ((doc_id % 1000 + 1) * 4)::BIGINT AS data_bytes
        |        FROM documents)
        | SELECT media_id, channels, sample_rate, bits, data_bytes,
        |        (data_bytes * 1000000 // (sample_rate * channels * bits // 8))::BIGINT AS duration_us
        | FROM p ORDER BY media_id""".stripMargin.replace("\n", " ")
  )

  /** Relational mirror of the MergeFastDocs Aggregator over the two
    * conflicting projections: richness = |prefLabel|+|type|+Σ|array elems|;
    * richer doc's type wins (tie → lexicographically greater type).
    */
  // one oracle for the whole exact-span-dedup family: the k-gram
  // aggregate (dedup_spans_exact) and the SA-run pipeline
  // (dedup_spans_sa) must land on the identical table
  /** [[spanDedupExactOracle]] restricted to a doc subset — the retract
    * oracle IS the full recompute over the survivors. */
  private def spanDedupExactOracleOver(cond: String): String =
    spanDedupExactOracle.replace("AS ws FROM documents)",
      s"AS ws FROM documents WHERE $cond)")

  /** Closed-form oracle for the DC-exact JPEG fixture family — shared by
    * the baseline and progressive decode rows (same pixels, different
    * bitstream layout). */
  private val jpegDcOracle: String =
      """WITH p AS (SELECT doc_id::BIGINT AS id,
        |        (doc_id % 21 + 6)::BIGINT AS w, (doc_id % 17 + 6)::BIGINT AS h,
        |        ((doc_id * 3) % 160)::BIGINT AS base,
        |        (doc_id % 2 = 0) AS grey,
        |        ((doc_id % 3) - 1) * 10 AS cbd,
        |        ((doc_id % 5) - 2) * 5 AS crd
        |        FROM documents),
        | bxs AS (SELECT id, unnest(range((w + 7) // 8)) AS bx FROM p),
        | b AS (SELECT bxs.id, bxs.bx, unnest(range((p.h + 7) // 8)) AS by
        |       FROM bxs JOIN p ON p.id = bxs.id),
        | y AS (SELECT b.id,
        |        sum((40 + ((b.bx * 5 + b.by * 7 + p.base) % 160))
        |            * least(8, p.w - b.bx * 8)
        |            * least(8, p.h - b.by * 8))::BIGINT AS sum_y
        |       FROM b JOIN p ON p.id = b.id GROUP BY b.id),
        | o AS (SELECT id,
        |        floor(1.402 * crd + 0.5)::BIGINT AS roff,
        |        floor(-0.344136 * cbd - 0.714136 * crd + 0.5)::BIGINT AS goff,
        |        floor(1.772 * cbd + 0.5)::BIGINT AS boff FROM p)
        | SELECT p.id AS media_id, 'image/jpeg' AS media_type,
        |        p.w AS width, p.h AS height, p.w * p.h AS n_px,
        |        sum_y + CASE WHEN grey THEN 0 ELSE o.roff * p.w * p.h END AS sum_r,
        |        sum_y + CASE WHEN grey THEN 0 ELSE o.goff * p.w * p.h END AS sum_g,
        |        sum_y + CASE WHEN grey THEN 0 ELSE o.boff * p.w * p.h END AS sum_b
        | FROM p JOIN y ON y.id = p.id JOIN o ON o.id = p.id
        | ORDER BY media_id""".stripMargin.replace("\n", " ")

  private val spanDedupExactOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | g AS (SELECT doc_id,
      |         unnest(range(0, len(ws) - 4)) AS gpos,
      |         unnest(list_transform(range(0, len(ws) - 4),
      |           i -> array_to_string(ws[i + 1:i + 5], ' '))) AS gh
      |       FROM w WHERE len(ws) >= 5),
      | r AS (SELECT doc_id, gpos,
      |         row_number() OVER (PARTITION BY gh ORDER BY doc_id, gpos) AS rn
      |       FROM g),
      | cov AS (SELECT DISTINCT doc_id, gpos + unnest(range(0, 5)) AS pos
      |         FROM r WHERE rn >= 2),
      | t AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, unnest(ws) AS tok FROM w),
      | kept AS (SELECT t.doc_id, t.pos, t.tok FROM t ANTI JOIN cov USING (doc_id, pos)),
      | rb AS (SELECT doc_id, count(*) AS n_kept,
      |          array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
      |        FROM kept GROUP BY doc_id)
      | SELECT w.doc_id, len(ws)::BIGINT AS n_tok,
      |        coalesce(n_kept, 0)::BIGINT AS n_kept,
      |        coalesce(clean_text, '') AS clean_text
      | FROM w LEFT JOIN rb USING (doc_id)
      | ORDER BY doc_id""".stripMargin.replace("\n", " ")

  private def mergeFastDocsOracle: String = {
    val nName = nsSql("p_name")
    val nType = nsSql("p_type")
    s"""SELECT CAST(p_partkey AS INTEGER) AS _id, CAST(p_partkey AS INTEGER) AS fast,
       | CASE WHEN length(p_name) + 7 + length(p_brand) + length($nName)
       |           >= 10 + length(p_type) + length($nType)
       |      THEN 'Topical' ELSE 'Geographic' END AS type,
       | p_name AS prefLabel,
       | to_json(list_sort(list_distinct([p_brand, p_type])))::VARCHAR AS altLabel,
       | to_json(CAST([] AS VARCHAR[]))::VARCHAR AS sameAsLc,
       | to_json(CAST([] AS VARCHAR[]))::VARCHAR AS sameAsViaf,
       | to_json(list_sort(list_distinct([$nName, $nType])))::VARCHAR AS normalized
       | FROM part ORDER BY _id""".stripMargin.replace("\n", " ")
  }

  /** Shared CTE computing 8-component minhash signatures in DuckDB —
    * mirror of [[Dedup.minhashSignature]] (seeded `md5Int` minima over
    * distinct word-3-shingles).
    */
  /** The pinned-merges BPE replace chain (text_bpe_apply / text_fertility):
    * double-gap wire format, 5 merges unrolled, `fin` ends with
    * (doc_id, bpe_syms).
    */
  private def bpeChainCte: String =
    """w AS (SELECT doc_id,
      |         list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      |           w -> ' ' || array_to_string(list_concat(
      |                  list_filter(string_split(w, ''), x -> x <> ''), ['</w>']),
      |                  '  ') || ' ') AS lw
      |       FROM documents),
      | s0 AS (SELECT doc_id, array_to_string(lw, chr(31)) AS s FROM w),
      | s1 AS (SELECT doc_id, replace(s, ' e  r ', ' er ') AS s FROM s0),
      | s2 AS (SELECT doc_id, replace(s, ' er  </w> ', ' er</w> ') AS s FROM s1),
      | s3 AS (SELECT doc_id, replace(s, ' i  n ', ' in ') AS s FROM s2),
      | s4 AS (SELECT doc_id, replace(s, ' o  w ', ' ow ') AS s FROM s3),
      | s5 AS (SELECT doc_id, replace(s, ' s  t ', ' st ') AS s FROM s4),
      | fin AS (SELECT doc_id,
      |         trim(replace(replace(replace(s, '  ', ' '),
      |              ' ' || chr(31), chr(31)), chr(31) || ' ', chr(31))) AS bpe_syms
      |         FROM s5)""".stripMargin.replace("\n", " ")

  private def minhashSigCte: String = minhashSigCteFrom("documents")

  private def minhashSigCteFrom(src: String): String = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(", ")
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
       | sh AS (SELECT doc_id,
       |        unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                              for i in range(1, greatest(len(ws) - 1, 1))])) AS sh
       |        FROM ws),
       | hs AS (SELECT doc_id,
       |        ('0x' || substr(md5('1:' || sh), 1, 8))::BIGINT AS h1,
       |        ('0x' || substr(md5('2:' || sh), 1, 8))::BIGINT AS h2 FROM sh),
       | sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)""".stripMargin.replace("\n", " ")
  }

  private def textLangidOracle: String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(string_split(lower(text), ' '), t -> t IN ${inList(ws)}))"
    val en = hits(stopEn)
    val es = hits(Seq("el", "la", "de", "y", "que"))
    val de = hits(Seq("der", "die", "und", "das", "ist"))
    val fr = hits(Seq("le", "et", "les", "des", "une"))
    s"""SELECT doc_id,
       | CASE WHEN $en > 0 AND $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
       |      WHEN $es > 0 AND $es >= $de AND $es >= $fr THEN 'es'
       |      WHEN $de > 0 AND $de >= $fr THEN 'de'
       |      WHEN $fr > 0 THEN 'fr'
       |      ELSE 'und' END AS lang_pred
       | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** Expected parse output reconstructed relationally (no string parsing). */
  private def ntLinesCte: String =
    """lines AS (
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey AS subject,
      |          'http://www.w3.org/2004/02/skos/core#prefLabel' AS predicate,
      |          '"' || p_name || '"' AS obj FROM part
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey,
      |          'http://www.w3.org/2004/02/skos/core#altLabel',
      |          '"' || p_brand || '"' FROM part
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey, 'http://schema.org/sameAs',
      |          '<http://viaf.org/viaf/' || (p_partkey * 7) || '>' FROM part WHERE p_partkey % 2 = 0
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey, 'http://schema.org/sameAs',
      |          '<http://id.loc.gov/authorities/names/lc' || p_partkey || '>' FROM part WHERE p_partkey % 3 = 0
      |   UNION ALL
      |   SELECT 'http://viaf.org/viaf/' || (p_partkey * 7),
      |          'http://www.w3.org/2000/01/rdf-schema#label',
      |          '"' || p_type || '"' FROM part WHERE p_partkey % 4 = 0
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/NaN',
      |          'http://www.w3.org/2004/02/skos/core#prefLabel', '"Bad"' FROM part WHERE p_partkey % 25 = 0)
      |)""".stripMargin.replace("\n", " ").dropRight(1)

  /** DuckDB rebuild of the fused neighbor-LCP pass (SuffixArray
    * .neighborLcps): literal suffix sort, rank-adjacent pairing, LCP via
    * a list comprehension — shared by suffix_repeated_top and
    * suffix_lcp_profile.
    */
  private val saNeighborLcpCte: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | sfx0 AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM t),
      | sfx AS MATERIALIZED (SELECT doc_id, pos, ws,
      |     array_to_string(ws[pos + 1 :], ' ') AS s FROM sfx0),
      | sa AS MATERIALIZED (SELECT doc_id, pos, ws,
      |     row_number() OVER (ORDER BY s, doc_id, pos) AS rk FROM sfx),
      | pairs AS (SELECT a.doc_id, a.pos, b.doc_id AS nbr_id, b.pos AS nbr_pos,
      |     a.ws[a.pos + 1 :] AS wa, b.ws[b.pos + 1 :] AS wb
      |   FROM sa a JOIN sa b ON b.rk = a.rk + 1),
      | lcp AS (SELECT doc_id, pos, nbr_id, nbr_pos, wa,
      |     coalesce(list_min([i for i in range(1, least(len(wa), len(wb)) + 1)
      |                        if wa[i] IS DISTINCT FROM wb[i]]),
      |              least(len(wa), len(wb)) + 1) - 1 AS lcp
      |   FROM pairs)""".stripMargin.replace("\n", " ")

  private def ntParseOracle: String =
    s"WITH $ntLinesCte SELECT subject, predicate, obj FROM lines ORDER BY subject, predicate, obj"

  private def ntPredicateStatsOracle: String =
    s"""WITH $ntLinesCte,
       | tri AS (SELECT predicate, count(*) AS n_triples FROM lines GROUP BY predicate),
       | subj AS (SELECT predicate, count(*) AS n_subjects
       |   FROM (SELECT DISTINCT predicate, subject FROM lines) GROUP BY predicate)
       | SELECT tri.predicate, n_triples, n_subjects
       | FROM tri JOIN subj ON tri.predicate = subj.predicate
       | ORDER BY tri.predicate""".stripMargin.replace("\n", " ")

  /** The ingest pipeline's expected output, computed relationally. */
  private def fastDocsOracle: String = {
    val nName = nsSql("p_name")
    val nBrand = nsSql("p_brand")
    val nType = nsSql("p_type")
    s"""SELECT CAST(p_partkey AS INTEGER) AS _id, CAST(p_partkey AS INTEGER) AS fast, 'Topical' AS type,
       | p_name AS prefLabel,
       | to_json(list_sort(list_distinct(CASE WHEN p_partkey % 4 = 0 THEN [p_brand, p_type] ELSE [p_brand] END)))::VARCHAR AS altLabel,
       | to_json(CASE WHEN p_partkey % 3 = 0
       |      THEN list_sort(['http://id.loc.gov/authorities/names/lc' || p_partkey, 'lc' || p_partkey])
       |      ELSE [] END)::VARCHAR AS sameAsLc,
       | to_json(CASE WHEN p_partkey % 2 = 0
       |      THEN list_sort(['http://viaf.org/viaf/' || (p_partkey * 7), CAST(p_partkey * 7 AS VARCHAR)])
       |      ELSE [] END)::VARCHAR AS sameAsViaf,
       | to_json(list_sort(list_distinct(CASE WHEN p_partkey % 4 = 0 THEN [$nName, $nBrand, $nType]
       |                              ELSE [$nName, $nBrand] END)))::VARCHAR AS normalized
       | FROM part ORDER BY _id""".stripMargin.replace("\n", " ")
  }

  private def viafUpdateOracle: String =
    """SELECT 'v' || s_suppkey AS _id, CAST(s_suppkey * 7 AS VARCHAR) AS viaf,
      |        'lc' || s_suppkey AS lcId,
      |        to_json(CASE WHEN s_suppkey % 2 = 0 OR s_suppkey % 3 = 0
      |             THEN list_sort(list_distinct(
      |                    (CASE WHEN s_suppkey % 5 = 0 THEN [CAST(9999 AS INTEGER)] ELSE [] END)
      |                    || [CAST(s_suppkey AS INTEGER)]))
      |             WHEN s_suppkey % 5 = 0 THEN [CAST(9999 AS INTEGER)]
      |             ELSE NULL END)::VARCHAR AS fast
      | FROM supplier ORDER BY _id""".stripMargin.replace("\n", " ")
}

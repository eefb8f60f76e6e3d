package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ingest.{FastIngest, Sinks}
import graft.ops.{Dedup, Graph, Iterate, LocalEndgame, Rank, Similarity, SuffixArray}
import graft.queries.CrawlQueries
import graft.streaming.EventStream

/** The one scale harness. Each row runs a headline op over 1 and N
  * copies of its corpus in the same warm JVM and HARD-ASSERTS
  * near-linear growth (ratio ≤ 12×): a hidden driver bottleneck,
  * quadratic candidate blow-up, or single-task sort shows up here as a
  * super-linear ratio that no sf0.1 bench can show. A row may also carry
  * a check: the op's invariant, asserted on the N× output after both
  * timed runs and outside them. A failed check fails the run just as a
  * ratio over 12× does.
  *
  * Cloned corpora (`docs(c)`, `emb(c)`, `events(c)`, ...) are c DISJOINT
  * copies of the sf0.1 tables: ids offset per copy, and text tokens
  * suffixed per copy so token/shingle/gram spaces are disjoint across
  * copies — "c× more of the same distribution", which keeps per-copy
  * candidate densities equal to sf0.1's instead of manufacturing
  * cross-copy near-duplicates that no real corpus growth would produce.
  * One copy is the sf0.1 table itself. The twin rows instead clone the
  * text verbatim (`twins(n)`): every doc gets n−1 exact duplicates, the
  * dense-duplicate worst case their invariants are written for. The
  * synthetic rows generate c tenths of the volume their check was
  * measured at (NOTES.md), so N = 10 checks at that volume.
  *
  * Expect ratios WELL below 10 for the fixed-overhead-dominated ops
  * (stage scheduling amortizes — that is the point of the design) and
  * near-10 only where per-row work dominates.
  *
  * Usage: ScaleCurveSmoke [copies] [op ...]   (copies ≥ 2, default 10;
  * no op = every row)
  */
object ScaleCurveSmoke {
  val DefaultCopies = 10
  private val MaxRatio = 12.0
  /** Copy k of a cloned corpus shifts every id column by k × IdSpan. */
  private val IdSpan = 100000000L
  /** Session gap: 30 minutes, in microseconds. */
  private val GapUs = 30L * 60 * 1000000L

  def main(args: Array[String]): Unit = {
    lazy val spark = GraftSession.local("graft-scale-curve")
    val dir = "/root/testdata/sf0.1"
    val all = rows(spark, dir)
    val (copies, picked) = parseArgs(args.toSeq, all.map(_.name))

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    var failed = List.empty[String]
    val ratios = all.filter(r => picked.contains(r.name)).map { row =>
      // warm codegen/readers on the small side, then measure both
      run(row.build(1).df)
      GraftSession.releaseAll(spark)
      val (_, t1x) = timed(run(row.build(1).df))
      GraftSession.releaseAll(spark)
      val (outN, tNx) = timed { val o = row.build(copies); run(o.df); o }
      val check = outN.check.fold("-") { ch =>
        try { ch(); "ok" }
        catch { case NonFatal(e) =>
          failed ::= s"${row.name} check: ${e.getMessage}"
          "FAIL"
        }
      }
      GraftSession.releaseAll(spark)
      val ratio = tNx / math.max(t1x, 0.001)
      val ok = ratio <= MaxRatio
      if (!ok) failed ::= f"${row.name} ratio $ratio%.2f"
      println(f"SCALE_CURVE op=${row.name}%-22s t1x=$t1x%6.2f s  t${copies}x=$tNx%7.2f s  " +
        f"ratio=$ratio%5.2f  ${if (ok) "OK" else "FAIL"}  check=$check")
      ratio
    }
    println(f"SCALE_CURVE_SUMMARY copies=$copies ops=${ratios.size} " +
      f"maxRatio=${ratios.max}%.2f bound=$MaxRatio failed=${failed.size}")
    spark.stop()
    if (failed.nonEmpty)
      sys.error(s"scale-curve failures (ratio > ${MaxRatio}x or failed check): " +
        failed.reverse.mkString("; "))
  }

  /** A row's output over c copies, plus the check the harness runs on
    * the N× output. */
  final case class Out(df: DataFrame, check: Option[() => Unit] = None)
  final case class Row(name: String, build: Int => Out)

  private def checked(df: DataFrame)(check: => Unit): Out = Out(df, Some(() => check))
  private def row(name: String)(build: Int => DataFrame): Row = Row(name, c => Out(build(c)))

  /** `[copies] [op ...]` → (copies, the named rows in harness order, or
    * every row when none is named). Rejects copies < 2 (one copy has no
    * curve) and names that match no row. */
  def parseArgs(args: Seq[String], names: Seq[String]): (Int, Seq[String]) = {
    val numeric = args.headOption.filter(a => a.nonEmpty && a.forall(_.isDigit))
    val copies = numeric.fold(Option(DefaultCopies))(_.toIntOption)
    require(copies.exists(_ >= 2), s"copies must be an integer >= 2, got ${args.head}")
    val ops = args.drop(numeric.size)
    val unknown = ops.filterNot(names.contains)
    require(unknown.isEmpty, s"unknown op ${unknown.mkString(", ")}; " +
      s"valid ops: ${names.mkString(", ")}")
    (copies.get, if (ops.isEmpty) names else names.filter(ops.contains))
  }

  /** Every row, in run order. Listing them starts no Spark session:
    * `session` is first evaluated when a row is built. */
  def rows(session: => SparkSession, dir: String): Seq[Row] = {
    lazy val spark = session
    lazy val scratch = {
      val d = Files.createTempDirectory("graft_scale_curve")
      sys.addShutdownHook(new scala.reflect.io.Directory(d.toFile).deleteRecursively())
      d
    }
    def fresh(tag: String): String = Files.createTempDirectory(scratch, tag).toString

    def table(name: String, cols: String*): DataFrame =
      Tables.load(spark, dir, name).select(cols.map(col): _*)

    // c copies of df: copy k shifts every `ids` column by k·IdSpan and
    // maps each other column through `vary(name, k)`
    def cloned(df: DataFrame, c: Int, ids: Set[String],
        vary: (String, Column) => Column = (n, _) => col(n)): DataFrame =
      if (c == 1) df
      else df.withColumn("_k", explode(sequence(lit(0), lit(c - 1))))
        .select(df.columns.toSeq.map(n =>
          (if (ids(n)) col(n) + col("_k") * IdSpan else vary(n, col("_k"))).as(n)): _*)

    def docs(c: Int) = cloned(table("documents", "doc_id", "text", "lang", "source"),
      c, Set("doc_id"), {
        case ("text", k) => when(k === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            x => concat(x, lit("c"), k)), " "))
        case (n, _) => col(n)
      })
    def twins(n: Int) = cloned(table("documents", "doc_id", "text"), n, Set("doc_id"))
    def emb(c: Int) = cloned(table("embeddings", "vec_id", "embedding"), c,
      Set("vec_id"), {
        case ("embedding", k) =>
          transform(col("embedding"), x => x + k.cast("float") * lit(0.001f))
        case (n, _) => col(n)
      })
    def events(c: Int) = cloned(table("events", "user_id", "ts", "event_id", "value"),
      c, Set("user_id", "event_id"))
    def part(c: Int) = cloned(table("part", "p_partkey", "p_name", "p_brand", "p_type"),
      c, Set("p_partkey"))
    // customer → supplier edges
    def edges(c: Int) = {
      val li = table("lineitem", "l_orderkey", "l_suppkey")
      val o = table("orders", "o_orderkey", "o_custkey")
      cloned(li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + lit(1000000L)).as("dst")),
        c, Set("src", "dst"))
    }
    // parts-co-ordered-together edges (the graph_triangles graph shape)
    def coEdges(c: Int) =
      cloned(Tables.load(spark, dir, "lineitem").where(col("l_linenumber") <= 4)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("p")), c, Set("k", "p"))
        .groupBy("k").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("w"))
        .select(col("w.src"), col("w.dst"))

    // the batch q35 shape: a lag/running-sum session ordinal per user
    def sessions(ev: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      ev.select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > GapUs ||
              lag("ts_us", 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_seq",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          (max("ts_us") - min("ts_us")).as("dur_us"),
          round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("sum_val"))
    }

    // mirrors the fast_docs query: fragments materialized at the call
    // site, then FastIngest.termDocs
    def fastDocs(part: DataFrame): DataFrame = {
      val lines = DemoCorpus.ntFromPart(part, widen = true)
        .select(col("line"), lit("Topical").as("doc_type"))
      FastIngest.termDocs(Iterate.materialize(
        FastIngest.project(FastIngest.parse(lines))).df)
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

    def asLong(v: Any): Long = v.asInstanceOf[Number].longValue

    Seq(
      row("dedup_ppjoin")(c => Dedup.prefixJaccardJoin(docs(c), "text", "doc_id",
        k = 3, tNum = 1, tDen = 2)),
      row("dedup_spans_sa")(c => Dedup.dedupSpansSa(docs(c), "text", "doc_id", k = 5)),
      row("dedup_clusters")(c => Dedup.connectedComponents(
        Dedup.minhashCandidates(Dedup.minhashSignature(docs(c), "text", "doc_id"),
          "doc_id", threshold = 0.25), "a_id", "b_id")),
      // the dedup_ngram query's parameters, widened like dedup_winnow_pairs:
      // the dfCap clamp must keep candidate work linear in corpus size
      row("dedup_ngram")(c => Dedup.ngramCandidates(
        docs(c).repartition(spark.sparkContext.defaultParallelism),
        "text", "doc_id", k = 3, dfCap = 100, threshold = 0.5)),
      row("ann_ivf") { c =>
        val e = emb(c)
        Similarity.ivfTopK(e,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding",
          e.where(col("vec_id") < 8)
            .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
          "c_id", "c_emb", k = 3)
      },
      row("graph_pagerank")(c => Graph.pageRank(edges(c), "src", "dst", iterations = 3)),
      row("text_bm25")(c => Rank.bm25TopTerms(docs(c), "text", "doc_id")),
      row("q35_sessionize")(c => sessions(events(c))),
      // the r16 crawl stack: per-row work dominates (encode is fixture
      // scaffolding, decode is the op), zero shuffles — the ratio IS the
      // per-row-linearity proof for the WARC/HTML/PDF chain
      row("crawl_warc_html")(c => warcHtml(docs(c))),
      row("text_pdf_extract")(c => pdfExtract(docs(c))),
      row("suffix_array")(c => SuffixArray.build(docs(c), "text", "doc_id")),
      // withBound(0) pins the DISTRIBUTED wedge path at both sizes: the
      // shipped local endgame would otherwise fire at 1× and not at 10×,
      // making the ratio compare two different algorithms — the curve's
      // question is how the scale path grows
      row("graph_triangles")(c => LocalEndgame.withBound(0)(
        Graph.triangleCount(coEdges(c), "src", "dst"))),
      // mirrors the r17 query call site: the one-split source is widened to
      // session parallelism before the heavy winnow pass (without it the
      // 10× clone explodes inside ONE scan task and the curve measures the
      // synthetic input skew, not the op)
      row("dedup_winnow_pairs")(c => Dedup.winnowPairs(
        docs(c).repartition(spark.sparkContext.defaultParallelism),
        "text", "doc_id", k = 8, w = 4, dfCap = 20, minShared = 10,
        minContainBp = 2500)),
      // the VERDICT r16 #3 sf1 decision: widen + eager materialize must
      // stay near-linear when the parse input is 10×
      row("fast_docs")(c => fastDocs(part(c))),

      // Keep-first span dedup over 2c verbatim copies (20 at N = 10):
      // the first copy keeps exactly what one corpus keeps, every later
      // copy dissolves except its docs shorter than k tokens, which carry
      // no grams and stay whole; no doc keeps more tokens than it has.
      Row("dedup_spans_twins", { c =>
        val n = 2 * c
        val obs = Observation()
        val out = Dedup.dedupSpans(twins(n), "text", "doc_id", k = 5)
          .observe(obs, sum("n_kept").cast("long").as("kept"),
            count(when(col("n_kept") > col("n_tok"), 1)).as("viol"))
        checked(out) {
          val one = twins(1)
          val base = asLong(Dedup.dedupSpans(one, "text", "doc_id", k = 5)
            .agg(sum("n_kept")).head().get(0))
          val toks = size(split(col("text"), " "))
          val short = asLong(one.where(toks < 5)
            .agg(coalesce(sum(toks).cast("long"), lit(0L))).head().get(0))
          val (kept, viol) = (asLong(obs.get("kept")), asLong(obs.get("viol")))
          require(kept == base + (n - 1) * short,
            s"keep-first broke: kept $kept, expected $base + ${n - 1} * $short")
          require(viol == 0L, s"$viol docs keep more tokens than they have")
        }
      }),

      // Winnowing over c verbatim copies whose tokens are salted with the
      // original doc id, so distinct originals share no gram and every
      // gram's df is c: the df cap (2c) admits exactly the twin groups.
      // Checked: all C(c,2)·docs twin pairs found with one contain_bp per
      // twin group, twins' fingerprint digests identical, and every twin
      // pair at cos² = 10000 bp.
      Row("dedup_winnow_twins", { c =>
        val corpus = cloned(Tables.load(spark, dir, "documents").select(col("doc_id"), expr(
            "array_join(transform(filter(split(text, ' '), w -> w <> ''), " +
              "w -> concat(w, '~', cast(doc_id as string))), ' ')").as("text")),
          c, Set("doc_id"))
        val pairs = Dedup.winnowPairs(corpus, "text", "doc_id",
          dfCap = 2 * c, minShared = 3, minContainBp = 0)
        checked(pairs) {
          val twin = col("a") % IdSpan === col("b") % IdSpan
          val expect = corpus.count() / c * (c.toLong * (c - 1) / 2)
          val multOff = Dedup.winnowFingerprints(corpus, "text", "doc_id")
            .groupBy("n_fp", "fp_xor").agg(count(lit(1)).as("m"))
            .where(col("m") % c =!= 0).count()
          val found = pairs.where(twin)
            .groupBy((col("a") % IdSpan).as("g"))
            .agg(count(lit(1)).as("n"), countDistinct("contain_bp").as("d"))
            .agg(coalesce(sum("n"), lit(0L)), count(when(col("d") =!= 1, 1))).head()
          val cosTwins = Dedup.cosinePairs(corpus, "text", "doc_id",
            minCos2Bp = 9999, dfCap = 4 * c).where(twin).count()
          require(multOff == 0L, s"$multOff fingerprint digests not shared by all $c twins")
          require(asLong(found.get(0)) == expect,
            s"winnowPairs found ${found.get(0)} twin pairs, expected $expect")
          require(asLong(found.get(1)) == 0L,
            s"${found.get(1)} twin groups report more than one contain_bp")
          require(cosTwins == expect, s"cosinePairs found $cosTwins twin pairs, expected $expect")
        }
      }),

      // IVF recall at volume: 100k·c 64-d vectors around 100·c hash-derived
      // centers, noise at 1.2× the center range (at lower noise every
      // config scores 1.000 — true neighbors co-locate under any
      // assignment), 256 seed cells, 100 queries. Timed at (nprobe 4,
      // replication 2); checked against brute force over the whole
      // (nprobe, replication) grid: the (4, 2) corner holds 0.90 and
      // neither dial goes backwards.
      Row("ann_ivf_recall", { c =>
        val n = 100000L * c
        val corpus = Iterate.materialize(spark.range(n).select(col("id").as("vec_id"))
          .select(col("vec_id"), expr(
            s"""transform(sequence(0, 63), j -> CAST(
               |  (CAST(pmod(xxhash64(pmod(vec_id, ${100 * c}), j), 20) AS DOUBLE) - 10.0)
               |  + (CAST(pmod(xxhash64(vec_id, j), 2001) AS DOUBLE) - 1000.0) / 2000.0 * 24.0
               | AS FLOAT))""".stripMargin.replace("\n", " ")).as("emb"))).df
        val qEvery = n / 100
        def topK(df: DataFrame): Map[Long, Set[Long]] =
          df.select(col("q_id"), col("neighbor_id")).collect().groupBy(_.getLong(0))
            .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        def ivf(nprobe: Int, replication: Int): DataFrame =
          Similarity.ivfTopK(corpus, a => a.where(col("vec_id") % qEvery === 0),
            "vec_id", "emb",
            corpus.where(col("vec_id") < 256)
              .select(col("vec_id").as("c_id"), col("emb").as("c_emb")),
            "c_id", "c_emb", k = 10, nprobe = nprobe, replication = replication)
        checked(ivf(4, 2)) {
          val truth = topK(Similarity.bruteForceTopK(corpus,
            corpus.where(col("vec_id") % qEvery === 0)
              .select(col("vec_id").as("q_id"), col("emb").as("q_emb")),
            "vec_id", "emb", "q_id", "q_emb", 10))
          require(truth.size == 100, s"expected 100 queries, got ${truth.size}")
          val recall = (for (np <- Seq(1, 2, 4); r <- Seq(1, 2)) yield (np, r) -> {
            val got = topK(ivf(np, r))
            truth.map { case (q, t) =>
              got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
            }.sum / truth.size
          }).toMap
          println(recall.toSeq.sorted.map { case ((np, r), v) => f"($np,$r)=$v%.3f" }
            .mkString("SCALE_CURVE ann_ivf_recall recall@10 ", " ", ""))
          require(recall((4, 2)) >= 0.90, s"recall@10 at nprobe=4, replication=2 = ${recall((4, 2))}")
          require(recall((2, 1)) >= recall((1, 1)) - 1e-9, "nprobe dial went backwards")
          require(recall((1, 2)) >= recall((1, 1)) - 1e-9, "replication dial went backwards")
        }
      }),

      // The suffix-array DOUBLING path: 200·c docs of 2500 tokens (5M
      // suffixes at c = 10), every tenth opening with one shared
      // 2100-token block — far past the 32-token seed, so ranks must
      // double for several rounds. Checked: sa_rank is a permutation of
      // 1..N; a ~1% sample of ADJACENT ranks is in exact lexicographic
      // order (space joins below every printable char, so string order is
      // token order); dedupSpansSa equals dedupSpansExact; and the
      // warm-start append (bucketed gram index + covered set of the stored
      // docs) equals the full recompute.
      Row("suffix_array_doubling", { c =>
        def saDocs(from: Long, n: Long, plantEvery: Int): DataFrame =
          spark.range(from, from + n).select(col("id").as("doc_id"))
            .select(col("doc_id"), array_join(expr(
              s"""transform(sequence(0, 2499), j ->
                 |  CASE WHEN doc_id % $plantEvery = 0 AND j < 2100
                 |    THEN concat('t', pmod(xxhash64(concat('s', j)), 1000))
                 |    ELSE concat('t', pmod(xxhash64(concat(doc_id, ':', j)), 1000))
                 |  END)""".stripMargin.replace("\n", " ")), " ").as("text"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        val nDocs = 200L * c
        val docs = saDocs(0, nDocs, 10)
        val sa = SuffixArray.build(docs, "text", "doc_id", startPrefix = 32, maxRounds = 20)
        checked(sa) {
          val n = nDocs * 2500
          val perm = sa.agg(count(lit(1)), min("sa_rank"), max("sa_rank"),
            countDistinct("sa_rank")).head()
          require((0 to 3).map(i => asLong(perm.get(i))) == Seq(n, 1L, n, n),
            s"sa_rank is not a permutation of 1..$n: $perm")
          val sampled = sa.where(pmod(xxhash64(col("sa_rank")), lit(100L)) === 0L)
            .select(col("sa_rank").as("r"))
          val strs = sa.join(sampled.select(col("r").as("sa_rank")), Seq("sa_rank"))
            .unionByName(sa.join(sampled.select((col("r") + 1).as("sa_rank")), Seq("sa_rank")))
            .distinct()
            .join(docs.select(col("doc_id").as("_wid"), split(col("text"), " ").as("_ws")),
              col("doc_id") === col("_wid"))
            .select(col("sa_rank"),
              array_join(expr("slice(_ws, CAST(pos + 1 AS INT), size(_ws))"), " ").as("sfx"))
          val disordered = strs.alias("a")
            .join(strs.alias("b"), col("a.sa_rank") + 1 === col("b.sa_rank"))
            .where(col("a.sfx") > col("b.sfx")).count()
          require(disordered == 0L, s"$disordered adjacent pairs out of order")
          // (sum() of xxhash64 digests overflows BIGINT under ANSI: bit_xor)
          def digest(df: DataFrame) = df.agg(sum("n_kept"), sum("n_tok"),
            expr("bit_xor(xxhash64(doc_id, clean_text))")).head()
          val viaSa = digest(Dedup.dedupSpansSa(docs, "text", "doc_id", k = 50))
          val exact = digest(Dedup.dedupSpansExact(docs, "text", "doc_id", k = 50))
          require(viaSa == exact, s"span-dedup parity broke: $viaSa vs $exact")
          // the stored docs' state persists as the deploy keeps it: the gram
          // index BUCKETED on gram (the batch probe then shuffles only the
          // batch) and the covered set materialized
          val batch = saDocs(nDocs, 100, 5)
          spark.sql("DROP TABLE IF EXISTS graft_span_idx")
          Sinks.writeBucketed(Dedup.spanGramIndex(docs, "text", "doc_id", 50),
            "graft_span_idx", "gram", numBuckets = 32)
          val covered = Iterate.materialize(Dedup.spanCovered(docs, "text", "doc_id", 50))
          try {
            val warm = digest(Dedup.dedupSpansSaIncremental(docs, batch, "text", "doc_id",
              50, priorIndex = spark.table("graft_span_idx"), priorCovered = covered.df))
            val full = digest(Dedup.dedupSpansSa(docs.unionByName(batch), "text", "doc_id", 50))
            require(warm == full, s"warm-start append parity broke: $warm vs $full")
          } finally {
            covered.release()
            spark.sql("DROP TABLE IF EXISTS graft_span_idx")
          }
        }
      }),

      // SCC over 100·c disjoint blocks of 1000 nodes at out-degree 12
      // (> ln 1000, so each block is strongly connected whp). No edge
      // crosses a block, so no component may either, whether or not a
      // block splits. withBound(0) keeps both sizes on the distributed
      // rounds (the 1× edges would otherwise fit the local endgame).
      Row("graph_scc", { c =>
        val edges = spark.range(100000L * c).toDF("src")
          .select(col("src"), explode(sequence(lit(0), lit(11))).as("j"))
          .select(col("src"), (col("src") - pmod(col("src"), lit(1000L)) +
            pmod(Dedup.md5Int(concat(col("src"), lit(":"), col("j"))), lit(1000L))).as("dst"))
          .where(col("src") =!= col("dst"))
        val obs = Observation()
        val scc = LocalEndgame.withBound(0)(
            Graph.stronglyConnectedComponents(edges, "src", "dst"))
          .observe(obs, count(when(expr("scc_id div 1000") =!= expr("node div 1000"), 1))
            .as("cross"))
        checked(scc) {
          val cross = asLong(obs.get("cross"))
          require(cross == 0L, s"SCC crossed a block boundary: $cross nodes")
        }
      }),

      // The manifest-committed merge sink: 400k·c keys created over 64
      // buckets (timed), then on the N× table a 2-bucket update + insert
      // batch must rewrite under 1/8 of the table's bytes (the
      // touched-bucket prune), and a whole-bucket delete and its replay
      // must converge on the exact row identities.
      Row("merge_into", { c =>
        val (keys, buckets) = (400000L * c, 64)
        val path = fresh("merge") + "/t"
        Sinks.mergeInto(spark, path, spark.range(keys)
          .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")), "k", buckets)
        checked(Sinks.readMerged(spark, path)) {
          def files(): Map[String, Long] = {
            val walk = Files.walk(Paths.get(path))
            try walk.iterator().asScala
              .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
              .map(p => p.toString -> Files.size(p)).toMap
            finally walk.close()
          }
          // DETERMINISTIC selections only: the merge reads its batch twice
          val bucketOf = pmod(xxhash64(col("k")), lit(buckets.toLong)).cast("int")
          val updates = spark.range(keys).select(col("id").as("k"))
            .where(bucketOf.isin(0, 1) && col("k") % 7 === 3)
          val inserts = spark.range(keys, keys + 50000L).select(col("id").as("k"))
            .where(bucketOf.isin(0, 1))
          val (nUpd, nIns) = (updates.count(), inserts.count())
          val created = files()
          Sinks.mergeInto(spark, path,
            updates.unionByName(inserts).withColumn("v", lit("UPDATED")), "k", buckets)
          val rewritten = (files() -- created.keySet).values.sum
          require(rewritten < created.values.sum / 8, s"touched-bucket prune failed: " +
            s"the update rewrote $rewritten of ${created.values.sum} bytes")
          val dels = spark.range(keys).select(col("id").as("k")).where(bucketOf === 2)
            .select(col("k"), lit("").as("v"), lit(true).as("_del"))
          val nDel = dels.count()
          val counts = (1 to 2).map { _ =>
            Sinks.mergeInto(spark, path, dels, "k", buckets, deleteCol = Some("_del"))
            Sinks.readMerged(spark, path).count()
          }
          require(counts.forall(_ == keys + nIns - nDel),
            s"delete + replay row counts $counts, expected ${keys + nIns - nDel}")
          val updated = Sinks.readMerged(spark, path).where(col("v") === "UPDATED").count()
          require(updated == nUpd + nIns, s"batch rows lost: $updated of ${nUpd + nIns}")
        }
      }),

      // The custom-state sessionizer (EventStream.sessionizedCustom) through
      // real file-source micro-batches: 20k·c users × 10 events whose
      // steps fall inside (5 min) or outside (2 h) the gap by hash, staged
      // as 8 chunk files (2 per trigger) plus a far-future per-user flush
      // file that closes every tail. Staging is fixture scaffolding inside
      // the timed window, linear in events. Checked: state drains to
      // O(users) after the flush, and the streamed sessions equal the
      // batch q35 sessions over the same rows, ordinals included.
      Row("stream_sessionize", { c =>
        val users = 20000L * c
        val events = spark.range(users * 10)
          .select(col("id").as("event_id"), (col("id") % users).as("user_id"),
            (col("id") / users).as("_i"))
          .select(col("event_id"),
            (lit(1700000000000000000L) + col("user_id") * 1000000L +
              expr(s"""aggregate(sequence(0, CAST(_i AS INT)), 0L, (acc, j) ->
                | acc + CASE WHEN j = 0 THEN 0L
                |   WHEN pmod(xxhash64(user_id, j), 4) = 0 THEN ${2L * 3600 * 1000000000L}
                |   ELSE ${5L * 60 * 1000000000L} END)""".stripMargin.replace("\n", " ")))
              .as("ts"),
            col("user_id"), lit("e").as("event_type"),
            (pmod(xxhash64(col("event_id")), lit(1000L)).cast("double") / 100.0).as("value"))
        val staged = fresh("sessions")
        def stage(df: DataFrame, name: String): Unit = {
          val tmp = s"$staged/_stage_$name"
          df.repartition(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
          Files.move(part.toPath, Paths.get(staged, s"$name.parquet"))
          new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
        }
        (0 until 8).foreach(i => stage(events.where(pmod(col("event_id"), lit(8)) === i), s"c$i"))
        val lateNs = 3650L * 86400L * 1000000000L
        val flushTs = events.agg(max("ts")).head().getLong(0) + lateNs + GapUs * 1000L +
          86400L * 1000000000L
        stage(events.select("user_id").distinct()
          .select(lit(-1L).as("event_id"), lit(flushTs).as("ts"), col("user_id"),
            lit("_flush").as("event_type"), lit(0.0).as("value")), "zflush")
        val sink = "scale_curve_" + Paths.get(staged).getFileName.toString.replaceAll("\\W", "_")
        val q = EventStream.sessionizedCustom(
            spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 2)
              .parquet(staged).as(Encoders.product[EventStream.Event]),
            gapUs = GapUs, lateness = "3650 days")
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        val stateRows = try {
          q.processAllAvailable()
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        } finally q.stop()
        val streamed = spark.table(sink)
        checked(streamed) {
          require(stateRows <= 2 * users, s"state did not drain: $stateRows rows for $users users")
          def digest(df: DataFrame) = df.agg(count(lit(1)), expr("bit_xor(xxhash64(user_id, " +
            "session_seq, n_events, dur_us, CAST(sum_val AS STRING)))")).head()
          val (s, b) = (digest(streamed.select("user_id", "session_seq", "n_events",
            "dur_us", "sum_val")), digest(sessions(events)))
          require(s == b, s"stream/batch parity broke: $s vs $b")
        }
      }))
  }
}

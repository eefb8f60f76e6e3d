package graft

import org.apache.spark.sql.functions._

import graft.ops.{Profile, Quality, Sampling}
import graft.queries.QueryHelpers.scratchDir

/** Corpus-quality signals: duplicate n-gram fraction, z-score outliers,
  * k-fold assignment, fixed-width histograms.
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("dupGramFraction: shared phrases counted, unique text is clean") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // shares all grams with doc 2
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta iota"),   // unique
      (4L, "xy")                             // < k tokens → no grams
    ).toDF("doc_id", "text")
    val out = Quality.dupGramFraction(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length === 4)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // docs 1,2: every gram duplicated
    assert(byId(1L).getAs[Long]("dup_frac_bp") === 10000L)
    assert(byId(2L).getAs[Long]("dup_frac_bp") === 10000L)
    assert(byId(1L).getAs[Int]("keep") === 0)
    // doc 3: no gram shared
    assert(byId(3L).getAs[Long]("dup_grams") === 0L)
    assert(byId(3L).getAs[Int]("keep") === 1)
    // doc 4: too short — total output, zero grams, kept
    assert(byId(4L).getAs[Long]("n_grams") === 0L)
    assert(byId(4L).getAs[Int]("keep") === 1)
  }

  test("winsorizedClipMeans: window and histogram paths agree (incl. ties)") {
    // fixture docs + a synthetic heavy-tie table (rank-inside-tie-run case)
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("lang", "doc_id", "n_chars")
    val rnd = new scala.util.Random(3)
    val ties = (1 to 3000).map(i =>
      (s"g${i % 3}", i.toLong, rnd.nextInt(12))).toDF("lang", "doc_id", "n_chars")
    for (df <- Seq(fixture, ties)) {
      val win = Quality.winsorizedClipMeans(df, "lang", "n_chars", "doc_id",
        windowLimit = Long.MaxValue).orderBy("lang").collect().toSeq
      val hist = Quality.winsorizedClipMeans(df, "lang", "n_chars", "doc_id",
        windowLimit = 0L).orderBy("lang").collect().toSeq
      assert(win == hist, s"paths diverge:\nwindow=$win\nhist=$hist")
    }
  }

  test("profile: n_distinct treats -0.0 and 0.0 as one value (SQL equality)") {
    val df = Seq(
      (1L, -0.0, -0.0f), (2L, 0.0, 0.0f), (3L, 1.5, 2.5f),
      (4L, Double.NaN, 3.5f)).toDF("id", "d", "f")
    val got = Profile.profile(df, Seq("d", "f")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    // d: {±0.0, 1.5, NaN} = 3; f: {±0.0f, 2.5, 3.5} = 3
    assert(got("d") === 3L, s"double col: $got")
    assert(got("f") === 3L, s"float col: $got")
    val cd = df.agg(countDistinct(col("d")), countDistinct(col("f"))).collect()(0)
    assert(got("d") === cd.getLong(0) && got("f") === cd.getLong(1))
  }

  test("gopher_stats: one-pass stats equal the explode/groupBy formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val native = docs
      .select(col("doc_id"), Functions.gopherStats(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_tok"), col("g.n_uniq"), col("g.top_c"),
        col("g.sum_len"), col("g.max_len"))
    val shuffled = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_uniq"), max("c").as("top_c"),
        sum(length(col("w")) * col("c")).as("sum_len"),
        max(length(col("w"))).as("max_len"))
    assert(native.exceptAll(shuffled).isEmpty && shuffled.exceptAll(native).isEmpty)
  }

  test("gopher_stats: hand case incl. empty tokens and repeats") {
    val df = Seq((1L, "a bb a  a"), (2L, "x")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Functions.gopherStats(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_tok"), col("g.n_uniq"), col("g.top_c"),
        col("g.sum_len"), col("g.max_len"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // "a bb a  a" splits to [a, bb, a, "", a]: 5 tokens, 3 distinct, top=3
    assert(got == Seq((1L, 5L, 3L, 3L, 5L, 2L), (2L, 1L, 1L, 1L, 1L, 1L)))
  }

  test("dupGramFraction: dup_grams bounded by n_grams") {
    val docs = (1 to 50).map(i => (i.toLong, s"common prefix text unique$i tail")).toDF("doc_id", "text")
    val bad = Quality.dupGramFraction(docs, "text", "doc_id")
      .where(col("dup_grams") > col("n_grams")).count()
    assert(bad === 0L)
  }

  test("dupGramFractionRelative is scale-invariant under corpus replication") {
    // duplicating the whole corpus doubles every df AND the doc count, so
    // the RELATIVE verdicts must not move (the absolute minDocs gate
    // saturates under exactly this growth — the sf0.1 lesson)
    val base = (1 to 40).map(i =>
      (i.toLong, if (i % 4 == 0) "shared boiler plate text here" else s"unique$i u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val doubled = base.unionByName(
      base.select((col("doc_id") + 1000L).as("doc_id"), col("text")))
    val one = graft.ops.Quality.dupGramFractionRelative(base, "text", "doc_id",
        minPermille = 100)
      .select("doc_id", "dup_frac_bp").as[(Long, Long)].collect().toMap
    val two = graft.ops.Quality.dupGramFractionRelative(doubled, "text", "doc_id",
        minPermille = 100)
      .select("doc_id", "dup_frac_bp").as[(Long, Long)].collect().toMap
    one.foreach { case (id, bp) => assert(two(id) === bp, s"doc $id moved") }
    // and the boilerplate docs are the flagged ones
    assert(one.filter(_._2 === 10000L).keySet === (1 to 40).filter(_ % 4 == 0).map(_.toLong).toSet)
    // the absolute gate saturates: every doc with grams in a copied
    // corpus shares them all with its twin, so it reads 10000 bp and goes
    val abs = Quality.dupGramFraction(doubled, "text", "doc_id")
    assert(abs.where(col("n_grams") > 0).count() === 80L)
    assert(abs.where(col("n_grams") > 0 &&
      (col("dup_frac_bp") =!= 10000 || col("keep") =!= 0)).count() === 0L)
  }

  test("dropBoilerplate removes only corpus-frequent segments, preserves order") {
    // "ad ad" opens 6/10 docs (df 60% > 50% threshold → boilerplate);
    // per-doc unique segments survive in their original order
    val docs = (1 to 10).map { i =>
      val boiler = if (i <= 6) "ad ad " else ""
      (i.toLong, s"${boiler}u$i a u$i b")
    }.toDF("doc_id", "text")
    val out = Quality.dropBoilerplate(docs, "text", "doc_id",
        segWords = 2, maxDfPermille = 500)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (1 to 6).foreach { i =>
      assert(out(i.toLong) === ((3L, 2L, s"u$i a u$i b")), s"doc $i") }
    (7 to 10).foreach { i =>
      assert(out(i.toLong) === ((2L, 2L, s"u$i a u$i b")), s"doc $i") }
  }

  test("topBigramFraction: repetition found, deterministic tie-break, short docs zeroed") {
    val docs = Seq(
      (1L, "a b a b a b", 11L),          // "a b"×3, "b a"×2 → top "a b"
      (2L, "x y x z x y x z", 15L),      // "x y"×2 ties "x z"×2 → smaller "x y"
      (3L, "solo", 4L),                  // < 2 words → zeros
      (4L, "w1 w2 w3 w4", 11L)           // all bigrams unique → top cnt 1
    ).toDF("doc_id", "text", "n_chars")
    val out = Quality.topBigramFraction(docs, "text", "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((5L, "a b", 3L, 3L * 3 * 10000 / 11)))
    assert(out(2L) === ((7L, "x y", 2L, 2L * 3 * 10000 / 15)))
    assert(out(3L) === ((0L, "", 0L, 0L)))
    assert(out(4L)._3 === 1L)
  }

  test("topBigramFraction: result independent of partitioning") {
    val docs = (1 to 60).map(i => (i.toLong, s"p$i q$i p$i q$i r$i", 20L))
      .toDF("doc_id", "text", "n_chars")
    val a = Quality.topBigramFraction(docs.repartition(1), "text", "doc_id", "n_chars")
      .orderBy("doc_id").collect().toSeq
    val b = Quality.topBigramFraction(docs.repartition(13), "text", "doc_id", "n_chars")
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("madStats: lower median, MAD, outlier counts — exact on a hand case") {
    val df = Seq(1L, 2L, 3L, 4L, 100L).map(v => ("g", v)) ++ Seq(("h", 7L), ("h", 9L))
    val out = Quality.madStats(df.toDF("grp", "v"), "v", "grp")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // g: med = 3 (pos ⌈5/2⌉), devs {2,1,0,1,97} → mad = 1;
    //    d>1 → {2,97}, d>2 → {97}, d>3 → {97}
    assert(out("g") === ((5L, 3L, 1L, 2L, 1L, 1L)))
    // h: n=2, med = 7 (lower), devs {0,2} → mad = 0; d>0 → one row
    assert(out("h") === ((2L, 7L, 0L, 1L, 1L, 1L)))
  }

  test("madOutlierRows: the rows behind the counts, evidence columns exact") {
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(v => ("g", v)) ++ Seq(("h", 7L), ("h", 9L)))
      .toDF("grp", "v")
    val rows = Quality.madOutlierRows(df, "v", "grp", k = 3).collect()
    // g: med 3, mad 1 → only v=100 (dev 97 > 3·1); h: med 7, mad 0 → v=9 (dev 2 > 0)
    assert(rows.length === 2)
    val g = rows.find(_.getString(0) == "g").get
    assert(g.getAs[Long]("v") === 100L)
    assert(g.getAs[Long]("med") === 3L)
    assert(g.getAs[Long]("dev") === 97L)
    assert(g.getAs[Long]("mad") === 1L)
    assert(rows.find(_.getString(0) == "h").get.getAs[Long]("v") === 9L)
  }

  test("madOutlierRows: row count equals madStats' out_3mad on many groups") {
    val data = (1 to 500).map(i =>
      (s"g${i % 7}", ((i * 2654435761L) % 97) + (if (i % 50 == 0) 10000L else 0L)))
    val df = data.toDF("grp", "v")
    val nRows = Quality.madOutlierRows(df, "v", "grp", k = 3).count()
    val nAgg = Quality.madStats(df, "v", "grp")
      .agg(sum("out_3mad")).head().getLong(0)
    assert(nRows === nAgg)
  }

  test("madStats: robust where the mean is not — one huge value moves nothing") {
    val base = (1 to 99).map(i => ("g", 100L + (i % 5)))
    val out = Quality.madStats((base :+ (("g", 1000000L))).toDF("grp", "v"), "v", "grp")
      .collect().head
    assert(out.getAs[Long]("med") === 102L)
    assert(out.getAs[Long]("mad") <= 2L)
  }

  test("zScoreOutliers: plants are found, zero-variance groups excluded") {
    val base = (1 to 100).map(i => (i.toLong, "g", 100L + (i % 10))) // tight cluster
    val planted = Seq((1000L, "g", 10000L))                         // far outlier
    val flat = (1 to 10).map(i => (2000L + i, "flat", 5L))          // zero variance
    val df = (base ++ planted ++ flat).toDF("id", "grp", "v")
    val out = Quality.zScoreOutliers(df, "v", "grp", 2.0).collect()
    assert(out.map(_.getAs[Long]("id")).toSet === Set(1000L))
  }

  test("zScoreOutliers: int32 value columns with large values don't overflow") {
    // 50000² > Int.MaxValue: without widening before the multiply, the
    // per-row square wraps (non-ANSI) and the variance is garbage
    val base = (1 to 100).map(i => (i.toLong, "g", 50000 + (i % 10))) // Int col
    val planted = Seq((1000L, "g", 90000))
    val df = (base ++ planted).toDF("id", "grp", "v")
    assert(df.schema("v").dataType.typeName === "integer")
    val out = Quality.zScoreOutliers(df, "v", "grp", 2.0).collect()
    assert(out.map(_.getAs[Long]("id")).toSet === Set(1000L))
  }

  test("zScoreOutliers: result independent of partitioning") {
    val df = (1 to 500).map(i => (i.toLong, s"g${i % 3}", (i * 37 % 211).toLong))
      .toDF("id", "grp", "v")
    val a = Quality.zScoreOutliers(df.repartition(1), "v", "grp", 1.0)
      .select("id").as[Long].collect().sorted
    val b = Quality.zScoreOutliers(df.repartition(13), "v", "grp", 1.0)
      .select("id").as[Long].collect().sorted
    assert(a.sameElements(b))
  }

  test("weightedSample: non-positive weights are never selected") {
    // w < 0 would flip the race key's sign (sorting FIRST); w = 0 can be
    // NaN — both must have zero inclusion probability instead
    val df = ((1 to 50).map(i => (i.toLong, i.toLong)) ++
      Seq((100L, 0L), (101L, -5L))).toDF("id", "w")
    val picked = Sampling.weightedSample(df, "id", "w", 10)
      .select("id").as[Long].collect().toSet
    assert(!picked.contains(100L) && !picked.contains(101L))
    assert(picked.size === 10)
  }

  test("kFold: stable assignment, all folds in range, roughly balanced") {
    val df = (1 to 1000).map(_.toLong).toDF("id")
    val folds = Sampling.kFold(df, "id", 5)
    val counts = folds.groupBy("fold").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet.subsetOf((0L until 5L).toSet))
    // hash balance: each fold within ±40% of the ideal 200
    counts.values.foreach(c => assert(c > 120 && c < 280, s"unbalanced: $counts"))
    // determinism across runs and partitionings
    val again = Sampling.kFold(df.repartition(7), "id", 5)
      .orderBy("id").select("fold").as[Long].collect()
    val first = folds.orderBy("id").select("fold").as[Long].collect()
    assert(first.sameElements(again))
  }

  test("text_entropy query: uniform text maxes entropy, repetition lowers it") {
    val dir = scratchDir("graft_entropy").toString
    Seq(
      (1L, "a b c d e f g h", "en", "s", 15L),     // 8 distinct of 8 → ln(8)
      (2L, "a a a a a a a a", "en", "s", 15L),     // degenerate → 0
      (3L, "a a a a b b c d", "en", "s", 15L)      // mixed
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(1L) - math.log(8)) < 0.001)
    assert(out(2L) === 0.0)
    assert(out(3L) > 0.0 && out(3L) < math.log(8))
  }

  test("text_lm_score query: corpus-common tokens outscore corpus-rare ones") {
    val dir = scratchDir("graft_lm").toString
    Seq(
      (1L, "common common common", "en", "s", 20L),
      (2L, "rare1 rare2 rare3", "en", "s", 17L),
      (3L, "common common rare4", "en", "s", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_lm_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // gf(common)=5, N=9: doc1 = ln 5 − ln 9; doc2 = ln 1 − ln 9
    assert(math.abs(out(1L) - (math.log(5) - math.log(9))) < 0.001)
    assert(math.abs(out(2L) - (0.0 - math.log(9))) < 0.001)
    assert(out(1L) > out(3L) && out(3L) > out(2L))
  }

  test("histogram: bins partition the input, counts sum to total") {
    val df = Seq(0.5, 1.5, 1.6, 2.0, 9.9, 10.0).toDF("v")
    val h = Profile.histogram(df, "v", 1.0).orderBy("bin").collect()
    val byBin = h.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBin === Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 9L -> 1L, 10L -> 1L))
    assert(h.map(_.getLong(1)).sum === 6L)
  }
}

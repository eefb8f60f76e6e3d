package graft

import org.apache.spark.sql.functions._

import graft.queries.QueryHelpers.scratchDir

/** Guards the codegen contract of the native expressions: every generated
  * static call must COMPILE. A companion method whose name clashes with a
  * class member (e.g. `eval`) gets no static forwarder, Janino fails, and
  * Spark silently falls back to interpreted mode — a pure perf regression
  * invisible to correctness tests. CODEGEN_ONLY + fallback=false turn that
  * silent fallback into a test failure.
  */
class CodegenSpec extends SparkSpec {

  test("native expressions compile under CODEGEN_ONLY (no interpreter fallback)") {
    val s = spark.newSession()
    Functions.register(s)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import s.implicits._
    val df = s.createDataset(Seq(
        ("<http://s> <http://p> \"Labels \\u00e9tudes\" .", Seq(1f, 2f, 3f)),
        ("<http://s2> <http://p2> \"more words here\" .", Seq(0.5f, -1f, 2f))))
      .toDF("line", "vec")
      .repartition(2) // off the LocalRelation fast path → real codegen stages
    val out = df.select(
        expr("parse_nt(line)").as("p"),
        expr("nt_unescape(line)").as("u"),
        expr("md5_long(line, 8)").as("h8"),
        expr("md5_long(line, 15)").as("h15"),
        expr("rolling_hash(line)").as("rh"),
        expr("word_shingles(line, 3)").as("sh"),
        expr("normalize_label(line)").as("nl"),
        expr("normalize_singular(line)").as("ns"),
        expr("vec_dot(vec, vec)").as("dot"),
        expr("vec_dot_d(CAST(vec AS ARRAY<DOUBLE>), CAST(vec AS ARRAY<DOUBLE>))").as("dotd"),
        expr("vec_sign_bits(vec)").as("bits"),
        expr("word_set_hits(line, 'more,words')").as("wh"),
        expr("jaro_winkler(line, reverse(line))").as("jw"),
        expr("bloom_might_contain(array(-1L, -1L), md5_long(line, 8), md5_long(line, 15), 3)")
          .as("bm"),
        expr("bpe_apply(line, 'o r,d s,e r')").as("bpe"),
        expr("winnow_fps(line, 8, 4)").as("wf"),
        expr("word_gram_hashes(line, 3, 15)").as("gham"),
        expr("unicode_norm(line, 'NFC')").as("un"))
      .where(col("h8") =!= 0L && col("rh") =!= 1L)
      .collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("bits")).toSet.size === 2)
    assert(out.map(_.getAs[Int]("wh")).toSet === Set(0, 1)) // `words` hits; `"more` has the quote
    // a generator: one per select, 0 or 1 rows per triple
    val kept = s.createDataset(Seq(
        ("http://id.worldcat.org/fast/1", "http://www.w3.org/2004/02/skos/core#prefLabel",
          "\"Jazz\"@en"),
        ("http://x/s", "http://www.w3.org/2000/01/rdf-schema#label", "\"Ext\""),
        ("http://s", "http://p", "<http://o>")))
      .toDF("s", "p", "o")
      .repartition(2)
      .select(expr("project_nt(s, p, o)"))
      .collect()
    assert(kept.map(_.getString(0)).sorted.toSeq === Seq("fast", "sameAsLabel"))
  }

  test("FastIngest.project compiles to methods small enough for HotSpot to JIT") {
    // a projection stage past the JIT limit runs every triple interpreted
    val dir = scratchDir("codegen-size")
    val file = dir.resolve("FASTTopical.nt")
    java.nio.file.Files.write(file, java.util.Arrays.asList(
      "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Jazz\"@en .",
      "<http://id.worldcat.org/fast/1> <http://schema.org/sameAs> <http://viaf.org/viaf/1> .",
      "<http://id.loc.gov/x> <http://www.w3.org/2000/01/rdf-schema#label> \"Ext\" ."))
    val df = graft.ingest.FastIngest.project(
      graft.sources.NtReader.triplesTagged(spark, file.toString))
    assertJitSized(df.queryExecution.executedPlan)
    assert(df.count() === 3)
  }

  test("FastIngest.termDocs compiles to methods small enough for HotSpot to JIT") {
    // the fused stage probes the labels and partially aggregates once per
    // fragment; the projection it follows once ran interpreted this way
    val dir = scratchDir("codegen-size")
    val file = dir.resolve("FASTTopical.nt")
    java.nio.file.Files.write(file, java.util.Arrays.asList(
      "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Jazz\"@en .",
      "<http://id.worldcat.org/fast/1> <http://schema.org/sameAs> <http://viaf.org/viaf/1> .",
      "<http://viaf.org/viaf/1> <http://www.w3.org/2000/01/rdf-schema#label> \"Ext\" ."))
    val frags = graft.ingest.FastIngest.project(
      graft.sources.NtReader.triplesTagged(spark, file.toString))
      .persist() // as IngestJob.runAll holds its fragments
    try {
      val docs = graft.ingest.FastIngest.termDocs(frags)
      assert(docs.collect().map(_.getSeq[String](4)).toSeq === Seq(Seq("Ext")))
      // read after the run: AQE compiles its query stages as they run
      assertJitSized(docs.queryExecution.executedPlan)
    } finally frags.unpersist()
  }

  /** HotSpot leaves a method over 8,000 bytes of bytecode to the
    * interpreter (DontCompileHugeMethods): every whole-stage-codegen
    * subtree of `plan`, inside AQE query stages too, must stay under it.
    */
  private def assertJitSized(plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    object walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val stages = walk.collect(plan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty, s"no whole-stage codegen in\n$plan")
    stages.foreach { w =>
      val size = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compile(w.doCodeGen()._2)._2.maxMethodCodeSize
      assert(size <= 8000, s"largest generated method is $size bytes in\n${w.treeString}")
    }
  }

  test("vec_dot_d is exact past the float mantissa (the centroid case)") {
    import spark.implicits._
    // 2^25 + 1 is not representable in float (24-bit mantissa): the float
    // path collapses it to 2^25, the double path must not — this is
    // exactly why integer-valued centroid sums ride ARRAY<DOUBLE>
    val big = (1L << 25) + 1L
    val df = Seq(Seq(big.toDouble, 0d)).toDF("v")
    val r = df.select(
        expr("vec_dot_d(v, CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>))").as("d"),
        expr("vec_dot(CAST(v AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))").as("f"))
      .head()
    assert(r.getDouble(0) === big.toDouble)
    assert(r.getDouble(1) === (1L << 25).toDouble) // the float collapse
    // and it matches the interpreted higher-order-function fold
    val both = Seq((Seq(1.5d, -2.25d, 3d), Seq(4d, 5.5d, -6d)))
      .toDF("a", "b")
      .select(expr("vec_dot_d(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)").as("hof"))
      .head()
    assert(both.getDouble(0) === both.getDouble(1))
  }

  test("word_set_hits matches the interpreted filter/IN form") {
    import spark.implicits._
    val docs = Seq("the cat and the hat", "", "of", "no stops here at all",
      "to the  of", "the the the").toDF("text")
    val rows = docs.select(
        expr("word_set_hits(text, 'the,a,and,of,to')").as("native"),
        expr("size(filter(split(text, ' '), t -> t in ('the','a','and','of','to')))")
          .as("hof"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
  }

  test("vec_top_cells ranks zero-divisor and NaN scores like the window twin") {
    val s = spark.newSession()
    Functions.register(s)
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // Three score classes the raw-double kernel used to get wrong:
    //   cid 2: zero-norm centroid (cnrm = 0) -> Spark Divide returns NULL
    //          -> NULLS LAST under cos DESC -> ranks WORST;
    //   cid 4: NaN component with nonzero cnrm -> cos = NaN -> Spark sorts
    //          NaN above +Inf -> ranks FIRST;
    //   emb 11: zero-norm query -> every divisor 0 -> all NULL -> cid order.
    // ANSI is turned off for the window twin: under ANSI a 0 divisor
    // THROWS instead of producing the NULL whose ordering this pins down.
    s.conf.set("spark.sql.ansi.enabled", "false")
    val cents = "array(" +
      "struct(CAST(1 AS BIGINT) AS cid, CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) AS cemb, CAST(1.0 AS DOUBLE) AS cnrm), " +
      "struct(CAST(2 AS BIGINT) AS cid, CAST(array(0.0, 0.0) AS ARRAY<FLOAT>) AS cemb, CAST(0.0 AS DOUBLE) AS cnrm), " +
      "struct(CAST(3 AS BIGINT) AS cid, CAST(array(0.0, 1.0) AS ARRAY<FLOAT>) AS cemb, CAST(1.0 AS DOUBLE) AS cnrm), " +
      "struct(CAST(4 AS BIGINT) AS cid, CAST(array(CAST('NaN' AS FLOAT), 0.0) AS ARRAY<FLOAT>) AS cemb, CAST(1.0 AS DOUBLE) AS cnrm))"
    val emb = s.createDataset(Seq((10L, Seq(1f, 1f)), (11L, Seq(0f, 0f))))
      .toDF("id", "emb")
      .repartition(2) // off the LocalRelation fast path -> real codegen
    val fused = emb
      .select(col("id"), expr(s"vec_top_cells($cents, emb, 3)").as("cells"))
      .as[(Long, Seq[Long])].collect().toMap
    val win = emb
      .select(col("id"), explode(expr(cents)).as("c"), col("emb"))
      .select(col("id"), col("c.cid"),
        (expr("vec_dot(c.cemb, emb)") /
          (col("c.cnrm") * sqrt(expr("vec_dot(emb, emb)")))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("cos").desc, col("cid"))))
      .where(col("rn") <= 3)
      .select("id", "rn", "cid").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(fused === win)
    assert(fused(10L) === Seq(4L, 1L, 3L)) // NaN first, 0.707-tie by cid, NULL (cid 2) excluded
    assert(fused(11L) === Seq(1L, 2L, 3L)) // all NULL: pure cid order
  }
}

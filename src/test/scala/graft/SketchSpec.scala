package graft

import org.apache.spark.sql.functions._

import graft.ops.Sketch
import graft.queries.QueryHelpers.scratchDir

/** Accuracy contracts for the approximate sketches: estimates must land
  * within their documented error bounds of the exact answer (the driver's
  * hash oracle can't adjudicate estimators directly — these specs are the
  * ε-tolerance gate, and the driver queries pin exact-value + flag).
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  // 20k values across 4 groups with group-dependent cardinality
  private lazy val data = (0 until 20000).map { i =>
    val g = i % 4
    (g, (i % (500 * (g + 1))).toLong, (i % 1000).toDouble / 7.0)
  }.toDF("g", "v", "x")

  test("approxDistinct: HLL++ estimate within tolerance of exact, flag set") {
    val out = Sketch.approxDistinct(data, "v", rsd = 0.02, tol = 0.06, "g").collect()
    assert(out.length === 4)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct")
      val approx = r.getAs[Long]("approx_distinct")
      assert(math.abs(approx - exact) <= exact * 0.06,
        s"g=${r.get(0)}: approx $approx vs exact $exact out of 6% tolerance")
      assert(r.getAs[Int]("approx_ok") === 1)
    }
    // exact side sanity: i steps by 4 within a group, so the distinct
    // residues mod 500*(g+1) number 500*(g+1)/4
    val byG = out.map(r => r.getInt(0) -> r.getAs[Long]("exact_distinct")).toMap
    assert(byG === Map(0 -> 125L, 1 -> 250L, 2 -> 375L, 3 -> 500L))
  }

  test("hllProfile + rollupDistinct: sketch union equals a direct coarse estimate") {
    val profile = Sketch.hllProfile(data, "v", lgK = 12, "g")
    // roll all four group sketches up to a single global estimate
    val global = Sketch.rollupDistinct(profile.withColumn("all", lit(1)), "all")
      .collect().head.getAs[Long]("approx_distinct").toDouble
    val exact = data.select(count_distinct(col("v"))).as[Long].collect().head
    assert(math.abs(global - exact) <= exact * 0.05,
      s"rolled-up estimate $global vs exact $exact out of 5% tolerance")
  }

  test("rollup answers a grain the profile was never built for (no rescan)") {
    // profile at (g, parity) grain, query at parity grain
    val fine = Sketch.hllProfile(
      data.withColumn("parity", col("v") % 2), "v", lgK = 12, "g", "parity")
    val byParity = Sketch.rollupDistinct(fine, "parity").collect()
      .map(r => r.getAs[Long]("parity") -> r.getAs[Long]("approx_distinct").toDouble).toMap
    val exactByParity = data.withColumn("parity", col("v") % 2)
      .groupBy("parity").agg(count_distinct(col("v")).as("d")).collect()
      .map(r => r.getAs[Long]("parity") -> r.getAs[Long]("d")).toMap
    exactByParity.foreach { case (p, exact) =>
      assert(math.abs(byParity(p) - exact) <= exact * 0.05,
        s"parity=$p: ${byParity(p)} vs $exact")
    }
  }

  test("hll profile survives a parquet round-trip: sketch once, roll up later") {
    val dir = scratchDir("graft_hll_profile").toString
    Sketch.hllProfile(data, "v", lgK = 12, "g").write.mode("overwrite").parquet(dir)
    // a later session reads the stored profile and answers a rollup
    // without touching the base data
    val reread = spark.read.parquet(dir)
    val global = Sketch.rollupDistinct(reread.withColumn("all", lit(1)), "all")
      .collect().head.getAs[Long]("approx_distinct").toDouble
    val exact = data.select(count_distinct(col("v"))).as[Long].collect().head
    assert(math.abs(global - exact) <= exact * 0.05)
  }

  test("count-min: never undercounts, overshoot within 3N/w, absent keys near 0") {
    import spark.implicits._
    // Zipf-ish: item i appears 1000/i times
    val items = (1 to 200).flatMap(i => Seq.fill(1000 / i)(s"item$i")).toDF("v")
    val n = items.count()
    val (w, d) = (1024, 4)
    val cms = Sketch.cmsBuild(items, "v", w, d)
    val exact = items.groupBy("v").agg(count(lit(1)).as("exact"))
    val est = Sketch.cmsEstimate(cms, exact.select("v"), "v", w, d)
    val joined = exact.join(est, "v").as[(String, Long, Long)].collect()
    assert(joined.length === 200)
    joined.foreach { case (v, ex, e) =>
      assert(e >= ex, s"$v undercounted: $e < $ex")
      assert(e <= ex + 3 * n / w, s"$v overshoot: $e vs $ex + ${3 * n / w}")
    }
    // absent keys estimate at most the collision bound
    val absent = Sketch.cmsEstimate(cms, Seq("nope1", "nope2").toDF("v"), "v", w, d)
      .as[(String, Long)].collect()
    absent.foreach { case (_, e) => assert(e <= 3 * n / w) }
  }

  test("count-min merge: sketch of a union equals merged sketches") {
    import spark.implicits._
    val a = (1 to 500).map(i => s"k${i % 40}").toDF("v")
    val b = (1 to 700).map(i => s"k${i % 55}").toDF("v")
    val (w, d) = (256, 3)
    val merged = Sketch.cmsMerge(Sketch.cmsBuild(a, "v", w, d), Sketch.cmsBuild(b, "v", w, d))
      .orderBy("row", "bucket").as[(Int, Long, Long)].collect()
    val direct = Sketch.cmsBuild(a.unionAll(b), "v", w, d)
      .orderBy("row", "bucket").as[(Int, Long, Long)].collect()
    assert(merged.sameElements(direct))
  }

  test("theta: exact mode below 2^lgK, set identities hold") {
    import spark.implicits._
    // A = 0..599, B = 400..999 → |A∩B| = 200, |A∪B| = 1000, |A∖B| = 400
    val df = ((0 until 600).map(i => ("a", i)) ++
        (400 until 1000).map(i => ("b", i))).toDF("g", "v")
    val prof = Sketch.thetaProfile(df, "v", "g", lgK = 12)
    val out = prof.where(col("g") === "a").select(col("theta").as("ta"))
      .crossJoin(prof.where(col("g") === "b").select(col("theta").as("tb")))
      .select(Sketch.thetaIntersectEst(col("ta"), col("tb")).as("i"),
        Sketch.thetaUnionEst(col("ta"), col("tb")).as("u"),
        Sketch.thetaDiffEst(col("ta"), col("tb")).as("d"))
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((200L, 1000L, 400L)))
  }

  test("theta: estimation mode error within 5% at 20x nominal entries") {
    import spark.implicits._
    val n = 80000 // ≫ 2^12 nominal entries → genuine estimation mode
    val df = ((0 until n).map(i => ("a", i)) ++
        ((n / 2) until (3 * n / 2)).map(i => ("b", i))).toDF("g", "v")
    val prof = Sketch.thetaProfile(df, "v", "g", lgK = 12)
    val out = prof.where(col("g") === "a").select(col("theta").as("ta"))
      .crossJoin(prof.where(col("g") === "b").select(col("theta").as("tb")))
      .select(Sketch.thetaIntersectEst(col("ta"), col("tb")).as("i"),
        Sketch.thetaUnionEst(col("ta"), col("tb")).as("u"))
      .collect().head
    assert(math.abs(out.getLong(0) - n / 2.0) <= 0.05 * (n / 2.0),
      s"intersection est ${out.getLong(0)} vs ${n / 2}")
    assert(math.abs(out.getLong(1) - 1.5 * n) <= 0.05 * (1.5 * n),
      s"union est ${out.getLong(1)} vs ${1.5 * n}")
  }

  test("approxQuantiles: rank error within 1/accuracy of exact ranks") {
    val accuracy = 1000
    val probs = Seq(0.1, 0.5, 0.9)
    val out = Sketch.approxQuantiles(data, "x", probs, accuracy, "g").collect()
    out.foreach { r =>
      val g = r.getInt(0)
      val xs = data.where(col("g") === g).select("x").as[Double].collect().sorted
      val qs = r.getSeq[Double](1)
      probs.zip(qs).foreach { case (p, q) =>
        // the returned value must be an element whose rank is within
        // n/accuracy of ceil(p*n) — the GK sketch contract
        val rank = xs.count(_ <= q)
        val target = math.ceil(p * xs.length)
        assert(math.abs(rank - target) <= xs.length.toDouble / accuracy + 1,
          s"g=$g p=$p: value $q has rank $rank, target $target, n=${xs.length}")
      }
    }
  }
}

package graft

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the `noop`
  * sink (count() alone would let Catalyst prune the projections away), and
  * prints one JSON line for the driver.
  *
  * Robustness against host-steal (this sandbox shows ±3× wall-clock noise,
  * sometimes SUSTAINED for multi-minute windows — NOTES.md). Three layers:
  *
  *  1. ADAPTIVE passes: pass 1 (plan compilation + codegen JIT) is never
  *     counted; steady passes repeat until the two fastest CLEAN passes
  *     reproduce each other within 30%, up to [[MaxSteady]] passes. A pass
  *     is clean when the fixed-work control jobs BEFORE and AFTER it both
  *     ran ≤ [[CtlClean]] s (controls are interleaved between passes).
  *     Under sustained contention no pass is ever clean — after
  *     [[NeverCleanCutoff]] consecutive dirty passes the loop stops
  *     burning time and defers to layer 3. A per-query steady-time budget
  *     (counting every pass) bounds the worst case either way.
  *  2. HISTORICAL FLOOR: `bench_floor.json` holds each query's best
  *     clean-control time over all prior recorded rounds at this scale
  *     factor. Steal only ever INFLATES a measurement, so a recorded time
  *     over 2× its floor is suspect regardless of how clean its own
  *     controls looked (r7–r10 lesson: two equally-inflated passes satisfy
  *     any convergence rule, and a clean 0.2 s control window can sit
  *     inside an 11×-inflated 32-core query window).
  *  3. RE-BENCH: after the full sweep, every suspect (over-floor,
  *     never-clean, or recorded-control > 3× the sweep's median control)
  *     re-runs in a FRESH session — a later, independent contention
  *     window. A verified-CLEAN re-measurement REPLACES a dirty sweep
  *     value even when larger (a dirty window is untrustworthy in either
  *     direction — r13: a 0.63 s-control window under-recorded the
  *     suite's slowest query); two clean values take the min (steal only
  *     inflates); with no clean value anywhere the minimum is recorded
  *     with its dirty control attached. Re-sourced queries are listed
  *     under `rebenched`. The floor file is then updated with this run's
  *     clean minima, so the cross-check self-maintains round over round.
  *
  * JSON fields: the stdout line carries `value` (total sec), `n`,
  * `failed` (count), `queries` (headline subset, 10 ms resolution),
  * `ctl:{min,max}` (control extremes), `rebenched` (count), `full`
  * (path of the complete record). BENCH_FULL.json carries every query as
  * `[steady_sec, control_sec]` at 3 dp plus the `rebenched` name list.
  * Values are rounded so the stdout line stays inside the driver's ~2 KB
  * output-tail capture (full-precision doubles once pushed it past and
  * the driver recorded `parsed: null`).
  */
object Bench {
  private val CtlClean = 0.25 // 64M-row control median is ~0.09 s on this host
  private val MaxSteady = 6
  // consecutive never-clean passes before deferring to the re-bench pass:
  // extra passes inside a sustained-steal window cost wall-clock without
  // adding a usable minimum (ADVICE r10)
  private val NeverCleanCutoff = 3
  // control ceiling for RAISING a floor (stricter than CtlClean, which
  // gates recording): ~2× the floor-era control median, so only a
  // verifiably quiet window can weaken the drift detector's reference
  private val AgeCtl = 0.12

  private[graft] def control(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(64L << 20).selectExpr("max(hash(id)) AS h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Best-of re-measurement of one query in an already-warm session:
    * warm-up pass, then up to `reps` control-bracketed passes; returns
    * (best clean (time, worse-neighbor control) if any, best overall
    * (time, ITS OWN worse-neighbor control) — the any-pass minimum must
    * carry the bracket of the pass actually recorded, not the sweep
    * window it replaced, or BENCH_FULL attributes the time to a
    * contention window it did not come from). */
  private def measure(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String, reps: Int)
      : (Option[(Double, Double)], Option[(Double, Double)]) = {
    val fn = SparkEntry.queries(name)
    def onePass(): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] rebench $name failed: $e"); false
        }
      GraftSession.releaseAll(spark)
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    onePass() // warm-up
    val ctls = scala.collection.mutable.ArrayBuffer(control(spark))
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    (1 to reps).foreach { _ =>
      passes += onePass()
      ctls += control(spark)
    }
    val ok = passes.zipWithIndex.collect { case ((t, true), i) => (t, i) }
    val clean = ok.collect { case (t, i)
      if ctls(i) <= CtlClean && ctls(i + 1) <= CtlClean =>
        (t, math.max(ctls(i), ctls(i + 1))) }
    val anyBest = ok.minByOption(_._1).map { case (t, i) =>
      (t, math.max(ctls(i), ctls(i + 1))) }
    (clean.minByOption(_._1), anyBest)
  }

  /** bench_floor.json: {"sf":"sf0.1","floor":{"name":sec,...}} — written
    * by this main, parsed with a shape-specific scan (no JSON library on
    * the classpath; the writer below controls the exact format). */
  private def loadFloors(sfDir: String): Map[String, Double] = {
    val p = java.nio.file.Paths.get("bench_floor.json")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val txt = java.nio.file.Files.readString(p)
    val sfTag = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
    if (!sfTag.exists(t => sfDir.endsWith(t))) return Map.empty
    "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap - "sf"
  }

  private def writeFloors(sfDir: String, floors: Map[String, Double]): Unit = {
    val tag = sfDir.split('/').last
    val body = floors.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}""" }
      .mkString(",")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_floor.json"),
      s"""{"sf":"$tag","floor":{$body}}""")
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val floors = loadFloors(sfDir)
    val spark = GraftSession.local("graft-bench", cpus)

    // One warm-up action so JVM/codegen startup cost isn't billed to q1.
    SparkEntry.queries.get("q1_filter_project")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    control(spark)

    // A query that throws must NEVER be recorded as a (fast) timing: in
    // round 6 the event-window family failed mid-round and its near-zero
    // failure times landed in the record looking like sub-control "wins"
    // (ADVICE r6). Failed queries are excluded from timings/total and
    // reported explicitly in both the full record and the stdout line.
    val raw = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def onePass(i: Int): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val passOk =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name pass $i failed: $e")
            false
          }
        // drop per-query persisted data so later queries aren't taxed by
        // earlier queries' cache (GC pressure dominates variance otherwise)
        GraftSession.releaseAll(spark)
        ((System.nanoTime() - t0) / 1e9, passOk)
      }
      onePass(1) // warm-up: plan compilation + codegen JIT, never counted
      // steady passes with interleaved controls: ctls(i) precedes pass i,
      // ctls(i+1) follows it.
      val ctls = scala.collection.mutable.ArrayBuffer(control(spark))
      val steadyAll = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      var spent = 0.0
      var done = false
      while (!done) {
        val (t, ok) = onePass(steadyAll.size + 2)
        ctls += control(spark)
        steadyAll += ((t, ok))
        spent += t
        val clean = steadyAll.zipWithIndex.collect {
          case ((tt, true), i) if ctls(i) <= CtlClean && ctls(i + 1) <= CtlClean => tt
        }.sorted
        val converged = clean.size >= 2 && clean(1) <= 1.3 * clean(0)
        val minOk = steadyAll.collect { case (tt, true) => tt }
          .minOption.getOrElse(0.0)
        done = converged ||
          steadyAll.size >= MaxSteady ||
          // sustained steal: no clean pass yet after the cutoff — stop
          // paying for passes the re-bench stage supersedes anyway
          (clean.isEmpty && steadyAll.size >= NeverCleanCutoff) ||
          // per-query steady-time budget over ALL passes
          spent > math.max(10.0, 5.0 * minOk)
      }
      val okTimes = steadyAll.zipWithIndex.collect { case ((t, true), i) => (t, i) }
      val cleanTimes = okTimes.filter { case (_, i) =>
        ctls(i) <= CtlClean && ctls(i + 1) <= CtlClean }
      // record the fastest CLEAN pass when one exists; else the fastest
      // pass at all (flagged via its surrounding control below). The
      // recorded control is the worse of the recorded pass's two
      // neighbors — contamination stays attributable per query.
      val best = (if (cleanTimes.nonEmpty) cleanTimes else okTimes)
        .minByOption(_._1)
      if (steadyAll.size > 2 || cleanTimes.isEmpty)
        System.err.println(s"[bench] $name: ${steadyAll.size} steady passes, " +
          s"${cleanTimes.size} clean, recorded=${best.map(_._1).getOrElse(-1.0)}")
      best match {
        case Some((t, i)) =>
          (name, t, math.max(ctls(i), ctls(i + 1)), true, cleanTimes.nonEmpty)
        case None => (name, 0.0, ctls.last, false, false)
      }
    }
    val failedQs = raw.collect { case (name, _, _, false, _) => name }

    // Historical-floor cross-check: any recorded time over 2× the query's
    // best prior clean time (or recorded from a never-clean window, or
    // whose recorded control sits over 3× the sweep's median control —
    // VERDICT r13 #1: a 0.63 s-control window under-recorded the suite's
    // slowest query) is suspect — re-measure it in a FRESH session (an
    // independent, later contention window). The 0.3 s absolute slack
    // keeps sub-half-second queries from flagging on scheduler jitter.
    // Floor-flagged queries always re-run; dirty-window ones re-run
    // biggest-first under a cap, so a fully-contended sweep (where nothing
    // is ever clean) degrades to re-checking the heaviest distortions
    // instead of doubling the whole run.
    val ctlMedRaw = {
      val cs = raw.collect { case (_, _, c, true, _) => c }.sorted
      if (cs.isEmpty) CtlClean else cs(cs.size / 2)
    }
    val overFloor = raw.collect {
      case (name, t, _, true, _)
        if floors.get(name).exists(f => t > 2 * f && t - f > 0.3) => (name, t)
    }.sortBy(-_._2).take(40).map(_._1) // biggest distortions first, capped
      // like neverClean: a revision with many genuine regressions must not
      // inflate bench wall-clock unboundedly (the floor-aging fold below
      // raises confirmed floors so a real regression re-runs ONCE, not on
      // every future round)
    val neverClean = raw.collect {
      case (name, t, c, true, cl)
        if (!cl || c > 3 * ctlMedRaw) && !overFloor.contains(name) => (name, t)
    }.sortBy(-_._2).take(40).map(_._1)
    val suspects = overFloor ++ neverClean
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // rebench maps hold only queries with a COMPLETED re-measurement: a
    // suspect whose every re-bench pass failed is dropped (it stays a
    // failed query, not a "re-benched" one) — never Double.MaxValue.
    val (rebenchClean, rebenchAny) = if (suspects.isEmpty)
      (Map.empty[String, (Double, Double)], Map.empty[String, (Double, Double)])
    else {
      System.err.println(s"[bench] re-bench pass: ${suspects.size} suspect(s): " +
        suspects.mkString(", "))
      val spark2 = GraftSession.local("graft-bench-recheck", cpus)
      val measured = suspects.map { name =>
        name -> measure(spark2, sfDir, name, reps = 3) }
      spark2.sparkContext.setLogLevel("OFF")
      spark2.stop()
      (measured.flatMap { case (n, (clean, _)) => clean.map(n -> _) }.toMap,
        measured.flatMap { case (n, (_, any)) => any.map(n -> _) }.toMap)
    }
    // Merge policy (VERDICT r13 #1 — never let a dirty-window sweep time
    // out-vote a verified-clean re-measurement): a CLEAN re-bench
    // REPLACES a dirty sweep value even when larger (the dirty value's
    // window is untrustworthy in either direction); two clean values
    // take the min (steal only inflates); with no clean value anywhere
    // the minimum is recorded and its dirty control stays attached, so
    // the contamination remains attributable in BENCH_FULL.
    val results = raw.collect { case (name, t, c, true, cl) =>
      val sweepClean = cl && c <= 3 * ctlMedRaw
      (rebenchClean.get(name), rebenchAny.get(name)) match {
        case (Some((rt, rc)), _) if !sweepClean => (name, rt, rc, true)
        case (Some((rt, rc)), _) if rt < t      => (name, rt, rc, true)
        case (Some(_), _)                       => (name, t, c, false)
        case (None, Some((ra, rc))) if ra < t   => (name, ra, rc, true)
        case _                                  => (name, t, c, false)
      }
    }
    // self-maintaining floor: fold this run's clean minima into the file
    // (only at the floor file's own scale factor — loadFloors already
    // returned empty for a mismatched sf, in which case seed a new file
    // only when none exists, never overwrite another scale's floors)
    // floor candidates obey the SAME trust rule as the recorded values:
    // a sweep time only enters the floor from a window that was both
    // bracket-clean and under the 3×-median bound — otherwise only the
    // fresh-session clean re-bench qualifies (an under-recorded dirty
    // time in the floor file would flag the query over-floor forever)
    val cleanNow = (raw.collect {
        case (name, t, c, true, true) if c <= 3 * ctlMedRaw =>
          name -> rebenchClean.get(name).fold(t) { case (rt, _) => math.min(t, rt) }
      } ++
      raw.collect { case (name, _, c, true, cl) if !cl || c > 3 * ctlMedRaw => name }
        .flatMap(n => rebenchClean.get(n).map { case (rt, _) => n -> rt })).toMap
    // floor AGING: an over-floor query whose fresh-session re-bench was
    // clean and STILL over the old floor is a confirmed regression (or an
    // intentional plan change) — its floor RISES to the confirmed time,
    // so the regression re-runs once rather than on every future round.
    // r17 (VERDICT r16 #2): a raise demands a NEAR-FLOOR-ERA control
    // (CtlClean = 0.25 is ~4× the 0.061 floor-era control median, so a
    // "clean" bracket can still carry 1.5-2× steal inflation — exactly how
    // the r16 sweep baked steal-window values into the dedup_containment /
    // mm_phash_pairs floors). Raising a floor from an inflated window
    // blinds the drift detector to real regressions; NOT raising from a
    // contended window only costs one redundant re-bench next round.
    val aged = overFloor.flatMap { name =>
      rebenchClean.get(name).collect {
        case (t, c) if c <= AgeCtl &&
            floors.get(name).exists(f => t > 2 * f && t - f > 0.3) =>
          name -> t
      }
    }.toMap
    if (floors.nonEmpty ||
        !java.nio.file.Files.exists(java.nio.file.Paths.get("bench_floor.json")))
      writeFloors(sfDir, (floors.keySet ++ cleanNow.keySet).map { k =>
        k -> math.min(floors.getOrElse(k, 1e9), cleanNow.getOrElse(k, 1e9))
      }.toMap ++ aged)

    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // 10ms resolution with trailing zeros stripped ("0.20"→"0.2", "3.00"→"3").
    def cs(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString
    val ctlMin = results.map(_._3).min
    val ctlMax = results.map(_._3).max
    // the window's typical steal level: lets a reader normalize totals
    // across rounds measured under different contention (ADVICE r12 #8 —
    // common-subset regressions were unattributable when one round's
    // controls sat at 0.76 and the next at 0.95)
    val ctlMed = {
      val sorted = results.map(_._3).sorted
      sorted(sorted.size / 2)
    }
    results.collect { case (k, _, c, _) if c > 2 * ctlMin =>
      System.err.println(s"[bench] steal $k control=${ms(c)}") }
    System.err.println(f"[bench] control min=${ctlMin}%.2f max=${ctlMax}%.2f")
    val total = results.map(_._2).sum
    // The driver keeps only the last ~2000 chars of output. Two-tier
    // record: BENCH_FULL.json (committed per round) carries every query;
    // the stdout line carries total + the HEADLINE subset, sized ≤ ~1.8KB
    // so the line survives the tail capture whole.
    // Floor-drift flag (VERDICT r14 #9): any FINAL recorded value still
    // over 1.5× its historical floor is listed so a reviewer sees this
    // round's regressions without diffing prior BENCH files. Uses the
    // floors as loaded at startup (pre-aging), with the same 0.2 s
    // absolute slack that keeps sub-half-second queries from flagging on
    // scheduler jitter.
    val floorDrift = results.collect { case (k, v, _, _)
      if floors.get(k).exists(f => v > 1.5 * f && v - f > 0.2) => k }.sorted
    if (floorDrift.nonEmpty)
      System.err.println(s"[bench] floor drift (recorded > 1.5× floor): " +
        floorDrift.mkString(", "))
    val fullQs = results.map { case (k, v, c, _) => s""""$k":[${ms(v)},${ms(c)}]""" }
      .mkString("{", ",", "}")
    val failedJson = failedQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rebenchedJson = results.collect { case (k, _, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val informational = SparkEntry.all.filter(_.informational).map(_.name)
    val informationalJson = informational.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    informational.foreach { k =>
      System.err.println(s"[bench] $k is informational: real micro-batch " +
        "replay (state store + N triggers) raced against one batch SQL — " +
        "its time is structural replay overhead, not a comparable plan; " +
        "counted in the total, flagged here and in BENCH_FULL.") }
    val floorDriftJson = floorDrift.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
      s""""n":${results.size},"failed":$failedJson,"rebenched":$rebenchedJson,""" +
      s""""informational":$informationalJson,"floor_drift":$floorDriftJson,""" +
      s""""ctl_med":${ms(ctlMed)},"queries_ctl":$fullQs,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"), fullLine)
    val qs = results.collect { case (k, v, _, _) if headline(k) => "\"" + k + "\":" + cs(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${results.size},""" +
      s""""failed":${failedQs.size},"rebenched":${results.count(_._4)},""" +
      s""""drift":${floorDrift.size},"queries":$qs,""" +
      s""""ctl":{"min":${cs(ctlMin)},"med":${cs(ctlMed)},"max":${cs(ctlMax)}},""" +
      s""""full":"BENCH_FULL.json","sf":"$sfDir"}"""
    System.err.println(s"[bench] json line length: ${line.length}")
    // The payload line must be the LAST thing in a combined stdout+stderr
    // capture, so nothing can trail the line.
    println(line)
  }

  /** The stdout line's query subset: the reference-core dataflow plus the
    * most scale-relevant representative of each operator family. The
    * complete 250+-query record is in BENCH_FULL.json — this set only has
    * to keep the driver-visible line under the ~2000-char tail capture.
    */
  private[graft] val headline: Set[String] = Set(
    // reference core
    "fast_docs", "merge_fast_docs", "nt_parse", "nt_quarantine", "viaf_update",
    "q1_filter_project", "q4_groupby_collect", "q5_first_nonnull",
    "q6_join_chain", "q7_disjunctive_join", "q8_semi_join", "q9_merge_dedup",
    // relational heavies
    "q13_window", "q20_cube", "q22_range_join", "q23_asof_join",
    "q24_percentile", "q33_sql_surface", "q35_sessionize", "q39_resample",
    "q41_global_rank", "q42_window_distinct", "q43_interpolate", "table_diff",
    "tpch_q9", "tpch_q21",
    // dedup family
    "dedup_exact", "dedup_minhash_pairs", "dedup_clusters", "dedup_ppjoin",
    "dedup_ngram", "dedup_simhash", "dedup_winnow_pairs", "dedup_cosine_pairs",
    "dedup_incremental", "dedup_canonical", "dedup_spans", "dedup_stitch",
    // ANN / embeddings
    "ann_topk", "ann_ivf", "ann_lsh", "embed_neardup", "embed_clusters",
    // sketches
    "sketch_cms", "sketch_distinct", "sketch_frequent_by_lang",
    "sketch_quantiles", "sketch_hll_merge",
    // graph
    "graph_triangles", "graph_pagerank", "graph_labelprop", "graph_bfs",
    // text / quality / tokenization
    "text_langid", "text_quality", "text_lm_bigram", "text_bm25",
    "text_entropy", "text_boilerplate", "text_encode_ids", "bpe_merges",
    "decontaminate",
    // pipelines, sampling, layout
    "pipeline_curate", "pipeline_pretrain", "sample_temperature",
    "sample_weighted", "pack_sequences", "layout_zorder", "scd2_history",
    "events_attribution", "retrieval_mrr", "tpch_q17_style")
}

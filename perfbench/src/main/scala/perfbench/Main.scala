package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.Sinks

/** The ingest benchmark's harness. One process, one closed-loop caller:
  * each unit of work starts when the previous one has returned.
  *
  *   --trace 0: set up once, cold (session start, workload preparation,
  *     one warm-up run: `setup_s`), then run the workload until
  *     `--seconds` have passed, checking every run's output, and print
  *     the end-to-end metrics.
  *   --trace 1: set up once, then alternate an untraced run with a traced
  *     run that calls each layer one boundary at a time, and print the
  *     per-layer metrics.
  *   --self-test: show that the output check, by the planted counts alone,
  *     rejects a table with one row dropped, one label changed or one
  *     altLabel dropped.
  *
  * The last line of standard output is the result as one JSON object.
  */
object Main {

  private final case class Opts(workload: String, input: Path, work: Path,
                                seconds: Double, trace: Boolean, cores: Int,
                                digestFile: Option[Path], spansFile: Option[Path],
                                selfTest: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), Paths.get(get("input")), Paths.get(get("work")),
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("digest-file").map(Paths.get(_)), kv.get("spans-file").map(Paths.get(_)),
      kv.get("self-test").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try { if (o.selfTest) selfTest(o) else bench(o) }
    catch { case NonFatal(e) => e.printStackTrace(); 1 }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  private def session(o: Opts): SparkSession = GraftSession.local("perfbench", o.cores.toString)

  /** Accepts a run's output when its counts match and its digest equals
    * the first one seen at this seed (in this process or, through the
    * digest file, an earlier one).
    */
  private final class Judge(file: Option[Path]) {
    var reference: Option[String] =
      file.filter(Files.exists(_)).map(f => new String(Files.readAllBytes(f), "UTF-8").trim)
    var attempted = 0L
    var failed = 0L

    def apply(v: Verdict, units: Int): Boolean = {
      if (reference.isEmpty && v.ok) reference = Some(v.digest)
      val digestOk = reference.contains(v.digest)
      val ok = v.ok && digestOk
      if (!v.ok) System.err.println(s"[perfbench] check failed: ${v.problems.mkString("; ")}")
      else if (!digestOk)
        System.err.println(s"[perfbench] digest ${v.digest} differs from ${reference.get}")
      attempted += units
      if (!ok) failed += units
      ok
    }

    def threw(e: Throwable, units: Int): Unit = {
      e.printStackTrace()
      attempted += units
      failed += units
    }

    def save(): Unit = for (f <- file; d <- reference if failed == 0 && !Files.exists(f)) {
      Files.createDirectories(f.getParent)
      Files.write(f, d.getBytes("UTF-8"))
    }
  }

  private final case class Sample(unitSecs: Seq[Double], totals: Totals)

  private def bench(o: Opts): Int = {
    val judge = new Judge(o.digestFile)
    val t0 = System.nanoTime()
    val spark = session(o)
    val counters = new TaskCounters(spark.sparkContext)
    val wl = Workload(o.workload, spark, o.input, o.work)
    wl.prepare()
    wl.run() // warm-up
    val setupSecs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: $setupSecs%.3f s")

    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val samples = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = new Tracer(spark.sparkContext)
    var iterations = 0
    while (iterations == 0 || System.nanoTime() < deadline) {
      iterations += 1
      try {
        counters.reset()
        val secs = wl.run()
        val totals = counters.all()
        val ok = judge(wl.check(), secs.size)
        if (ok) samples += Sample(secs, totals)
        System.err.println(s"[perfbench] run $iterations: " +
          secs.map(x => f"$x%.3f").mkString("[", " ", "]") + f" s, cpu ${totals.cpuNs / 1e9}%.2f s")
        if (o.trace && ok) {
          counters.reset()
          val run = tracer.nextRun()
          val t = wl.traced(tracer, counters)
          val groups = counters.byGroup()
          if (judge(t.verdict, 1)) traced += layerMetrics(tracer, run, groups, t, secs.sum)
        }
      } catch { case NonFatal(e) => judge.threw(e, wl.unitsPerRun) }
    }
    judge.save()
    o.spansFile.foreach(tracer.writeJsonLines)
    if (samples.isEmpty || (o.trace && traced.isEmpty)) {
      System.err.println(s"[perfbench] no run passed its check (${judge.failed} failed)")
      return 1
    }

    val med = (f: Sample => Double) => Stats.median(samples.map(f).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupSecs, "s"),
        ("ingest_s", med(_.unitSecs.sum), "s"),
        ("batch_p50_s", Stats.median(samples.flatMap(_.unitSecs).toSeq), "s"),
        ("cpu_s", med(_.totals.cpuNs / 1e9), "s"),
        ("shuffle_mb", med(_.totals.shuffleWriteBytes / 1e6), "MB"),
        ("written_mb", med(_.totals.outputBytes / 1e6), "MB"),
        ("peak_exec_mem_mb", med(_.totals.peakExecMemBytes / 1e6), "MB"))
      else PerLayer.names.map { case (name, unit) =>
        (name, Stats.median(traced.map(_.getOrElse(name, 0.0)).toSeq), unit)
      }
    if (o.trace) PerLayer.printShares(traced.toSeq)
    System.err.println(s"[perfbench] ${o.workload}: ${samples.size} runs, " +
      s"${samples.map(_.unitSecs.size).sum} units, ${judge.failed} of ${judge.attempted} failed, " +
      s"digest ${judge.reference.getOrElse("-")}")
    println(Json.result(judge.failed == 0, judge.attempted, judge.failed, metrics))
    0
  }

  /** One traced run's per-layer numbers, keyed by per-layer metric name. */
  private def layerMetrics(tracer: Tracer, run: Int, groups: Map[String, Totals],
                           t: TracedRun, untracedSecs: Double): Map[String, Double] = {
    val spans = tracer.ofRun(run)
    val self = tracer.selfSeconds(spans).groupBy(_._1.name).view.mapValues(_.map(_._2).sum).toMap
    val root = spans.filter(_.parent == -1).map(_.seconds).sum
    val perLayer = Layers.All.flatMap { l =>
      val g = groups.getOrElse(l, new Totals)
      Seq(
        s"$l.self_s" -> self.getOrElse(l, 0.0),
        s"$l.cpu_s" -> g.cpuNs / 1e9,
        s"$l.gc_s" -> g.gcMs / 1e3,
        s"$l.rows_out" -> t.rows.getOrElse(l, 0L).toDouble,
        s"$l.shuffle_write_mb" -> g.shuffleWriteBytes / 1e6,
        s"$l.shuffle_read_mb" -> g.shuffleReadBytes / 1e6,
        s"$l.spill_mb" -> g.spillBytes / 1e6,
        s"$l.tasks" -> g.tasks.toDouble,
        s"$l.task_skew" -> g.skew)
    }
    (perLayer ++ t.ratios :+ ("trace.overhead_ratio" -> root / untracedSecs) :+
      ("trace.total_self_s" -> self.values.sum)).toMap
  }

  private def selfTest(o: Opts): Int = {
    val spark = session(o)
    val wl = new JobWorkload(spark, o.input, o.work)
    wl.run()
    val good = wl.check()
    require(good.ok, s"untampered output rejected: ${good.problems.mkString("; ")}")

    val planted = Planted.read(o.input.resolve("planted.json").toString)
    val fast = Sinks.readTable(spark, o.work.resolve("out/fast").toString)
    val viafOut = Sinks.readTable(spark, o.work.resolve("out/viaf").toString)
    val viafIn = spark.read.parquet(o.input.resolve("viaf.parquet").toString)
    val firstId = fast.agg(min(col("_id"))).head().getInt(0)
    val withAlt = fast.where(size(col("altLabel")) > 0).agg(min(col("_id"))).head().getInt(0)
    val tampered = Seq(
      "one row dropped" -> fast.where(col("_id") =!= firstId),
      "one label changed" -> fast.withColumn("prefLabel",
        when(col("_id") === firstId, concat(col("prefLabel"), lit("!"))).otherwise(col("prefLabel"))),
      "one altLabel dropped" -> fast.withColumn("altLabel",
        when(col("_id") === withAlt, slice(col("altLabel"), 2, 1000)).otherwise(col("altLabel"))))
    // judged without a reference digest: the planted counts alone must
    // reject each, as they do when a different build wrote the table
    val results = tampered.map { case (what, df) =>
      val path = o.work.resolve("tampered").toString
      df.write.mode("overwrite").partitionBy("type").parquet(path)
      val v = Check.job(Sinks.readTable(spark, path), viafOut, viafIn, planted)
      System.err.println(s"[perfbench] self-test: $what -> " +
        (if (v.ok) "ACCEPTED" else s"rejected (${v.problems.mkString("; ")})"))
      !v.ok
    }
    val pass = results.forall(identity)
    println(s"""{"self_test": ${if (pass) "\"pass\"" else "\"fail\""}}""")
    if (pass) 0 else 1
  }
}

/** Names and units of the per-layer metrics, in the order they print. */
object PerLayer {
  private val perLayerUnits = Seq("self_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
    "rows_out" -> "count", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
    "spill_mb" -> "MB", "tasks" -> "count", "task_skew" -> "ratio")

  val names: Seq[(String, String)] =
    Layers.All.flatMap(l => perLayerUnits.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      s"${Layers.Project}.keep_ratio" -> "ratio",
      s"${Layers.Enrich}.hit_ratio" -> "ratio",
      s"${Layers.Viaf}.match_ratio" -> "ratio",
      s"${Layers.Merge}.touched_bucket_frac" -> "ratio",
      s"${Layers.Merge}.write_amp" -> "ratio",
      s"${Layers.WriteFast}.bytes_per_row" -> "B/row",
      "trace.overhead_ratio" -> "ratio")

  /** Each layer's median share of the traced self time, on stderr. */
  def printShares(runs: Seq[Map[String, Double]]): Unit = {
    val total = Stats.median(runs.map(_("trace.total_self_s")))
    val shares = Layers.All.map { l =>
      l -> Stats.median(runs.map(_.getOrElse(s"$l.self_s", 0.0))) / total
    }.filter(_._2 > 0).sortBy(-_._2)
    System.err.println("[perfbench] share of traced self time: " +
      shares.map { case (l, s) => f"$l=${s * 100}%.1f%%" }.mkString(" "))
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

package graft

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.TestBus
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.ingest.{FastIngest, Sinks}
import graft.queries.QueryHelpers.scratchDir
import graft.sources.NtReader

/** A commit protocol that fails the commit of every write to a path
  * ending in `/fast`; set as `spark.sql.sources.commitProtocolClass` to
  * make exactly the fast write of [[IngestJob.runAll]] fail.
  */
class FailFastCommit(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    if (path.endsWith("/fast")) throw new IOException("injected fast commit failure")
    else super.commitJob(job, taskCommits)
}

/** End-to-end job tests over real NT files on disk: term path (docs table)
  * and agent path (viaf update), one file at a time and as the full
  * 7-file [[IngestJob.runAll]], plus its pre-flight validation, its
  * all-or-nothing publish, its staging sweep and its job group.
  */
class IngestJobSpec extends SparkSpec {

  test("NT files on disk → fast table + viaf update, end to end") {
    val dir = scratchDir("graft_job").toString
    Files.writeString(Paths.get(s"$dir/FASTTopical.nt"),
      """<http://id.worldcat.org/fast/101> <http://www.w3.org/2004/02/skos/core#prefLabel> "Alpha Conference" .
        |<http://id.worldcat.org/fast/101> <http://schema.org/sameAs> <http://viaf.org/viaf/900> .
        |<http://id.worldcat.org/fast/102> <http://www.w3.org/2000/01/rdf-schema#label> "Beta Only Label" .
        |garbage line that should be dropped
        |<http://id.worldcat.org/fast/NaN> <http://www.w3.org/2004/02/skos/core#prefLabel> "Bad" .
        |<http://viaf.org/viaf/900> <http://www.w3.org/2000/01/rdf-schema#label> "Alpha External Alias" .
        |""".stripMargin)

    val fragments = FastIngest.project(NtReader.triplesTagged(spark, s"$dir/FASTTopical.nt"))
    val report = Sinks.writeFast(FastIngest.termDocs(fragments), s"$dir/fast")
    assert(report.rows === 2)

    val back = Sinks.readTable(spark, s"$dir/fast").collect()
      .map(r => r.getAs[Int]("_id") -> r).toMap
    assert(back(101).getAs[String]("prefLabel") === "Alpha Conference")
    assert(back(101).getAs[Seq[String]]("altLabel") === Seq("Alpha External Alias"))
    assert(back(102).getAs[String]("prefLabel") === "Beta Only Label") // rdfs fallback

    // agent path: update a viaf table keyed by the sameAs segment
    import spark.implicits._
    val viaf = Seq(("va", "900", "lcZ", null.asInstanceOf[Seq[Int]]))
      .toDF("_id", "viaf", "lcId", "fast")
    val updated = FastIngest.viafUpdate(FastIngest.agentOtherIds(fragments), viaf)
    Sinks.writeViaf(updated, s"$dir/viaf")
    val v = Sinks.readTable(spark, s"$dir/viaf").collect().head
    assert(v.getAs[Seq[Int]]("fast") === Seq(101))
  }

  private val pref = "http://www.w3.org/2004/02/skos/core#prefLabel"
  private val sameAs = "http://schema.org/sameAs"
  private val rdfs = "http://www.w3.org/2000/01/rdf-schema#label"

  private def fastLine(id: Int, pred: String, obj: String) =
    s"<http://id.worldcat.org/fast/$id> <$pred> $obj ."

  /** The 7-file FAST layout in a new temp directory: one term doc per term
    * file, two Event docs (one an agent), and one agent per agent file.
    */
  private def layout(prefix: String): String = {
    val dir = scratchDir(prefix).toString
    // term files: one doc each; doc 1's LC link is labelled only in an
    // agent file (Corporate, below)
    Files.writeString(Paths.get(s"$dir/FASTTopical.nt"),
      fastLine(1, pref, "\"Topical One\"") + "\n" +
      fastLine(1, sameAs, "<http://id.loc.gov/authorities/subjects/sh100>") + "\n")
    Files.writeString(Paths.get(s"$dir/FASTGeographic.nt"),
      fastLine(2, pref, "\"Geo Two\"") + "\n")
    Files.writeString(Paths.get(s"$dir/FASTChronological.nt"),
      fastLine(3, pref, "\"Chrono Three\"") + "\n")
    Files.writeString(Paths.get(s"$dir/FASTFormGenre.nt"),
      fastLine(4, pref, "\"Form Four\"") + "\n")
    // Event file: doc 5 carries a VIAF link (agent; P6 drops it from fast),
    // doc 6 is VIAF-less (kept in fast as type Event). Plus an external
    // label for doc 6's LC link to exercise enrichment across the split.
    Files.writeString(Paths.get(s"$dir/FASTEvent.nt"),
      fastLine(5, pref, "\"Event Five\"") + "\n" +
      fastLine(5, sameAs, "<http://viaf.org/viaf/500>") + "\n" +
      fastLine(6, pref, "\"Event Six\"") + "\n" +
      fastLine(6, sameAs, "<http://id.loc.gov/authorities/names/lc600>") + "\n" +
      s"<http://id.loc.gov/authorities/names/lc600> <$rdfs> \"Six Alias\" .\n")
    // agent-only files
    Files.writeString(Paths.get(s"$dir/FASTCorporate.nt"),
      fastLine(7, pref, "\"Corp Seven\"") + "\n" +
      fastLine(7, sameAs, "<http://id.loc.gov/authorities/names/lc700>") + "\n" +
      s"<http://id.loc.gov/authorities/subjects/sh100> <$rdfs> \"Topical Alias\" .\n")
    Files.writeString(Paths.get(s"$dir/FASTPersonal.nt"),
      fastLine(8, pref, "\"Person Eight\"") + "\n" +
      fastLine(8, sameAs, "<http://viaf.org/viaf/800>") + "\n")
    dir
  }

  private def viafTable: DataFrame = {
    import spark.implicits._
    Seq(
      ("vA", "500", "lcX", null.asInstanceOf[Seq[Int]]), // matches event agent 5 via viaf
      ("vB", "999", "lc700", Seq(42)),                   // matches corporate 7 via lcId
      ("vC", "800", "lc800", null.asInstanceOf[Seq[Int]]), // matches personal 8 via viaf
      ("vD", "111", "lc111", Seq(9))                     // untouched
    ).toDF("_id", "viaf", "lcId", "fast")
  }

  /** A table's rows as sorted strings, to compare two reads. */
  private def rowsOf(path: String): Seq[String] =
    Sinks.readTable(spark, path).collect().map(_.toString).toSeq.sorted

  /** Entries in the session's checkpoint directory. getCheckpointDir is a
    * file: URI whose UUID subdir is only created on first checkpoint — an
    * absent dir counts as zero entries.
    */
  private def ckptEntries: Long = spark.sparkContext.getCheckpointDir
    .map(u => Paths.get(java.net.URI.create(u).getPath))
    .filter(Files.isDirectory(_))
    .map(p => Files.list(p).count()).getOrElse(0L)

  /** What runAll must leave behind after any outcome: no staging
    * directory, no persisted RDD beyond `rdds0`, no live thread of its own.
    */
  private def assertNothingLeft(out: String, rdds0: Int): Unit = {
    val staging = Option(new java.io.File(out).list()).toSeq.flatten
      .filter(_.startsWith("_staging-"))
    assert(staging.isEmpty, s"staging left in $out")
    assert(spark.sparkContext.getPersistentRDDs.size === rdds0,
      s"runAll leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == IngestJob.ViafThreadName && t.isAlive))
  }

  /** `viaf` read back from parquet, as the job reads it, with a task that
    * fails when it reaches the row keyed `id`.
    */
  private def failingRow(viaf: DataFrame, id: String): DataFrame = {
    val path = scratchDir("graft_viaf_in").resolve("viaf").toString
    viaf.write.parquet(path)
    spark.read.parquet(path).withColumn("lcId",
      when(col("_id") === id, raise_error(lit("viaf row failed"))).otherwise(col("lcId")))
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

  test("runAll: 7-file layout -> fast + viaf in one invocation (agent/term split)") {
    val dir = layout("graft_job_all")
    val viaf = viafTable

    // A local session materializes the fragments as localCheckpoint rows
    // and releases them after both writes: no checkpoint files, no
    // persisted RDD and no cache survive the call.
    GraftSession.releaseAll(spark)
    val (ckpt0, rdds0) = (ckptEntries, spark.sparkContext.getPersistentRDDs.size)

    val report = IngestJob.runAll(spark, dir, s"$dir/out", Some(viaf))

    assert(ckptEntries === ckpt0, "runAll left checkpoint files behind")
    assertNothingLeft(s"$dir/out", rdds0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "runAll leaked CacheManager entries past the sink write")

    val fast = Sinks.readTable(spark, s"$dir/out/fast").collect()
      .map(r => r.getAs[Int]("_id") -> r).toMap
    // 4 term docs + the VIAF-less event; agent-only ids and the
    // VIAF-carrying event doc are NOT in fast
    assert(fast.keySet === Set(1, 2, 3, 4, 6))
    assert(report.fastRows === 5)
    assert(report.badRows === 0)
    assert(report.missingPref === 0)
    assert(fast(1).getAs[String]("type") === "Topical")
    assert(fast(2).getAs[String]("type") === "Geographic")
    assert(fast(3).getAs[String]("type") === "Chronological")
    assert(fast(4).getAs[String]("type") === "Form")
    assert(fast(6).getAs[String]("type") === "Event")
    // enrichment reached the kept event doc through its LC link
    assert(fast(6).getAs[Seq[String]]("altLabel") === Seq("Six Alias"))
    // ... and a term doc through a label that only an agent file carries
    assert(fast(1).getAs[Seq[String]]("altLabel") === Seq("Topical Alias"))

    val v = Sinks.readTable(spark, s"$dir/out/viaf").collect()
      .map(r => r.getAs[String]("_id") -> r.getAs[Seq[Int]]("fast")).toMap
    assert(v("vA") === Seq(5))       // event agent via viaf key
    assert(v("vB") === Seq(7, 42))   // corporate via lcId, array-unioned
    assert(v("vC") === Seq(8))       // personal via viaf key
    assert(v("vD") === Seq(9))       // untouched row unchanged
  }

  test("runAll: a missing FAST file fails pre-flight and writes nothing") {
    val dir = scratchDir("graft_job_missing").toString
    IngestJob.RequiredFiles.filterNot(_ == "FASTPersonal.nt").foreach { f =>
      Files.writeString(Paths.get(s"$dir/$f"),
        "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"One\" .\n")
    }
    val err = intercept[IllegalArgumentException] {
      IngestJob.runAll(spark, dir, s"$dir/out", None)
    }
    assert(err.getMessage.contains("FASTPersonal.nt"))
    assert(!Files.exists(Paths.get(s"$dir/out")), "pre-flight failure created output")

    // complete layout addressed by URI: pre-flight checks through the
    // Hadoop FileSystem, so a `file:` directory passes like a plain path
    Files.writeString(Paths.get(s"$dir/FASTPersonal.nt"),
      "<http://id.worldcat.org/fast/2> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Two\" .\n")
    val report = IngestJob.runAll(spark, s"file://$dir", s"$dir/out", None)
    assert(report.fastRows === 1) // fast/1 from the term files; Personal is agent-only
    assert(Files.exists(Paths.get(s"$dir/out/fast")))
  }

  test("runAll: a failed viaf write publishes neither table and keeps the previous ones") {
    val dir = layout("graft_job_viaf_fail")
    val out = s"$dir/out"
    IngestJob.runAll(spark, dir, out, Some(viafTable))
    val (fast0, viaf0) = (rowsOf(s"$out/fast"), rowsOf(s"$out/viaf"))
    GraftSession.releaseAll(spark)
    val rdds0 = spark.sparkContext.getPersistentRDDs.size

    // a changed input, so a published fast table would differ; one viaf
    // row fails its task in the middle of the viaf write
    Files.writeString(Paths.get(s"$dir/FASTGeographic.nt"),
      fastLine(2, pref, "\"Geo Renamed\"") + "\n")
    val err = intercept[Exception](IngestJob.runAll(spark, dir, out, Some(failingRow(viafTable, "vD"))))
    assert(messages(err).exists(_.contains("viaf row failed")), err)

    assert(rowsOf(s"$out/fast") === fast0)
    assert(rowsOf(s"$out/viaf") === viaf0)
    assertNothingLeft(out, rdds0)

    // the same inputs without the failing row publish both tables
    IngestJob.runAll(spark, dir, out, Some(viafTable))
    assert(rowsOf(s"$out/fast") !== fast0)
    assert(rowsOf(s"$out/viaf") === viaf0)
    assertNothingLeft(out, rdds0)
  }

  test("runAll: a failed fast write publishes neither table; a second failure is suppressed") {
    import spark.implicits._
    val dir = layout("graft_job_fast_fail")
    val out = s"$dir/out"
    IngestJob.runAll(spark, dir, out, Some(viafTable))
    val (fast0, viaf0) = (rowsOf(s"$out/fast"), rowsOf(s"$out/viaf"))
    GraftSession.releaseAll(spark)
    val rdds0 = spark.sparkContext.getPersistentRDDs.size

    // a viaf table with one more row, so a published viaf would differ
    val grown = viafTable.union(Seq(("vE", "222", "lc222", Seq(3))).toDF())
    val key = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(key, classOf[FailFastCommit].getName)
    try {
      val err = intercept[Exception](IngestJob.runAll(spark, dir, out, Some(grown)))
      assert(messages(err).exists(_.contains("injected fast commit failure")), err)
      assert(rowsOf(s"$out/fast") === fast0)
      assert(rowsOf(s"$out/viaf") === viaf0)
      assertNothingLeft(out, rdds0)

      // both writes fail: the first failure is thrown, the other is
      // attached to it as suppressed
      val both = intercept[Exception](IngestJob.runAll(spark, dir, out, Some(failingRow(grown, "vE"))))
      val (thrown, suppressed) = (messages(both), both.getSuppressed.toSeq.flatMap(messages))
      val (fastErr, viafErr) = ("injected fast commit failure", "viaf row failed")
      assert(thrown.exists(_.contains(fastErr)) && suppressed.exists(_.contains(viafErr)) ||
        thrown.exists(_.contains(viafErr)) && suppressed.exists(_.contains(fastErr)),
        s"thrown $thrown, suppressed $suppressed")
      assert(rowsOf(s"$out/fast") === fast0)
      assert(rowsOf(s"$out/viaf") === viaf0)
      assertNothingLeft(out, rdds0)
    } finally spark.conf.unset(key)
  }

  test("runAll: a staging directory left by a killed run is swept, nothing else is touched") {
    val dir = layout("graft_job_sweep")
    val out = Paths.get(s"$dir/out")
    val leftover = out.resolve("_staging-killed/fast/type=Topical")
    Files.createDirectories(leftover)
    Files.writeString(leftover.resolve("part-00000.parquet"), "partial")
    val other = out.resolve("other")
    Files.createDirectories(other)
    Files.writeString(other.resolve("keep.txt"), "keep")
    Files.writeString(out.resolve("README"), "notes")
    val mtimes = Seq(other, other.resolve("keep.txt"), out.resolve("README"))
      .map(p => p -> Files.getLastModifiedTime(p))

    IngestJob.runAll(spark, dir, out.toString, None)

    assert(Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet ===
      Set("fast", "other", "README"))
    assert(Files.readString(other.resolve("keep.txt")) === "keep")
    assert(Files.readString(out.resolve("README")) === "notes")
    mtimes.foreach { case (p, t) => assert(Files.getLastModifiedTime(p) === t, p) }
  }

  test("runAll: the caller's job group tags every job of both writes") {
    val dir = layout("graft_job_group")
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)] // (job group, SQL execution id)
    val writers = new ConcurrentHashMap[String, String]    // SQL execution id -> sink
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")) ->
          String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          Seq("writeFast", "writeViaf").find(s.details.contains)
            .foreach(w => writers.put(s.executionId.toString, w))
        case _ =>
      }
    }
    TestBus.drain(sc) // so the listener sees no earlier spec's events
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-runall-group", "runAll job group spec")
    try IngestJob.runAll(spark, dir, s"$dir/out", Some(viafTable))
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_._1 == "graft-runall-group"), seen)
    assert(seen.flatMap(j => Option(writers.get(j._2))).toSet === Set("writeFast", "writeViaf"),
      s"jobs $seen, writers $writers")
  }

  /** One SQL execution: its description (the call site, such as
    * `localCheckpoint at Iterate.scala:104`) and the node names of each
    * plan it reported (the first plan and every adaptive update).
    */
  private final case class Execution(description: String, nodes: Set[String]) {
    def scansText: Boolean = nodes.exists(_.startsWith("Scan text"))
  }

  /** Every SQL execution started while `run` runs. */
  private def executions(run: => Unit): Seq[Execution] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentHashMap[Long, Execution]
    def names(p: SparkPlanInfo): Set[String] = p.children.flatMap(names).toSet + p.nodeName
    def add(id: Long, e: Execution): Unit =
      seen.merge(id, e, (a, b) => Execution(a.description + b.description, a.nodes ++ b.nodes))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          add(s.executionId, Execution(s.description, names(s.sparkPlanInfo)))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          add(u.executionId, Execution("", names(u.sparkPlanInfo)))
        case _ =>
      }
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try run
    finally {
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.values.asScala.toSeq
  }

  test("runAll: fragments are read back as rows, and the NT text is scanned once") {
    val dir = layout("graft_job_plans")
    val execs = executions(IngestJob.runAll(spark, dir, s"$dir/out", Some(viafTable)))
    val columnar = execs.filter(_.nodes.contains("InMemoryTableScan"))
    assert(columnar.isEmpty, s"executions reading a columnar cache: $columnar")
    assert(execs.count(_.scansText) === 1, s"executions scanning the NT text: $execs")
    assert(execs.filter(_.scansText).forall(_.description.startsWith("localCheckpoint")), execs)
  }

  test("runAll on the cluster path: checkpointed fragments are released, also after a failed write") {
    val dir = layout("graft_job_cluster")
    val out = s"$dir/out"
    val key = "spark.graft.iterate.localCheckpoint"
    GraftSession.releaseAll(spark)
    val (ckpt0, rdds0) = (ckptEntries, spark.sparkContext.getPersistentRDDs.size)
    spark.conf.set(key, "false")
    try {
      val execs = executions(IngestJob.runAll(spark, dir, out, Some(viafTable)))
      // one reliable checkpoint scans the text; the writes read its files
      assert(execs.count(_.scansText) === 1, execs)
      assert(execs.filter(_.scansText).forall(_.description.startsWith("checkpoint")), execs)
      assert(Sinks.readTable(spark, s"$out/fast").count() === 5)
      assert(ckptEntries === ckpt0, "runAll left checkpoint files behind")
      assertNothingLeft(out, rdds0)

      val err = intercept[Exception](IngestJob.runAll(spark, dir, out, Some(failingRow(viafTable, "vD"))))
      assert(messages(err).exists(_.contains("viaf row failed")), err)
      assert(ckptEntries === ckpt0, "a failed runAll left checkpoint files behind")
      assertNothingLeft(out, rdds0)
    } finally spark.conf.unset(key)
  }
}

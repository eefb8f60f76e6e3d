package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.{FastIngest, Sinks}
import graft.ops.Iterate
import graft.sources.NtReader

/** End-to-end ingest job — the engine's equivalent of the reference's
  * master entry point (`lib/ingest.js:26-95`): read the 7 FAST NT files,
  * build the `fast` table, update the `viaf` table, write both.
  *
  * Usage: IngestJob all <ntDir> <outDir> [viafParquet]   (see [[runAll]])
  */
object IngestJob {

  /** The reference's fixed work list (`lib/ingest.js:58`): 7 physical files
    * (FASTTitle deliberately excluded, `lib/ingest.js:49-50,57`) plus the
    * virtual `FASTTermEvent` second pass over FASTEvent (`lib/ingest.js:197`).
    */
  val RequiredFiles: Seq[String] = Seq(
    "FASTChronological.nt", "FASTCorporate.nt", "FASTEvent.nt",
    "FASTFormGenre.nt", "FASTGeographic.nt", "FASTPersonal.nt",
    "FASTTopical.nt")

  private val AgentTypes = Seq("Corporate", "Event", "Personal")

  /** `badRows`: docs the `fast IS NOT NULL` guard dropped at the sink;
    * `missingPref`: written docs with no prefLabel.
    */
  final case class RunReport(fastRows: Long, viafRows: Long, badRows: Long,
                             missingPref: Long)

  /** One-command multi-file ingest, replacing the reference's 8 worker
    * forks with branches over ONE materialized parse:
    *
    *  - pre-flight validation of the 7 FAST files (`fs.statSync` twin,
    *    `lib/ingest.js:43-51`);
    *  - every file is parsed/projected once, tagged with its doc type from
    *    the filename (P7), and the fragments are materialized as rows by
    *    [[Iterate.materialize]] before either path reads them: a local
    *    session keeps them as a `localCheckpoint` (rows in executor
    *    storage, no column encoding), a cluster session as a reliable
    *    checkpoint (files that survive executor loss). The Event file
    *    feeds BOTH paths from the same fragments — the virtual
    *    `FASTTermEvent` pass (`lib/ingest.js:197,298-303`) without a
    *    second read;
    *  - term path: [[FastIngest.termDocs]] — term-file + Event fragments
    *    probe all files' external rdfs:label rows (broadcast) for their
    *    sameAs links, then ONE shuffle groups them into docs (cross-file
    *    duplicate ids merge, type = max over contributing files, matched
    *    labels merge into altLabel/normalized), then the P6 skipViaf
    *    filter;
    *  - agent path: Corporate/Event/Personal fragments → otherId
    *    extraction (P4) → disjunctive VIAF lookup-update (J2/K4).
    *
    * The two writes run at once: `viaf` on a thread started for this call
    * (so it inherits the caller's Spark local properties, such as the job
    * group), `fast` on the caller's thread. The viaf path's one-task
    * stages would otherwise leave the other cores idle. Both write into
    * `$outDir/_staging-<uuid>/`; only when both succeed are they published
    * to `$outDir/fast` and (when `viaf` is given) `$outDir/viaf` by
    * [[Sinks.publish]]. If either write fails, this waits for the other,
    * deletes the staging directory and rethrows the first failure with any
    * second one suppressed; the previous tables stay as they were. The
    * materialized fragments are released only after both writes end.
    *
    * A `_staging-*` directory left by a killed run is deleted at the start
    * of the next one; like [[Sinks.mergeInto]], this assumes one writer per
    * `outDir`. The window that remains is the JVM dying between the
    * publish renames: `outDir` can then hold one new table and one old
    * one, or lack a table whose previous version sits in the staging
    * directory until the next run sweeps it.
    */
  def runAll(spark: SparkSession, ntDir: String, outDir: String,
             viaf: Option[DataFrame]): RunReport = {
    // through the Hadoop FileSystem, so `file:`/`hdfs://` directories pass
    // exactly when Spark can read them
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = RequiredFiles.filterNot { f =>
      val p = new Path(ntDir, f)
      val fs = p.getFileSystem(conf)
      fs.exists(p) && fs.getFileStatus(p).isFile
    }
    require(missing.isEmpty, s"missing FAST files in $ntDir: ${missing.mkString(", ")}")

    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    if (fs.exists(out))
      fs.listStatus(out).filter(_.getPath.getName.startsWith(StagingPrefix))
        .foreach(st => fs.delete(st.getPath, true))
    val staging = new Path(out, StagingPrefix + UUID.randomUUID())

    // failures in the order they happened, from either thread
    val errors = new ConcurrentLinkedQueue[Throwable]
    def attempt[A](write: => A): Option[A] =
      try Some(write) catch { case e: Throwable => errors.add(e); None }

    val materialized = Iterate.materialize(FastIngest
      .project(NtReader.triplesTagged(spark, RequiredFiles.map(f => s"$ntDir/$f"): _*)))
    val fragments = materialized.df
    try {
      // agent path — viafUpdate is lazy, so the sink write is the ONLY
      // materialization of the updated table (no pre-write checkpoint)
      val viafWrite = viaf.map { v =>
        val agentFrags = fragments.where(col("doc_type").isin(AgentTypes: _*))
        val updated = FastIngest.viafUpdate(FastIngest.agentOtherIds(agentFrags), v)
        val task = new FutureTask(() => attempt(Sinks.writeViaf(updated, s"$staging/viaf")))
        val thread = new Thread(task, ViafThreadName)
        thread.start()
        (thread, task)
      }
      val fastReport = attempt(Sinks.writeFast(FastIngest.termDocs(fragments), s"$staging/fast"))
      val viafReport = viafWrite.flatMap { case (thread, task) => thread.join(); task.get() }
      errors.asScala.toList match {
        case first :: rest => rest.foreach(first.addSuppressed); throw first
        case Nil =>
      }
      Sinks.publish(spark, staging.toString, outDir, "fast" +: viafReport.map(_ => "viaf").toSeq)
      val fast = fastReport.get
      RunReport(fast.rows, viafReport.map(_.rows).getOrElse(0L), fast.badRows, fast.missingPref)
    } finally {
      materialized.release()
      fs.delete(staging, true)
    }
  }

  private val StagingPrefix = "_staging-"

  /** Name of the thread [[runAll]] starts for the viaf write. */
  private[graft] val ViafThreadName = "IngestJob.runAll-viaf"

  def main(args: Array[String]): Unit = {
    if (args.length < 3 || args.length > 4 || args(0) != "all") {
      System.err.println("usage: IngestJob all <ntDir> <outDir> [viafParquet]")
      sys.exit(2)
    }
    val (ntDir, outDir) = (args(1), args(2))
    val spark = GraftSession.local("graft-ingest")
    val viaf = args.lift(3).map(spark.read.parquet(_))
    val report = runAll(spark, ntDir, outDir, viaf)
    println(s"FAST_ROWS=${report.fastRows} BAD_ROWS=${report.badRows} " +
      s"MISSING_PREF=${report.missingPref} VIAF_ROWS=${report.viafRows} OUT=$outDir")
    spark.stop()
  }
}

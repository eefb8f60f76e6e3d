package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.{FastIngest, Sinks}
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
    * forks with branches over ONE cached parse:
    *
    *  - pre-flight validation of the 7 FAST files (`fs.statSync` twin,
    *    `lib/ingest.js:43-51`);
    *  - every file is parsed/projected once, tagged with its doc type from
    *    the filename (P7); the Event file feeds BOTH paths from the same
    *    cached fragments — the virtual `FASTTermEvent` pass
    *    (`lib/ingest.js:197,298-303`) without a second read;
    *  - term path: [[FastIngest.termDocs]] — term-file + Event fragments →
    *    grouped docs (cross-file duplicate ids merge, type = max over
    *    contributing files), P6 skipViaf filter, enrichment from all
    *    files' external rdfs:label rows;
    *  - agent path: Corporate/Event/Personal fragments → otherId
    *    extraction (P4) → disjunctive VIAF lookup-update (J2/K4).
    *
    * Writes `$outDir/fast` and (when `viaf` is given) `$outDir/viaf`.
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

    val fragments = FastIngest
      .project(NtReader.triplesTagged(spark, RequiredFiles.map(f => s"$ntDir/$f"): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fastReport = Sinks.writeFast(FastIngest.termDocs(fragments), s"$outDir/fast")

      // agent path — viafUpdate is lazy, so the sink write below is the
      // ONLY materialization of the updated table (no pre-write checkpoint)
      val viafRows = viaf.map { v =>
        val agentFrags = fragments.where(col("doc_type").isin(AgentTypes: _*))
        val updated = FastIngest.viafUpdate(FastIngest.agentOtherIds(agentFrags), v)
        Sinks.writeViaf(updated, s"$outDir/viaf").rows
      }.getOrElse(0L)
      RunReport(fastReport.rows, viafRows, fastReport.badRows, fastReport.missingPref)
    } finally {
      fragments.unpersist()
    }
  }

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

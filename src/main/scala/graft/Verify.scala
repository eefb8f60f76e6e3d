package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these queries (fast local iteration);
    // oracle_sql.json is always written in full
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
      }
      // per-query persisted data must not accumulate across 50+ queries
      // (RDD-level blocks from localCheckpoint rounds included)
      GraftSession.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted keys: two trees' dumps compare byte for byte
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // A query that fails to run must be a LOUD gate failure, not a
    // silently-absent output dir — round 6's correctness record quietly
    // shrank by 14 queries because failures only went to stderr. The
    // summary line + non-zero exit make a narrowed record
    // machine-detectable (after oracle_sql.json is written, so the
    // remaining queries stay adjudicable).
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FAILED ${failed.size} queries: ${failed.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}

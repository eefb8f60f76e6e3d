package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** Driver-contract invariants — catches drift that would silently weaken
  * the correctness gate.
  */
class ContractSpec extends AnyFunSuite with SparkSpec {

  // `oracle` is a required field, so a query cannot be registered without
  // one; a blank string would still slip through and silently weaken the
  // gate to rows-only.
  test("every query has a DuckDB oracle (or a justified rows-only entry)") {
    val blank = SparkEntry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle (rows-only downgrade!): $blank")
  }

  test("every bench headline name is a real query") {
    // a renamed/removed query must fail here, not silently vanish from
    // the driver-visible bench line
    val orphans = Bench.headline -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"headline names without a query: $orphans")
  }

  // A duplicate name in the registry would vanish silently into the
  // name-keyed views: one of the two queries (and its oracle) would never run.
  test("no orphan oracles") {
    val dups = SparkEntry.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"query names registered more than once: $dups")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every oracle ends with a deterministic ORDER BY") {
    val bad = SparkEntry.all.filterNot(_.oracle.toUpperCase.contains("ORDER BY")).map(_.name)
    assert(bad.isEmpty, s"oracles without ORDER BY (positional compare!): $bad")
  }

  // Scale guard: a CartesianProduct in any query's physical plan means a
  // join degenerated to non-broadcast all-pairs — the one shape that
  // cannot survive 100 TB. (Broadcast nested-loop against a provably
  // small side — ANN query vectors, single-row totals — is allowed and
  // appears as BroadcastNestedLoopJoin, not CartesianProduct.)
  test("no CartesianProduct in any query's physical plan") {
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.all.flatMap { case Query(name, q, _, _) =>
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(bad.isEmpty, s"queries with a non-broadcast all-pairs join: $bad")
  }

  // Scale guard #2: build EVERY query with the GlobalWindowCheck
  // guardrail armed — no query may put a window with an empty
  // PARTITION BY over raw (un-aggregated) data, the single-task shape
  // that dies at 100 TB. Post-aggregation global windows (vocab ranking
  // over the aggregated term table, the offset table inside
  // globalRowNumber) are exempt by the rule itself. Eager queries
  // (checkpointed iteration) execute here, which is the point: the
  // check rule runs on every intermediate frame they analyze too.
  test("no raw-data global window in any query (GlobalWindowCheck armed)") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.forbidGlobalWindows", "true")
    try {
      val bad = SparkEntry.all.flatMap { case Query(name, q, _, _) =>
        try { q(spark, dir).queryExecution.analyzed; None }
        catch {
          case e: Throwable
            if Option(e.getMessage).exists(_.contains("Global window")) ||
              Option(e.getCause).flatMap(c => Option(c.getMessage))
                .exists(_.contains("Global window")) => Some(name)
        }
      }
      assert(bad.isEmpty, s"queries with a raw-data global window: $bad")
    } finally spark.conf.unset("spark.graft.forbidGlobalWindows")
  }

  // Scale guard #3: the phantom partition-id exchange (r14 — a ranking
  // window partitioned by spark_partition_id() silently hash-exchanges
  // the whole table because the checkpoint's clustering is unprovable;
  // it cost the old SA ranking and globalRowNumber one full shuffle per
  // consumer). Ordered-frame aggregates and lag/lead over pid windows
  // are exempt by the rule itself — they have no expression-only form.
  test("no ranking window over spark_partition_id in any query (PartitionIdWindowCheck armed)") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.forbidPartitionIdWindows", "true")
    try {
      val bad = SparkEntry.all.flatMap { case Query(name, q, _, _) =>
        try { q(spark, dir).queryExecution.analyzed; None }
        catch {
          case e: Throwable
            if Option(e.getMessage).exists(_.contains("spark_partition_id")) ||
              Option(e.getCause).flatMap(c => Option(c.getMessage))
                .exists(_.contains("spark_partition_id")) => Some(name)
        }
      }
      assert(bad.isEmpty, s"queries ranking over a partition-id window: $bad")
    } finally spark.conf.unset("spark.graft.forbidPartitionIdWindows")
  }

  // The driver's checker canonicalizes rows in pandas, which cannot sort
  // ndarray/dict cells — any ARRAY/STRUCT/MAP column in a query's output
  // schema makes that query un-adjudicable (CORRECTNESS_r01 regression).
  // Serialize with to_json in the verification projection instead.
  test("no top-level ARRAY/STRUCT/MAP in any query output schema") {
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.all.flatMap { case Query(name, q, _, _) =>
      val complexCols = q(spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[StructType] ||
          f.dataType.isInstanceOf[MapType] => f.name
      }
      if (complexCols.isEmpty) None else Some(s"$name(${complexCols.mkString(",")})")
    }
    assert(bad.isEmpty, s"queries with pandas-unsortable output columns: $bad")
  }

  // A main the README does not name is a one-off nobody will find again:
  // every runnable object must be listed there (or deleted).
  test("every main under src/main/scala/graft is named in README.md") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val mains = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).toSeq
        """\bdef\s+main\s*\(""".r.findAllMatchIn(src).flatMap(m =>
          objects.takeWhile(_.start < m.start).lastOption.map(_.group(1)))
      }.toSet
    assert(mains.contains("IngestJob"), s"main scan found only: $mains")
    val readme = Files.readString(Paths.get("README.md"))
    val undocumented = mains.filterNot(m => s"\\b$m\\b".r.findFirstIn(readme).isDefined)
    assert(undocumented.isEmpty,
      s"mains missing from README.md: ${undocumented.toSeq.sorted.mkString(", ")}")
  }

  // One file per query family keeps each family reviewable on its own; a
  // family that outgrows the bound splits in two (relational and TPC-H).
  test("no file under src/main/scala is over 1,500 lines") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val long = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).size)
      .collect { case (p, n) if n > 1500 => s"$p ($n lines)" }.toSeq.sorted
    assert(long.isEmpty, s"main-source files over 1,500 lines: ${long.mkString(", ")}")
  }

  // Every driver-local endgame decides through LocalEndgame against one
  // byte bound: a per-op bound parameter or a hand-written blind
  // `limit(n).collect()` anywhere else in ops/ is a second policy.
  test("driver-local endgames decide only through LocalEndgame") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/ops")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val param = """\blocal(?:Bound|Threshold|SolveLimit|RowBound)\s*:""".r
    val blind = """\.limit\((?:[^()]|\([^()]*\))*\)\s*\.collect\(\)""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "LocalEndgame.scala")
      .flatMap { p =>
        val src = Files.readString(p)
        (param.findAllMatchIn(src) ++ blind.findAllMatchIn(src)).map(m =>
          s"${p.getFileName}:${src.take(m.start).count(_ == '\n') + 1} ${m.matched}")
      }.toSeq.sorted
    assert(offenders.isEmpty, s"endgame logic outside LocalEndgame: ${offenders.mkString("; ")}")
  }

  // mergeBatch reads its stored side only through Sinks.readBuckets, over
  // the touched bucket directories it listed itself: a session read of the
  // table path would bring back the whole-table listing job.
  test("StreamingIngest reads the stored table only through Sinks.readBuckets") {
    import java.nio.file.{Files, Paths}
    val p = Paths.get("src/main/scala/graft/streaming/StreamingIngest.scala")
    assert(Files.isRegularFile(p), s"no source at ${p.toAbsolutePath}")
    val src = Files.readString(p)
    val reads = """\.read\b""".r.findAllMatchIn(src)
      .map(m => s"line ${src.take(m.start).count(_ == '\n') + 1}").toSeq
    assert(reads.isEmpty, s"session reads in StreamingIngest.scala: ${reads.mkString(", ")}")
    assert(src.contains("Sinks.readBuckets("), "StreamingIngest no longer reads through readBuckets")
  }

  // A query's or a spec's temp directory outlives the run unless something
  // deletes it: every one goes through QueryHelpers.scratchDir, which does
  // at JVM exit.
  private def tempPathOffenders(root: java.nio.file.Path): Seq[String] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val temp = """\bcreateTemp(?:Directory|File)\b""".r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        val helper = """(?s)def scratchDir\(.*?\n  }\n""".r.findFirstMatchIn(src)
          .filter(_ => p.getFileName.toString == "QueryHelpers.scala")
        temp.findAllMatchIn(src)
          .filterNot(m => helper.exists(h => h.start <= m.start && m.end <= h.end))
          .map(m => s"${p.getFileName}:${src.take(m.start).count(_ == '\n') + 1}")
      }.toSeq.sorted
  }

  test("queries make temp paths only through QueryHelpers.scratchDir") {
    val offenders = tempPathOffenders(java.nio.file.Paths.get("src/main/scala/graft/queries"))
    assert(offenders.isEmpty,
      s"temp paths made outside QueryHelpers.scratchDir: ${offenders.mkString(", ")}")
  }

  test("specs make temp paths only through QueryHelpers.scratchDir") {
    val offenders = tempPathOffenders(java.nio.file.Paths.get("src/test"))
    assert(offenders.isEmpty,
      s"spec temp paths made outside QueryHelpers.scratchDir: ${offenders.mkString(", ")}")
  }
}

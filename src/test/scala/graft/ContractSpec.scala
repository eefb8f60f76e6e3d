package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants — catches drift that would silently weaken
  * the correctness gate.
  */
class ContractSpec extends AnyFunSuite with SparkSpec {

  /** Queries whose semantics one SQL statement cannot express. EMPTY as
    * of round 6 — even bpe_merges' sequential merge recurrence unrolls
    * into 10 chained CTE stages (recursive CTEs can't re-aggregate per
    * step, but a FIXED merge count needs no recursion). Additions here
    * need a written justification in the query's scaladoc plus a golden
    * spec, or they silently weaken the gate.
    */
  private val rowsOnlyByDesign = Set.empty[String]

  test("every query has a DuckDB oracle (or a justified rows-only entry)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyByDesign
    assert(missing.isEmpty, s"queries without oracle (rows-only downgrade!): $missing")
    val stale = rowsOnlyByDesign -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows-only allowlist entries with no query: $stale")
  }

  test("every bench headline name is a real query") {
    // a renamed/removed query must fail here, not silently vanish from
    // the driver-visible bench line
    val orphans = Bench.headline -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"headline names without a query: $orphans")
  }

  test("no orphan oracles") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("every oracle ends with a deterministic ORDER BY") {
    val bad = SparkEntry.oracleSql.filterNot(_._2.toUpperCase.contains("ORDER BY"))
    assert(bad.isEmpty, s"oracles without ORDER BY (positional compare!): ${bad.keySet}")
  }

  // Scale guard: a CartesianProduct in any query's physical plan means a
  // join degenerated to non-broadcast all-pairs — the one shape that
  // cannot survive 100 TB. (Broadcast nested-loop against a provably
  // small side — ANN query vectors, single-row totals — is allowed and
  // appears as BroadcastNestedLoopJoin, not CartesianProduct.)
  test("no CartesianProduct in any query's physical plan") {
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.flatMap { case (name, q) =>
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
      val bad = SparkEntry.queries.flatMap { case (name, q) =>
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
      val bad = SparkEntry.queries.flatMap { case (name, q) =>
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
    val bad = SparkEntry.queries.flatMap { case (name, q) =>
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
}

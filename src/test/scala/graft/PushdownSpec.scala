package graft

import org.apache.spark.sql.functions._

import graft.queries.QueryHelpers.scratchDir

/** Plan contracts for the parquet scan path: predicates must reach the
  * scan (`PushedFilters`) and the scan must read ONLY the referenced
  * columns (`ReadSchema`) — a scan reading 11 lineitem columns for a
  * 2-column projection is wrong at any scale (the briefing's exact
  * criterion). Asserting on the executed plan keeps a Catalyst upgrade
  * or a careless refactor from silently un-pushing the scan.
  */
class PushdownSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val plan = planOf(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_quantity")))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,45.0)"),
      s"quantity predicate not pushed:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan reads more than the 2 projected columns: $readSchema")
  }

  test("column pruning survives joins and aggregation") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val plan = planOf(
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n")))
    // orders contributes only its join key; customer only key + segment
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!schemas.contains("o_totalprice") && !schemas.contains("o_orderdate"),
      s"orders scan not pruned to the join key:\n$schemas")
    assert(!schemas.contains("c_name") && !schemas.contains("c_acctbal"),
      s"customer scan not pruned:\n$schemas")
  }

  test("partition predicate prunes directories, not rows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = scratchDir("graft_prune_spec").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    val plan = planOf(spark.read.parquet(path).where(col("lang") === "en"))
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang predicate did not become a partition filter:\n$plan")
    // a pruned partition filter never appears as a pushed data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      s"partition column leaked into data filters:\n$plan")
  }

  test("IsNotNull implied by an inner join key is pushed to the scan") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val plan = planOf(o.join(c, col("o_custkey") === col("c_custkey")))
    assert(plan.contains("IsNotNull(o_custkey)") || plan.contains("IsNotNull(c_custkey)"),
      s"join-key null filter not pushed:\n$plan")
  }

  test("parquet aggregate pushdown answers count/min/max from footer stats (DSv2)") {
    // The 100 TB profiling lever: an unfiltered COUNT/MIN/MAX over a
    // parquet table is answerable from row-group footer statistics alone
    // — zero data pages read. Needs the DSv2 parquet path (the default
    // v1 FileSourceStrategy has no aggregate pushdown rule), so both
    // flags are scoped to this test and restored.
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"),
          max("o_orderkey").as("hi"))
      val plan = planOf(agg)
      assert(plan.contains("PushedAggregation") && plan.contains("COUNT(*)") &&
        plan.contains("MIN(o_orderkey)") && plan.contains("MAX(o_orderkey)"),
        s"aggregate not pushed into the parquet scan:\n$plan")
      val r = agg.collect().head
      assert(r.getLong(0) > 0)
      // pushed answer must equal the data-page answer
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      val full = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey")).collect().head
      assert(r === full, s"pushed=$r footer-less=$full")
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.queries.QueryHelpers.scratchDir

/** Runtime-optimizer proofs beyond SkewJoinSpec: the two remaining
  * adaptive behaviors the 100 TB contract leans on must actually fire,
  * not just be enabled in GraftSession.
  *
  *  - Runtime bloom-filter injection (InjectRuntimeFilter): a selective
  *    dimension filter becomes a bloom probe on the fact side BEFORE its
  *    shuffle — the semi-join reduction that cuts exchange volume when
  *    the dim predicate is selective but not partition-aligned.
  *  - AQE join downgrade: a join planned sort-merge on size ESTIMATES
  *    re-plans to broadcast at runtime when the built side's actual
  *    shuffle stats come in under the threshold — the "estimates lie at
  *    scale, runtime stats don't" safety net.
  */
class AdaptiveSpec extends SparkSpec {
  import spark.implicits._

  test("runtime bloom filter is injected on the fact side of a selective join") {
    val tuned = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // keep the join a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // toy sizes must qualify: no creation-size floor, tiny threshold
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = scratchDir("graft_rbf").toString
      (1 to 50000).map(i => (i.toLong, s"payload-$i"))
        .toDF("k", "v").write.parquet(s"$dir/fact")
      (1 to 2000).map(i => (i.toLong, i % 7)).toDF("k", "tag")
        .write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").where(col("tag") === 3) // selective
      val j = fact.join(dim, "k")
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n${plan.take(3000)}")
      // and it actually runs
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE downgrades a sort-merge join to broadcast on runtime stats") {
    val tuned = Map(
      // planner must NOT broadcast on estimates...
      "spark.sql.autoBroadcastJoinThreshold" -> "1b",
      // ...but AQE may, once the real shuffle size is known
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB",
      "spark.sql.adaptive.localShuffleReader.enabled" -> "true")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = scratchDir("graft_aqebhj").toString
      (1 to 50000).map(i => (i.toLong, s"payload-$i")).toDF("k", "v")
        .write.parquet(s"$dir/fact")
      (1 to 200).map(i => (i.toLong, s"d$i")).toDF("k", "w")
        .write.parquet(s"$dir/dim")
      val j = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), "k")
      val n = j.queryExecution.toRdd.count()
      assert(n === 200L)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"AQE did not downgrade to broadcast:\n${finalPlan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

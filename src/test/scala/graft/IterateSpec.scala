package graft

import java.io.FileNotFoundException

import org.apache.spark.sql.functions.{col, udf}

import graft.ops.Iterate

/** [[Iterate.materialize]]'s release contract on the reliable checkpoint
  * path, where `release()` deletes the checkpoint files.
  */
class IterateSpec extends SparkSpec {

  test("a consumer stage run after Materialized.release fails with FileNotFoundException and does not recompute") {
    val evals = spark.sparkContext.longAccumulator("iterate_source_evals")
    val counted = udf { (i: Long) => evals.add(1); i }.asNondeterministic()
    val key = "spark.graft.iterate.localCheckpoint"
    spark.conf.set(key, "false")
    try {
      val m = Iterate.materialize(spark.range(0, 100, 1, 4).select(counted(col("id")).as("id")))
      val consumer = m.df.select((col("id") + 1).as("next"))
      assert(consumer.collect().length === 100)
      val evaluated = evals.value
      m.release()
      val err = intercept[Exception](consumer.collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[FileNotFoundException]), err)
      assert(evals.value === evaluated, "the released frame was recomputed from its lineage")
    } finally spark.conf.unset(key)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.ingest.FastIngest

/** Streaming variant of the ingest job: watch a directory for NT files,
  * parse/project incrementally, and merge each micro-batch into the
  * persisted `fast` table via `foreachBatch` — the in-sandbox
  * approximation of MERGE INTO on a table format.
  *
  * The table is stored hash-bucketed on `_id` (`_bucket` partition
  * column): the bucket is a pure function of the merge key, so a doc
  * never moves between partitions, and a micro-batch therefore touches
  * only the buckets its `_id`s hash into. The merge reads just those
  * partitions (semi-join on the bucket key — dynamic partition pruning
  * keeps the scan partition-bounded) and writes them back under
  * `partitionOverwriteMode=dynamic`, leaving every untouched partition's
  * files byte-identical. Rows read, shuffled and written per batch are
  * O(batch + touched partitions), not O(table).
  *
  * The merge is bucket-aligned: its one shuffle is keyed on `_bucket`
  * with an explicit partition count, so AQE does not coalesce it into a
  * single task, and each task merges, materializes and writes whole
  * buckets, one file per bucket, on all cores at once. Two per-batch
  * costs remain: `spark.read.parquet(tablePath)` lists every bucket
  * directory, and with 64 buckets, above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32), each
  * [[mergeBatch]] launches a 64-task listing job (384-436 ms of a
  * 1.8-3.0 s batch of 100 docs merged into an 8,000-doc table, 4 cores);
  * and the batch's docs are evaluated twice, once for the touched-bucket
  * broadcast and once for the union.
  *
  * The per-id aggregation runs inside the batch; cross-batch duplicates
  * are resolved by the same deterministic merge the batch job uses, so
  * arrivals in any file order converge to the same table.
  */
object StreamingIngest {

  /** Bucket count for the stored table layout. At deploy scale pick
    * ~table_size / target_partition_size; the rewrite cost scales with
    * touched buckets, so more buckets = finer-grained rewrites, while the
    * per-batch directory listing scales with all of them.
    */
  val DefaultBuckets = 64

  /** Merge a batch of enriched docs into the stored fast table.
    *
    * The stored table carries the MergeBuf bookkeeping columns
    * (`_bestRich`/`_bestType`/`_bestPref`/`_fillPref`) alongside the
    * finished doc: type/prefLabel selection always compares the richness
    * of the best ORIGINAL contributor, exactly like the batch
    * [[graft.ingest.MergeFastDocs]] Aggregator. Recomputing richness from
    * the stored *merged* doc would inflate early winners via their unioned
    * arrays and make the outcome arrival-order dependent.
    */
  def mergeBatch(spark: SparkSession, docs: DataFrame, tablePath: String): Unit = {
    val bucket = pmod(xxhash64(col("_id")), lit(DefaultBuckets.toLong)).cast("int")
    val incoming = docs.select(col("*"),
        richnessLen.as("_bestRich"), col("type").as("_bestType"),
        col("prefLabel").as("_bestPref"), col("prefLabel").as("_fillPref"))
      .withColumn("_bucket", bucket)
    // existence probe, not a catch-around-the-read: catching the
    // PATH_NOT_FOUND AnalysisException (a) masked genuinely corrupt
    // tables as "new" and (b) left a failed query execution on the async
    // ExecutionListenerBus, which logged an ERROR per pre-first-commit
    // micro-batch — noise that would page an on-call. A read error on an
    // EXISTING path now propagates loudly.
    val existing = {
      val p = new org.apache.hadoop.fs.Path(tablePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spark.read.parquet(tablePath)) else None
    }
    val unioned = existing match {
      case Some(prev) =>
        // only the stored partitions this batch's ids hash into
        // participate in the merge — the semi-join on the partition
        // column lets dynamic partition pruning skip the rest of the scan
        // (the files are pruned; the listing above still covers every
        // bucket). `incoming` is evaluated here and again in the union.
        val touched = incoming.select("_bucket").distinct()
        prev.join(broadcast(touched), Seq("_bucket"), "left_semi")
          .unionByName(incoming)
      case None => incoming
    }
    // same total order as MergeFastDocs.keyOrd: (richness, type, prefLabel)
    // of the best original, nulls low
    val ord = struct(col("_bestRich"),
      coalesce(col("_bestType"), lit("")), coalesce(col("_bestPref"), lit("")))
    // the merge's only shuffle, keyed on the bucket: `_bucket` is a pure
    // function of `_id`, so grouping on both groups exactly as on `_id`,
    // and hash partitioning on `_bucket` already satisfies the aggregate,
    // so no second exchange is planned. The explicit count keeps AQE from
    // coalescing the exchange into one task; every task then merges and
    // writes whole buckets. The shuffle carries the union's rows, not
    // partial aggregation buffers.
    val tasks = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, DefaultBuckets)
    val merged = unioned
      .repartition(tasks, col("_bucket"))
      .groupBy("_bucket", "_id")
      .agg(
        max_by(struct(col("fast"), col("_bestRich"), col("_bestType"),
          col("_bestPref")), ord).as("_best"),
        min(col("_fillPref")).as("_fillPref"),
        sort_array(array_distinct(flatten(collect_list(col("altLabel"))))).as("altLabel"),
        sort_array(array_distinct(flatten(collect_list(col("sameAsLc"))))).as("sameAsLc"),
        sort_array(array_distinct(flatten(collect_list(col("sameAsViaf"))))).as("sameAsViaf"),
        sort_array(array_distinct(flatten(collect_list(col("normalized"))))).as("normalized"))
      .select(col("_id"), col("_best.fast").as("fast"),
        col("_best._bestType").as("type"),
        coalesce(col("_best._bestPref"), col("_fillPref")).as("prefLabel"),
        col("altLabel"), col("sameAsLc"), col("sameAsViaf"), col("normalized"),
        col("_best._bestRich").as("_bestRich"),
        col("_best._bestType").as("_bestType"),
        col("_best._bestPref").as("_bestPref"),
        col("_fillPref"), col("_bucket"))
    // overwrite must not read from its own output mid-write → materialize
    // fully first (reliable checkpoint when a dir is set, else cache).
    // The materialized frame keeps the shuffle's partitions, so each write
    // task holds whole buckets and writes one file per bucket.
    // Dynamic overwrite replaces ONLY the partitions present in the
    // written data (= the touched buckets); untouched partitions' files
    // are left as-is, byte for byte.
    val m = graft.ops.Iterate.materialize(merged)
    m.df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_bucket")
      .parquet(tablePath)
    m.release()
  }

  /** Scalar richness of an ORIGINAL doc, mirroring
    * [[graft.ingest.MergeFastDocs.richness]]: total code point count of
    * prefLabel + type + all array elements.
    */
  private def richnessLen =
    coalesce(length(col("prefLabel")), lit(0)) + coalesce(length(col("type")), lit(0)) +
      coalesce(expr("aggregate(transform(altLabel, x -> length(x)), 0, (a, v) -> a + v)"), lit(0)) +
      coalesce(expr("aggregate(transform(sameAsLc, x -> length(x)), 0, (a, v) -> a + v)"), lit(0)) +
      coalesce(expr("aggregate(transform(sameAsViaf, x -> length(x)), 0, (a, v) -> a + v)"), lit(0)) +
      coalesce(expr("aggregate(transform(normalized, x -> length(x)), 0, (a, v) -> a + v)"), lit(0))

  /** Start the streaming job over a directory of NT files. */
  def start(spark: SparkSession, inputDir: String, tablePath: String,
            docType: String, checkpointDir: String): StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 8)
      .text(inputDir)
      .withColumnRenamed("value", "line")
    val fragments = FastIngest.project(FastIngest.parse(lines))
    fragments.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val docs = FastIngest.buildDocs(batch, lit(docType))
        mergeBatch(spark, docs, tablePath)
      }
      .start()
  }
}

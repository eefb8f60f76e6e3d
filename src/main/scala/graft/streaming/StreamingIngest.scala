package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.ingest.{FastIngest, Sinks}
import graft.ops.Iterate

/** Streaming variant of the ingest job: watch a directory for NT files,
  * parse/project incrementally, and merge each micro-batch into the
  * persisted `fast` table via `foreachBatch` — the in-sandbox
  * approximation of MERGE INTO on a table format.
  *
  * The table is stored hash-bucketed on `_id` (`_bucket` partition
  * column): the bucket is a pure function of the merge key, so a doc
  * never moves between partitions, and a micro-batch therefore touches
  * only the buckets its `_id`s hash into. The prune is static: the batch
  * docs are materialized once, and that pass brings the touched buckets
  * to the driver; the driver lists the table root and each touched bucket
  * directory, and the merge reads exactly those files
  * ([[graft.ingest.Sinks.readBuckets]]), with no listing job and no
  * footer read. It writes them back under `partitionOverwriteMode=dynamic`,
  * leaving every untouched partition's files byte-identical. Rows read,
  * shuffled and written per batch are O(batch + touched partitions), not
  * O(table), and so is the listing, bar one listing of the root.
  *
  * The merge is bucket-aligned: its one shuffle is keyed on `_bucket`
  * with an explicit partition count, so AQE does not coalesce it into a
  * single task, and each task merges, materializes and writes whole
  * buckets, one file per bucket, on all cores at once.
  *
  * The per-id aggregation runs inside the batch; cross-batch duplicates
  * are resolved by the same deterministic merge the batch job uses, so
  * arrivals in any file order converge to the same table.
  */
object StreamingIngest {

  /** Bucket count for the stored table layout. At deploy scale pick
    * ~table_size / target_partition_size; the rewrite cost and the
    * per-batch directory listing both scale with the touched buckets, so
    * more buckets = finer-grained rewrites.
    */
  val DefaultBuckets = 64

  private val BucketDir = "_bucket=([0-9]+)".r

  /** Merge a batch of enriched docs into the stored fast table.
    *
    * The stored table carries the MergeBuf bookkeeping columns
    * (`_bestRich`/`_bestType`/`_bestPref`/`_fillPref`) alongside the
    * finished doc: type/prefLabel selection always compares the richness
    * of the best ORIGINAL contributor, exactly like the batch
    * [[graft.ingest.MergeFastDocs]] Aggregator. Recomputing richness from
    * the stored *merged* doc would inflate early winners via their unioned
    * arrays and make the outcome arrival-order dependent.
    *
    * A `tablePath` that exists but holds anything besides `_bucket=<n>`
    * directories and hidden files is some other table: the merge throws
    * rather than write buckets into it.
    */
  def mergeBatch(spark: SparkSession, docs: DataFrame, tablePath: String): Unit = {
    val bucket = pmod(xxhash64(col("_id")), lit(DefaultBuckets.toLong)).cast("int")
    // the batch docs are evaluated once: this pass feeds the union below
    // and brings the touched buckets to the driver (at most
    // DefaultBuckets values, a layout constant)
    val touchedObs = Observation()
    val in = Iterate.materialize(docs.select(col("*"),
        richnessLen.as("_bestRich"), col("type").as("_bestType"),
        col("prefLabel").as("_bestPref"), col("prefLabel").as("_fillPref"))
      .withColumn("_bucket", bucket)
      .observe(touchedObs, collect_set(col("_bucket")).as("bs")))
    try {
      val touched = touchedObs.get("bs").asInstanceOf[scala.collection.Seq[Any]]
        .map(_.asInstanceOf[Int]).toSet
      // an existence probe and a driver listing, not a catch around a
      // read: a read error on an EXISTING bucket propagates loudly
      val root = new Path(tablePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
      val (buckets, rest) = entries.partition(st =>
        st.isDirectory && BucketDir.matches(st.getPath.getName))
      val foreign = rest.map(_.getPath.getName).filterNot(Sinks.hidden)
      require(foreign.isEmpty,
        s"mergeBatch: $tablePath holds ${foreign.mkString(", ")} besides " +
          "_bucket=<n> directories — refusing to merge into a foreign table")
      val storedDirs = buckets.map(_.getPath)
        .filter(p => touched(p.getName.stripPrefix("_bucket=").toInt))
      val unioned =
        if (storedDirs.isEmpty) in.df
        else Sinks.readBuckets(spark, root, storedDirs, in.df.schema).unionByName(in.df)
      // overwrite must not read from its own output mid-write → materialize
      // fully first (reliable checkpoint when a dir is set, else cache).
      // The materialized frame keeps the shuffle's partitions, so each write
      // task holds whole buckets and writes one file per bucket.
      // Dynamic overwrite replaces ONLY the partitions present in the
      // written data (= the touched buckets); untouched partitions' files
      // are left as-is, byte for byte.
      val m = Iterate.materialize(fold(spark, unioned))
      try m.df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket")
        .parquet(tablePath)
      finally m.release()
    } finally in.release()
  }

  /** The per-id fold of stored and incoming rows, one row per `_id`. */
  private def fold(spark: SparkSession, unioned: DataFrame): DataFrame = {
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
    unioned
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

package graft.ingest

import java.io.IOException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table sinks (K1/K2/K4 in SURVEY.md §2.1) plus the reference's progress
  * counters (A3) as `observe()` metrics.
  *
  * The reference drops + re-creates its target collection, bulk-inserts in
  * batches of 100, and recovers from duplicate keys row-by-row. Here the
  * merge happens *before* the write (A4), so the sink is a plain
  * overwrite-mode parquet write: batching and buffering are the writer's
  * job; `_id` uniqueness holds by construction. A caller that must keep
  * the previous table on failure writes to a staging path and then
  * [[publish]]es it, as [[graft.IngestJob.runAll]] does.
  */
object Sinks {

  /** `badRows`: rows the P5 guard dropped; `missingPref`: written rows
    * with a null prefLabel (always 0 for viaf rows, which have none).
    */
  case class WriteReport(rows: Long, badRows: Long, missingPref: Long, path: String)

  /** K1+K2: overwrite the `fast` table, partitioned by `type` — at scale
    * the 8 type partitions give partition-pruned reads for the dominant
    * "lookup by type" access path. Returns observed counters (A3), counted
    * in the write's own pass: rows written, bad rows dropped by the P5
    * `fast IS NOT NULL` guard, and written rows missing a prefLabel.
    */
  def writeFast(docs: DataFrame, path: String): WriteReport = {
    val obs = Observation("fast_write")
    val kept = col("fast").isNotNull
    docs
      .observe(obs, count(when(kept, 1)).as("rows"),
        count(when(!kept, 1)).as("bad_rows"),
        count(when(kept && col("prefLabel").isNull, 1)).as("missing_pref"))
      .where(kept)
      .write.mode("overwrite").partitionBy("type").parquet(path)
    def n(name: String): Long = obs.get(name).asInstanceOf[Long]
    WriteReport(n("rows"), n("bad_rows"), n("missing_pref"), path)
  }

  /** K4: overwrite the updated viaf table. */
  def writeViaf(viaf: DataFrame, path: String): WriteReport = {
    val obs = Observation("viaf_write")
    val observed = viaf.observe(obs, count(lit(1)).as("rows"))
    observed.write.mode("overwrite").parquet(path)
    WriteReport(obs.get("rows").asInstanceOf[Long], 0L, 0L, path)
  }

  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Publish the tables written under `staging` to `outDir/<table>`, in
    * order, by directory renames: the live table, if any, is moved to
    * `staging/<table>.old`, then the staged one is renamed into place.
    * Each rename goes to a name that does not exist, which is atomic on
    * HDFS and POSIX. If a rename fails, the renames already done are
    * undone in reverse, so `outDir` keeps the previous version of every
    * table, and the error is rethrown (a failed undo is attached to it as
    * suppressed). The caller deletes `staging`, which then holds the
    * replaced tables.
    */
  def publish(spark: SparkSession, staging: String, outDir: String,
              tables: Seq[String]): Unit = {
    val stage = new Path(staging)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mv(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new IOException(s"publish: rename $from -> $to failed")
    var undo = List.empty[() => Unit]
    try tables.foreach { t =>
      val (live, staged) = (new Path(outDir, t), new Path(stage, t))
      val old = new Path(stage, s"$t.old")
      if (fs.exists(live)) {
        mv(live, old)
        undo ::= (() => mv(old, live))
      }
      mv(staged, live)
      undo ::= (() => mv(live, staged))
    } catch {
      case e: Throwable =>
        try undo.foreach(_()) catch { case u: Throwable => e.addSuppressed(u) }
        throw e
    }
  }

  /** Bucketed + sorted managed table: joins between two tables bucketed on
    * the same key with the same bucket count run WITHOUT a shuffle on
    * either side (co-located sort-merge join) — the pre-partitioning story
    * for repeated large-table joins at 100 TB. Requires `saveAsTable`
    * (bucketing metadata lives in the session catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Generic MERGE INTO over a manifest-committed hash-bucket parquet
    * layout — the deploy-shaped upsert API for the reference's
    * lookup-update path (`lib/ingest.js:134-165` recovers from
    * duplicate-key inserts row-by-row; here the merge is declarative and
    * partition-bounded). Semantics are SQL MERGE with whole-row actions:
    *
    *   - `WHEN MATCHED THEN UPDATE SET *`   (update row replaces stored)
    *   - `WHEN NOT MATCHED THEN INSERT *`
    *   - `WHEN MATCHED AND <deleteCol> THEN DELETE`   (when given)
    *
    * Rows live under `data/<version>/_bucket=<b>/` with
    * `_bucket = pmod(xxhash64(key), numBuckets)` — a pure function of
    * the merge key, so a row can never move between buckets and a batch
    * touches ONLY the buckets its keys hash into. Which version holds
    * each bucket's current files is recorded in a MANIFEST
    * (`_manifest-<N>.json`, bucket → version dir): a batch stages its
    * output as a brand-new version directory (never touching a live
    * file), then commits by writing manifest N+1 — one atomic
    * rename-to-fresh-name — and only then deletes the files the new
    * manifest no longer references. Readers resolve the highest
    * manifest, so EVERY crash window is safe: before the commit they
    * see table version N intact (the staged dir is unreferenced
    * garbage, removed by the next successful commit's sweep); after it
    * they see N+1 complete — an emptied bucket simply has no manifest
    * entry, so deleted keys can never transiently resurrect the way a
    * listing-based dynamic overwrite allowed between its commit and its
    * empty-dir cleanup (the round-13 crash window, closed here).
    * SinksSpec injects failures at both phases via `onPhase`.
    *
    * Per-batch work is O(batch + touched buckets), not O(table): the
    * stored side reads only the touched buckets' directories (manifest
    * pruning — stronger than scan-time partition pruning), untouched
    * buckets keep their exact files (byte-identical, asserted), and the
    * manifest itself is O(numBuckets) — a layout constant.
    * Replay-idempotent: re-merging an already-applied batch reproduces
    * the same table content, so an at-least-once upstream (a streaming
    * foreachBatch retry) converges.
    *
    * On a lakehouse deploy this call maps 1:1 onto Delta/Iceberg
    * `MERGE INTO target USING updates ON target.key = updates.key ...` —
    * the manifest is exactly their transaction-log commit, minus
    * multi-writer CAS (single-writer here, as documented; the immediate
    * post-commit sweep likewise assumes no concurrent reader mid-scan —
    * a deploy with concurrent readers delays it, Delta's VACUUM
    * retention). The atomic step is a same-directory rename to a name
    * that does not yet exist — atomic on HDFS and POSIX; an object
    * store deploy would swap it for a conditional put.
    *
    * `updates` must carry at most one row per key (pre-aggregate
    * conflicts upstream — [[graft.streaming.StreamingIngest.mergeBatch]]
    * shows the domain-specific fold); `numBuckets` must match the value
    * the table was created with.
    */
  def mergeInto(spark: SparkSession, targetPath: String, updates: DataFrame,
                keyCol: String, numBuckets: Int,
                deleteCol: Option[String] = None,
                onPhase: String => Unit = _ => ()): Unit = {
    val bucket = pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int")
    val upserts0 = deleteCol.fold(updates)(d => updates.where(!coalesce(col(d), lit(false))))
    val upserts = deleteCol.fold(upserts0)(d => upserts0.drop(d))
      .withColumn("_bucket", bucket)
    val allKeys = updates.select(col(keyCol)).withColumn("_bucket", bucket)
    // The touched-bucket list drives the stored-side manifest prune and
    // the commit, so it is brought to the driver ONCE, through an
    // observe() metric on a one-column pass over the batch — the list is
    // bounded by `numBuckets` (a layout constant), never
    // by data size, so this is a counters-class driver value, not a data
    // collect.
    val touchedBuckets: Seq[Int] = {
      val obs = Observation()
      allKeys.select("_bucket")
        .observe(obs, collect_set(col("_bucket")).as("bs"))
        .foreach(_ => ())
      obs.get("bs").asInstanceOf[scala.collection.Seq[Any]]
        .map(_.asInstanceOf[Int]).toSeq.sorted
    }
    val root = new org.apache.hadoop.fs.Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // explicit manifest resolution, NOT a catch-all around the read: an
    // EXISTING table whose manifest is unreadable must fail the merge
    // loudly — treating it as "new" would overwrite the table with just
    // this batch. A root holding only data/ + crashed manifest temps is
    // a crashed FIRST commit (never referenced ⇒ legitimately new); a
    // root holding ANYTHING else without a manifest is some other
    // table's data (e.g. the pre-manifest bucket layout) and silently
    // shadowing it with this batch is exactly the failure the check
    // exists to prevent.
    val current = latestManifest(fs, root)
    if (current.isEmpty && fs.exists(root)) {
      val foreign = fs.listStatus(root).map(_.getPath.getName).filterNot {
        n => n == "data" || ManifestTmpRe.matches(n)
      }
      require(foreign.isEmpty,
        s"mergeInto: $targetPath exists without a manifest but holds " +
          s"non-staging entries ${foreign.mkString(", ")} — refusing to " +
          "shadow a foreign table with this batch")
    }
    val prevMap: Map[Int, String] =
      current.map { case (_, p) => parseManifest(fs, p) }.getOrElse(Map.empty)
    val stored = {
      val touched = prevMap.view.filterKeys(touchedBuckets.contains).toSeq
      touched.groupBy(_._2).map { case (ver, entries) =>
        val base = new Path(root, ver)
        readBuckets(spark, base,
          entries.map { case (b, _) => new Path(base, s"_bucket=$b") }, upserts.schema)
      }.reduceOption(_ unionByName _)
    }
    val merged = stored match {
      case Some(prev) =>
        // stored rows of touched buckets only, minus every matched key
        // (updated keys re-enter from the batch side; deleted keys don't)
        prev.join(allKeys.select(keyCol), Seq(keyCol), "left_anti")
          .unionByName(upserts)
      case None => upserts
    }
    // stage the batch as a fresh version dir; the materializing action
    // also completes the present-bucket observation (an emptied bucket —
    // every stored row deleted, no upsert hashed there — is absent from
    // `present` and simply gets no manifest entry). One shuffle on the
    // bucket, as in StreamingIngest.mergeBatch: each task then holds whole
    // buckets, so each bucket directory of the version gets one file, not
    // one per input partition.
    val version = "data/v-" + java.util.UUID.randomUUID().toString
    val presentObs = Observation()
    val tasks = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, numBuckets)
    val m = graft.ops.Iterate.materialize(merged.repartition(tasks, col("_bucket"))
      .observe(presentObs, collect_set(col("_bucket")).as("bs")))
    try {
      m.df.write.mode("overwrite").partitionBy("_bucket")
        .parquet(new org.apache.hadoop.fs.Path(root, version).toString)
      val present = presentObs.get("bs").asInstanceOf[scala.collection.Seq[Any]]
        .map(_.asInstanceOf[Int]).toSet
      onPhase("staged") // crash here ⇒ readers still see version N intact
      val nextMap = (prevMap -- touchedBuckets) ++
        present.toSeq.sorted.map(_ -> version)
      val nextN = current.map(_._1 + 1).getOrElse(0L)
      writeManifest(fs, root, nextN, nextMap) // THE commit
      onPhase("committed") // crash here ⇒ readers see N+1; sweep deferred
      sweep(fs, root, nextN, nextMap)
    } finally m.release()
  }

  /** Read the bucket directories `dirs` of a `_bucket`-partitioned
    * parquet table rooted at `base`, as rows of `schema` (which holds the
    * `_bucket` column). The files are listed here, on the driver, one
    * `listStatus` per directory, and handed to the file index through its
    * status cache, so Spark runs no listing job (it lists more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths with
    * one) and, with the schema given, no job that reads a footer to infer
    * it. Names Spark's own listing skips ([[hidden]]) are skipped; a
    * missing directory or a nested one throws.
    */
  def readBuckets(spark: SparkSession, base: Path, dirs: Seq[Path],
                  schema: StructType): DataFrame = {
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = dirs.map(fs.makeQualified)
    val listed: Map[Path, Array[FileStatus]] = roots.map { d =>
      val files = fs.listStatus(d).filterNot(st => hidden(st.getPath.getName))
      files.find(_.isDirectory).foreach(st =>
        throw new IOException(s"readBuckets: unexpected directory ${st.getPath}"))
      d -> files
    }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, roots,
      Map("basePath" -> fs.makeQualified(base).toString), Some(schema), cache)
    val (part, data) = schema.partition(_.name == "_bucket")
    // nullable, as a schema read from the files would be: a column a file
    // lacks reads as null
    spark.baseRelationToDataFrame(HadoopFsRelation(index, StructType(part),
      StructType(data.map(_.copy(nullable = true))), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** The names Spark's file listing skips: `_`-prefixed ones that are not
    * `name=value` partition directories, and `.`-prefixed ones.
    */
  private[graft] def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  private val ManifestRe = "_manifest-([0-9]+)\\.json".r
  private val ManifestTmpRe = "_manifest-[0-9]+\\.json\\.tmp-.*".r

  private def latestManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .flatMap { st =>
        st.getPath.getName match {
          case ManifestRe(n) => Some((n.toLong, st.getPath))
          case _ => None
        }
      }
      .maxByOption(_._1)

  /** Manifest body:
    * `{"v":N,"n":<bucket count>,"buckets":{"<bucket>":"<ver dir>",...},"eof":1}`
    * — written and parsed by this object only (no JSON library on the
    * classpath; the writer controls the exact shape). `n` and the `eof`
    * sentinel are INTEGRITY checks: a manifest truncated by an OS-level
    * crash (rename visible, page cache lost) would otherwise regex-parse
    * to a PARTIAL bucket map and [[readMerged]] would silently serve a
    * table missing buckets — the opposite of the fail-loudly contract.
    * parseManifest throws on a count mismatch or a missing sentinel.
    * A LEGACY manifest (pre-integrity format: `buckets` present but no
    * `"n":` key) gets a DISTINCT format-version error rather than the
    * corruption diagnosis (advice r15) — the operator fix is "rewrite
    * via writeManifest", not crash forensics.
    */
  private def parseManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Map[Int, String] = {
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val declared = "\"n\":([0-9]+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    val entries = "\"([0-9]+)\":\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    if (declared.isEmpty && txt.contains("\"buckets\""))
      throw new java.io.IOException(
        s"manifest $p uses the pre-integrity format (no \"n\" count / " +
          "\"eof\" sentinel) — too old for this reader; regenerate it by " +
          "re-writing the table (writeManifest) before trusting this build")
    if (!txt.trim.endsWith(""","eof":1}""") || !declared.contains(entries.size))
      throw new java.io.IOException(
        s"manifest $p is truncated or corrupt: declared n=$declared, " +
          s"parsed ${entries.size} bucket entries, " +
          s"eof sentinel ${if (txt.trim.endsWith(""","eof":1}""")) "present"
            else "MISSING"} — refusing to serve a partial bucket map")
    entries
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Long, buckets: Map[Int, String]): Unit = {
    val body = buckets.toSeq.sorted
      .map { case (b, v) => s""""$b":"$v"""" }.mkString(",")
    val txt = s"""{"v":$n,"n":${buckets.size},"buckets":{$body},"eof":1}"""
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"_manifest-$n.json.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try {
      out.write(txt.getBytes("UTF-8"))
      // best-effort durability before the rename-commit; LocalFileSystem
      // may not support hsync — the n/eof validation catches truncation
      // either way
      try out.hsync() catch { case _: UnsupportedOperationException => out.hflush() }
    } finally out.close()
    val dst = new org.apache.hadoop.fs.Path(root, s"_manifest-$n.json")
    // rename to a fresh name in the same directory: atomic on HDFS and
    // POSIX; its visibility IS the commit
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"manifest commit failed: $dst")
  }

  /** Post-commit sweep: drop superseded manifests and every
    * (version dir, bucket) subtree the current manifest no longer
    * references — including leftovers of crashed stagings. Bounded by
    * versions × buckets directory entries; purely garbage collection
    * (a crash that skips it costs disk, never correctness).
    */
  private def sweep(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, currentN: Long,
      buckets: Map[Int, String]): Unit = {
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case ManifestRe(n) if n.toLong < currentN => fs.delete(st.getPath, false)
        // a temp from a CRASHED commit (our own temp was already renamed
        // away before sweep runs) — plain garbage
        case n if ManifestTmpRe.matches(n) => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    val live: Set[String] = buckets.map { case (b, v) => s"$v/_bucket=$b" }.toSet
    val liveVers: Set[String] = buckets.values.toSet
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { ver =>
      val verRel = "data/" + ver.getPath.getName
      if (!liveVers.contains(verRel)) fs.delete(ver.getPath, true)
      else fs.listStatus(ver.getPath).foreach { sub =>
        val name = sub.getPath.getName
        if (name.startsWith("_bucket=") &&
            !live.contains(s"$verRel/$name"))
          fs.delete(sub.getPath, true)
      }
    }
  }

  /** Read back a [[mergeInto]] table through its latest manifest,
    * without the layout column. Manifest-level bucket resolution means
    * a reader never lists data directories — staged-but-uncommitted
    * versions are invisible by construction. Limitation: a table whose
    * every row has been deleted has no files left to carry the schema,
    * so the read degenerates to a zero-column empty frame (a lakehouse
    * log would persist the schema in the manifest; this layout keeps
    * the manifest to bucket → version entries).
    */
  def readMerged(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = latestManifest(fs, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no manifest under $path"))
    val buckets = parseManifest(fs, manifest._2)
    buckets.toSeq.groupBy(_._2).map { case (ver, entries) =>
      spark.read
        .option("basePath", new org.apache.hadoop.fs.Path(root, ver).toString)
        .parquet(entries.map { case (b, _) =>
          new org.apache.hadoop.fs.Path(root, s"$ver/_bucket=$b").toString }: _*)
    }.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame)
      .drop("_bucket")
  }
}

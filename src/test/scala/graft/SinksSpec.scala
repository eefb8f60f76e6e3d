package graft

import org.apache.spark.sql.functions._

import graft.ingest.Sinks
import graft.queries.QueryHelpers.scratchDir

/** Sink behaviors: overwrite + observe metrics, the staged publish, and
  * bucketed co-located joins (no shuffle between same-bucketed tables).
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writeFast: overwrite, type-partitioned, bad rows dropped, metrics observed") {
    val docs = Seq(
      (1, Some(1), "Topical", "A", Seq("x"), Seq[String](), Seq[String](), Seq("a")),
      (2, Some(2), "Event", null, Seq[String](), Seq[String](), Seq[String](), Seq[String]()),
      (3, None, "Topical", "Bad", Seq[String](), Seq[String](), Seq[String](), Seq[String]()))
      .toDF("_id", "fast", "type", "prefLabel", "altLabel", "sameAsLc", "sameAsViaf", "normalized")
    val out = scratchDir("graft_sink").toString
    val report = Sinks.writeFast(docs, s"$out/fast")
    assert(report.rows === 2) // P5 guard dropped the null-fast row
    assert(report.badRows === 1)
    assert(report.missingPref === 1) // written row 2 has no prefLabel
    val back = Sinks.readTable(spark, s"$out/fast")
    assert(back.count() === 2)
    assert(back.select("type").distinct().count() === 2) // partition column survives
  }

  test("publish: a failed rename rolls back the tables already published") {
    import java.nio.file.{Files, Path}
    val out = scratchDir("graft_publish").resolve("out")
    val staging = out.resolve("_staging-test")
    def put(dir: Path, text: String): Unit = {
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("part-0"), text)
    }
    def read(dir: Path): String = Files.readString(dir.resolve("part-0"))
    put(out.resolve("fast"), "old fast")
    put(out.resolve("viaf"), "old viaf")
    put(staging.resolve("fast"), "new fast")

    // no staged viaf: its rename fails after fast was published
    intercept[java.io.IOException] {
      Sinks.publish(spark, staging.toString, out.toString, Seq("fast", "viaf"))
    }
    assert(read(out.resolve("fast")) === "old fast")
    assert(read(out.resolve("viaf")) === "old viaf")
    assert(read(staging.resolve("fast")) === "new fast")

    put(staging.resolve("viaf"), "new viaf")
    Sinks.publish(spark, staging.toString, out.toString, Seq("fast", "viaf"))
    assert(read(out.resolve("fast")) === "new fast")
    assert(read(out.resolve("viaf")) === "new viaf")
    assert(read(staging.resolve("fast.old")) === "old fast")
  }

  test("mergeInto: upsert + delete, untouched buckets byte-identical, replay-idempotent") {
    val path = scratchDir("graft_merge").toString + "/t"
    def table() = Sinks.readMerged(spark, path)
      .orderBy("k").as[(Long, String)].collect().toSeq
    def bucketFiles(): Map[String, Array[Byte]] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.toString.contains("_bucket=") && p.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.readAllBytes(p))
          .toMap
      } finally walk.close()
    }
    // create: 200 keys spread over the buckets
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.mergeInto(spark, path, base, "k", numBuckets = 16)
    assert(table() === (1L to 200L).map(k => (k, s"v$k")))
    val before = bucketFiles()

    // batch 2: update 2 keys, insert 1, delete 1 — all hashing into a
    // small subset of buckets
    val batch = Seq((5L, "V5", false), (6L, "V6", false),
      (1000L, "new", false), (7L, "", true)).toDF("k", "v", "_del")
    Sinks.mergeInto(spark, path, batch, "k", numBuckets = 16,
      deleteCol = Some("_del"))
    val expect = ((1L to 200L).filterNot(k => Set(5L, 6L, 7L)(k)).map(k => (k, s"v$k"))
      ++ Seq((5L, "V5"), (6L, "V6"), (1000L, "new"))).sortBy(_._1)
    assert(table() === expect)

    // untouched buckets: every file not in a touched bucket partition is
    // byte-identical to its pre-merge self (dynamic overwrite contract)
    val touched = Set(5L, 6L, 7L, 1000L)
      .map(k => spark.range(1).select(
        pmod(xxhash64(lit(k)), lit(16L)).cast("int")).head.getInt(0))
    val after = bucketFiles()
    val untouchedBefore = before.filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"_bucket=$b/")) }
    assert(untouchedBefore.nonEmpty, "fixture degenerate: every bucket touched")
    untouchedBefore.foreach { case (p, bytes) =>
      assert(after.contains(p), s"untouched bucket file vanished: $p")
      assert(java.util.Arrays.equals(after(p), bytes),
        s"untouched bucket file rewritten: $p")
    }

    // replay the same batch: at-least-once delivery converges
    Sinks.mergeInto(spark, path, batch, "k", numBuckets = 16,
      deleteCol = Some("_del"))
    assert(table() === expect)
  }

  test("mergeInto: each bucket of a new version is one file, whatever the input partitioning") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val path = scratchDir("graft_merge_files").toString + "/t"
    def ls(p: Path): Seq[Path] = scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList)
    def versions(): Set[Path] = ls(Paths.get(path, "data")).toSet
    // data files in each `_bucket=<b>` directory of one version
    def filesPerBucket(version: Path): Map[String, Int] =
      ls(version).filter(_.getFileName.toString.startsWith("_bucket="))
        .map(b => b.getFileName.toString -> ls(b).count(_.getFileName.toString.endsWith(".parquet")))
        .toMap
    val create = spark.range(0, 400, 1, 8).select($"id".as("k"), $"id".cast("string").as("v"))
    Sinks.mergeInto(spark, path, create, "k", numBuckets = 8)
    val v0 = versions()
    assert(v0.size === 1)
    val first = filesPerBucket(v0.head)
    assert(first.size === 8 && first.values.forall(_ == 1), first)
    // stored rows of the touched buckets plus a batch over 6 partitions
    val update = spark.range(0, 400, 7, 6).select($"id".as("k"), lit("u").as("v"))
    Sinks.mergeInto(spark, path, update, "k", numBuckets = 8)
    val v1 = versions() -- v0
    assert(v1.size === 1)
    val second = filesPerBucket(v1.head)
    assert(second.nonEmpty && second.values.forall(_ == 1), second)
    assert(Sinks.readMerged(spark, path).count() === 400)
  }

  // The stored side is read from a driver listing of the touched buckets,
  // with the batch's schema, as in StreamingIngest.mergeBatch: Spark lists
  // more than 32 paths with a job of its own, and infers a schema with a
  // footer job.
  test("mergeInto runs no listing job when a batch touches most buckets of a version") {
    val path = scratchDir("graft_merge_jobs").toString + "/t"
    Sinks.mergeInto(spark, path, (1L to 2000L).map(k => (k, s"v$k")).toDF("k", "v"),
      "k", numBuckets = 64)
    val batch = (1990L to 2100L).map(k => (k, s"w$k")).toDF("k", "v")
    val touched = batch.select(pmod(xxhash64(col("k")), lit(64L))).distinct().count()
    assert(touched > 32, s"fixture touches only $touched buckets")
    val jobs = jobsOf(Sinks.mergeInto(spark, path, batch, "k", numBuckets = 64))
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs.mkString("\n"))
    // the touched-bucket pass, the key broadcast, the shuffle and the
    // checkpoint of the merge, and the write: no footer job
    assert(jobs.size <= 5, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    val back = Sinks.readMerged(spark, path)
    assert(back.count() === 2100L)
    assert(back.where(col("k") === 1995L).select("v").as[String].head() === "w1995")
  }

  test("mergeInto: a fully-emptied bucket does not resurrect deleted keys") {
    val path = scratchDir("graft_merge_empty").toString + "/t"
    def bucketOf(k: Long): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L)).cast("int")).head.getInt(0)
    val keys = (1L to 64L)
    Sinks.mergeInto(spark, path, keys.map(k => (k, s"v$k")).toDF("k", "v"),
      "k", numBuckets = 8)
    // delete EVERY key of one bucket (and nothing else): the merged
    // output for that partition is empty, so dynamic overwrite alone
    // would leave its old files in place and the keys would resurrect
    val victim = bucketOf(1L)
    val doomed = keys.filter(k => bucketOf(k) == victim)
    assert(doomed.nonEmpty)
    val batch = doomed.map(k => (k, "", true)).toDF("k", "v", "_del")
    Sinks.mergeInto(spark, path, batch, "k", numBuckets = 8,
      deleteCol = Some("_del"))
    val back = Sinks.readMerged(spark, path).orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(back === keys.filterNot(doomed.contains).map(k => (k, s"v$k")),
      "deleted keys resurrected from an emptied bucket's stale files")
    // and no live file for the emptied bucket remains anywhere: the
    // current manifest carries no entry for it and the sweep removed
    // its directories from every version
    val victimDirs = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(s"_bucket=$victim")).toSeq
      } finally walk.close()
    }
    assert(victimDirs.isEmpty, s"emptied bucket dirs survive: $victimDirs")
    // replay converges (delete of absent keys is a no-op)
    Sinks.mergeInto(spark, path, batch, "k", numBuckets = 8,
      deleteCol = Some("_del"))
    assert(Sinks.readMerged(spark, path).count() === (64 - doomed.size).toLong)
  }

  test("mergeInto: crash-injected commits never expose a half-merged table") {
    val path = scratchDir("graft_merge_crash")
      .toString + "/t"
    def table() = Sinks.readMerged(spark, path)
      .orderBy("k").as[(Long, String)].collect().toSeq
    case object Boom extends RuntimeException("injected crash")
    def crashAt(phase: String): String => Unit =
      p => if (p == phase) throw Boom

    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.mergeInto(spark, path, base, "k", numBuckets = 8)
    val v0 = (1L to 100L).map(k => (k, s"v$k"))
    assert(table() === v0)

    // crash AFTER staging, BEFORE the manifest commit: a reader must see
    // version N exactly — no resurrected keys, no half-applied batch
    val batch = Seq((5L, "V5", false), (500L, "new", false), (7L, "", true))
      .toDF("k", "v", "_del")
    intercept[Boom.type] {
      Sinks.mergeInto(spark, path, batch, "k", numBuckets = 8,
        deleteCol = Some("_del"), onPhase = crashAt("staged"))
    }
    assert(table() === v0, "uncommitted staging leaked into readers")

    // crash AFTER the manifest commit, BEFORE the sweep: a reader sees
    // version N+1 complete — deletes applied, nothing resurrected from
    // the superseded files still on disk
    intercept[Boom.type] {
      Sinks.mergeInto(spark, path, batch, "k", numBuckets = 8,
        deleteCol = Some("_del"), onPhase = crashAt("committed"))
    }
    val v1 = (v0.filterNot(r => Set(5L, 7L)(r._1))
      ++ Seq((5L, "V5"), (500L, "new"))).sortBy(_._1)
    assert(table() === v1, "post-commit crash corrupted the visible table")

    // replaying the same batch through a clean merge converges and the
    // sweep reclaims every superseded/staged leftover
    Sinks.mergeInto(spark, path, batch, "k", numBuckets = 8,
      deleteCol = Some("_del"))
    assert(table() === v1)
    val manifests = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_manifest-")).map(_.getName).toSeq
    assert(manifests.size === 1, s"superseded manifests survive: $manifests")
  }

  test("mergeInto refuses to shadow an existing non-manifest table") {
    // a pre-manifest (or foreign) directory with data must fail LOUDLY —
    // treating it as "new" would replace the table with just this batch
    val path = scratchDir("graft_merge_foreign")
      .toString + "/t"
    Seq((1L, "old")).toDF("k", "v").withColumn("_bucket", lit(0))
      .write.partitionBy("_bucket").parquet(path)
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeInto(spark, path, Seq((2L, "new")).toDF("k", "v"), "k",
        numBuckets = 8)
    }
    assert(e.getMessage.contains("refusing to shadow"), e.getMessage)
    // a crashed FIRST commit (data/ + manifest temp, nothing referenced)
    // is legitimately new — the merge proceeds and sweeps the leftovers
    val path2 = scratchDir("graft_merge_crash0")
      .toString + "/t"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path2, "data", "v-dead"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path2, "_manifest-0.json.tmp-dead"), "{}")
    Sinks.mergeInto(spark, path2, Seq((2L, "new")).toDF("k", "v"), "k",
      numBuckets = 8)
    assert(Sinks.readMerged(spark, path2).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((2L, "new")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path2, "_manifest-0.json.tmp-dead")),
      "crashed manifest temp survived the sweep")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path2, "data", "v-dead")),
      "crashed staging dir survived the sweep")
  }

  test("a truncated manifest fails loudly instead of serving a partial table") {
    // r15 (ADVICE r14): an OS-level crash can make the rename visible with
    // lost page-cache bytes — the regex scan used to parse the remains to
    // a PARTIAL bucket map and readMerged silently dropped buckets.
    val path = scratchDir("graft_trunc").toString + "/t"
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.mergeInto(spark, path, base, "k", numBuckets = 16)
    assert(Sinks.readMerged(spark, path).count() === 200)
    val manifest = new java.io.File(path).listFiles()
      .filter(_.getName.matches("_manifest-[0-9]+\\.json")).maxBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(manifest.toPath)
    // chop mid-body: drops trailing bucket entries AND the eof sentinel.
    // The Hadoop .crc sidecar would also catch this edit (deleted here to
    // reach the validation under test) — but a REAL truncation loses the
    // page cache for data and sidecar together, so the n/eof check is the
    // layer that must hold on its own.
    java.nio.file.Files.write(manifest.toPath,
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    new java.io.File(manifest.getParent, "." + manifest.getName + ".crc").delete()
    val ex = intercept[java.io.IOException] { Sinks.readMerged(spark, path) }
    assert(ex.getMessage.contains("truncated or corrupt"))
    // mergeInto must refuse too (merging against a partial map would
    // silently drop the missing buckets' stored rows)
    val ex2 = intercept[java.io.IOException] {
      Sinks.mergeInto(spark, path, Seq((1L, "x")).toDF("k", "v"), "k",
        numBuckets = 16)
    }
    assert(ex2.getMessage.contains("truncated or corrupt"))
  }

  test("a legacy-format manifest gets a format-version error, not a " +
      "corruption diagnosis") {
    // advice r15: pre-integrity manifests (buckets map, no "n"/"eof")
    // used to be rejected with the same 'truncated or corrupt' message
    // as a crash artifact — a misleading diagnosis for a version skew
    // whose fix is a rewrite, not forensics
    val path = scratchDir("graft_legacy").toString + "/t"
    val base = (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.mergeInto(spark, path, base, "k", numBuckets = 4)
    val manifest = new java.io.File(path).listFiles()
      .filter(_.getName.matches("_manifest-[0-9]+\\.json")).maxBy(_.getName)
    val txt = new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
    // strip the integrity fields → the exact pre-round-15 shape
    val legacy = txt.replaceAll(""","eof":1\}""", "}").replaceAll(""""n":[0-9]+,""", "")
    java.nio.file.Files.write(manifest.toPath, legacy.getBytes("UTF-8"))
    new java.io.File(manifest.getParent, "." + manifest.getName + ".crc").delete()
    val ex = intercept[java.io.IOException] { Sinks.readMerged(spark, path) }
    assert(ex.getMessage.contains("pre-integrity format"), ex.getMessage)
    assert(!ex.getMessage.contains("truncated or corrupt"))
  }

  test("bucketed tables join without a shuffle") {
    // clean any residue from a previous aborted run (dir without catalog entry)
    Seq("graft_bucket_left", "graft_bucket_right").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(s"spark-warehouse/$tbl")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val left = (1 to 1000).map(i => (i.toLong, s"L$i")).toDF("k", "lv")
    val right = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "rv")
    Sinks.writeBucketed(left, "graft_bucket_left", "k", numBuckets = 8)
    Sinks.writeBucketed(right, "graft_bucket_right", "k", numBuckets = 8)
    // disable broadcast so the planner actually uses the bucketed layout
    // (on a small fixture it would otherwise pick a broadcast join)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bucket_left")
        .join(spark.table("graft_bucket_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free co-located join, got:\n$plan")
      assert(joined.count() === 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_left")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_right")
    }
  }
}

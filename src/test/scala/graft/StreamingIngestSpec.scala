package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.queries.QueryHelpers.scratchDir
import graft.streaming.StreamingIngest

/** End-to-end streaming ingest over a real watched directory: files arrive
  * in two waves; the persisted table converges to the same state the batch
  * job would produce.
  */
class StreamingIngestSpec extends SparkSpec {

  /** MD5 of every data file under `root`, by relative path (hidden
    * `_`/`.` names skipped).
    */
  private def md5s(root: String): Map[String, String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = java.nio.file.Paths.get(root)
    val stream = Files.walk(base)
    try {
      val out = scala.collection.mutable.Map.empty[String, String]
      stream.forEach { p =>
        val name = p.getFileName.toString
        if (Files.isRegularFile(p) && !name.startsWith(".") && !name.startsWith("_"))
          out(base.relativize(p).toString) =
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }
      out.toMap
    } finally stream.close()
  }

  test("directory stream → foreachBatch merge → persisted fast table") {
    val in = scratchDir("graft_stream_in").toString
    val table = scratchDir("graft_stream_tbl").toString + "/fast"
    val ckpt = scratchDir("graft_stream_ckpt").toString

    Files.writeString(java.nio.file.Paths.get(s"$in/a.nt"),
      "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"First Doc\" .\n" +
      "<http://id.worldcat.org/fast/2> <http://www.w3.org/2004/02/skos/core#altLabel> \"Alt Two\" .\n")
    val q1 = StreamingIngest.start(spark, in, table, "Topical", ckpt)
    q1.awaitTermination()

    val afterWave1 = spark.read.parquet(table).collect()
      .map(r => r.getAs[Int]("_id") -> r.getAs[String]("prefLabel")).toMap
    assert(afterWave1 === Map(1 -> "First Doc", 2 -> null))

    // second wave: enriches doc 2 and re-delivers doc 1 (idempotent merge)
    Files.writeString(java.nio.file.Paths.get(s"$in/b.nt"),
      "<http://id.worldcat.org/fast/2> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Second Doc\" .\n" +
      "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"First Doc\" .\n")
    val q2 = StreamingIngest.start(spark, in, table, "Topical", ckpt)
    q2.awaitTermination()

    val docs = spark.read.parquet(table).collect()
      .map(r => r.getAs[Int]("_id") ->
        (r.getAs[String]("prefLabel"), r.getAs[Seq[String]]("altLabel"))).toMap
    assert(docs(1) === (("First Doc", Seq())))
    assert(docs(2) === (("Second Doc", Seq("Alt Two"))))
  }

  // Regression for the order-dependence hazard: an early winner whose
  // STORED arrays grew through unions must not beat a later contributor
  // whose ORIGINAL doc is richer — type selection compares originals, like
  // the batch MergeFastDocs Aggregator (best-contributor bookkeeping is
  // persisted in the table, not recomputed from merged arrays).
  test("late richer contributor wins type regardless of arrival order") {
    import spark.implicits._
    import graft.model.FastDoc
    val table = scratchDir("graft_merge_tbl").toString + "/fast"
    // rich(A)=4+7+10=21, rich(C)=5+10=15; stored merged arrays after batch 2
    // would total 4+7+20=31 — rich(B)=12+10=22 beats both ORIGINALS but not
    // the inflated merged doc
    val a = FastDoc(1, 1, "Topical", "AAAA", Seq("aaaaaaaaaa"), Nil, Nil, Nil)
    val c = FastDoc(1, 1, "Event", null, Seq("bbbbbbbbbb"), Nil, Nil, Nil)
    val b = FastDoc(1, 1, "Geographic", "CCCCCCCCCCCC", Nil, Nil, Nil, Nil)
    Seq(Seq(a), Seq(c), Seq(b)).foreach { batch =>
      StreamingIngest.mergeBatch(spark, spark.createDataset(batch).toDF(), table)
    }
    val row = spark.read.parquet(table).collect().head
    assert(row.getAs[String]("type") === "Geographic")
    assert(row.getAs[String]("prefLabel") === "CCCCCCCCCCCC")
    assert(row.getAs[Seq[String]]("altLabel").sorted === Seq("aaaaaaaaaa", "bbbbbbbbbb"))
    // converges to exactly what the batch Aggregator produces (buffer
    // chain, not merge2-through-finish — finish drops the bookkeeping)
    import graft.ingest.MergeFastDocs.{finishBuf, mergeBuf, toBuf}
    val batchDoc = finishBuf(mergeBuf(mergeBuf(toBuf(a), toBuf(c)), toBuf(b)))
    assert(row.getAs[String]("type") === batchDoc.`type`)
    assert(row.getAs[String]("prefLabel") === batchDoc.prefLabel)
  }

  // Richness counts code points on both paths: a label outside the BMP is
  // two UTF-16 units per character, and counting those made the batch
  // Aggregator pick a different winner than the streaming merge.
  test("batch and streaming merges pick the same winner for labels outside the BMP") {
    import spark.implicits._
    import graft.model.FastDoc
    import graft.ingest.MergeFastDocs.{finishBuf, mergeBuf, toBuf}
    val table = scratchDir("graft_bmp_tbl").toString + "/fast"
    // code points: 3+7=10 vs 5+7=12; UTF-16 units: 6+7=13 vs 12
    val a = FastDoc(1, 1, "Topical", "\uD835\uDC9C\uD835\uDC9C\uD835\uDC9C", Nil, Nil, Nil, Nil)
    val b = FastDoc(1, 1, "Topical", "BBBBB", Nil, Nil, Nil, Nil)
    StreamingIngest.mergeBatch(spark, spark.createDataset(Seq(a, b)).toDF(), table)
    val row = spark.read.parquet(table).collect().head
    val batchDoc = finishBuf(mergeBuf(toBuf(a), toBuf(b)))
    assert(batchDoc.prefLabel === "BBBBB")
    assert(row.getAs[String]("prefLabel") === batchDoc.prefLabel)
    assert(row.getAs[Int]("_bestRich") === 12)
  }

  // The full property the _bestRich bookkeeping claims: delivering the SAME
  // set of docs in different cross-batch groupings and orders converges to
  // an identical stored table — every column, bookkeeping included.
  test("cross-batch arrival order does not change the stored table") {
    import spark.implicits._
    import graft.model.FastDoc
    val docs = Seq(
      FastDoc(1, 1, "Topical", "Alpha", Seq("a1", "a2"), Seq("lc1"), Nil, Seq("alpha")),
      FastDoc(1, 1, "Event", null, Seq("a3"), Nil, Seq("v1"), Nil),
      FastDoc(1, 1, "Geographic", "A much richer label", Nil, Nil, Nil, Nil),
      FastDoc(2, 2, "Topical", "Beta", Nil, Nil, Nil, Nil),
      FastDoc(2, 2, "Topical", null, Seq("b1"), Nil, Nil, Nil),
      FastDoc(3, 3, "Event", null, Seq("c"), Nil, Nil, Nil))

    def ingest(batches: Seq[Seq[FastDoc]]): Seq[String] = {
      val table = scratchDir("graft_order_tbl").toString + "/fast"
      batches.foreach(b =>
        StreamingIngest.mergeBatch(spark, spark.createDataset(b).toDF(), table))
      spark.read.parquet(table).collect().map(_.toString).sorted.toSeq
    }

    val o1 = ingest(Seq(Seq(docs(0), docs(3)), Seq(docs(1), docs(4), docs(5)), Seq(docs(2))))
    val o2 = ingest(Seq(Seq(docs(2), docs(5)), Seq(docs(4), docs(0)), Seq(docs(3), docs(1))))
    val o3 = ingest(Seq(docs.reverse)) // single batch, reversed delivery
    assert(o1 === o2, "three-batch orderings diverged")
    assert(o1 === o3, "batched vs single-shot ingest diverged")
  }

  // The scale property of the bucketed layout: a micro-batch must rewrite
  // ONLY the partitions its ids hash into — every other partition's files
  // stay byte-identical (same paths, same bytes), proving per-batch cost
  // is O(batch + touched partitions), not O(table).
  test("micro-batch merge leaves untouched partitions byte-identical") {
    import spark.implicits._
    import graft.model.FastDoc
    val table = scratchDir("graft_prune_tbl").toString + "/fast"

    // wave 1: 200 ids spread across many buckets
    val wave1 = (1 to 200).map(i => FastDoc(i, i, "Topical", s"Doc $i", Nil, Nil, Nil, Nil))
    StreamingIngest.mergeBatch(spark, spark.createDataset(wave1).toDF(), table)
    val before = md5s(table)
    val bucketsBefore = before.keySet.map(_.split("/")(0)).filter(_.startsWith("_bucket="))
    assert(bucketsBefore.size > 10, s"expected many buckets, got $bucketsBefore")

    // wave 2: ONE doc → exactly one bucket may change
    val wave2 = Seq(FastDoc(5, 5, "Topical", "Doc 5 enriched label", Nil, Nil, Nil, Nil))
    StreamingIngest.mergeBatch(spark, spark.createDataset(wave2).toDF(), table)
    val after = md5s(table)

    val changedDirs = (before.keySet ++ after.keySet)
      .filter(f => before.get(f) != after.get(f))
      .map(_.split("/")(0)).filter(_.startsWith("_bucket="))
    assert(changedDirs.size === 1, s"expected exactly one rewritten bucket: $changedDirs")
    val untouched = before.keySet.filter(f => !changedDirs.exists(f.startsWith))
    untouched.foreach(f => assert(after.get(f).contains(before(f)), s"file $f changed"))

    // and the merge itself is correct: all 200 docs present, doc 5 enriched
    val docs = spark.read.parquet(table).select("_id", "prefLabel")
      .as[(Int, String)].collect().toMap
    assert(docs.size === 200)
    assert(docs(5) === "Doc 5 enriched label")
    assert(docs(7) === "Doc 7")

    // REPLAY the same micro-batch (a foreachBatch retry after a crash):
    // the merge must be idempotent — table content identical, and every
    // bucket the batch does NOT hash into byte-identical (dynamic
    // partition overwrite only rewrites the touched bucket)
    StreamingIngest.mergeBatch(spark, spark.createDataset(wave2).toDF(), table)
    val replayed = md5s(table)
    val changedOnReplay = (after.keySet ++ replayed.keySet)
      .filter(f => after.get(f) != replayed.get(f))
      .map(_.split("/")(0)).filter(_.startsWith("_bucket="))
    assert(changedOnReplay.subsetOf(changedDirs),
      s"replay touched foreign buckets: ${changedOnReplay -- changedDirs}")
    val docsReplayed = spark.read.parquet(table).select("_id", "prefLabel")
      .as[(Int, String)].collect().toMap
    assert(docsReplayed === docs, "replayed micro-batch changed table content")
  }

  // The merge's shuffle is keyed on the bucket, so a bucket is merged and
  // written by one task whatever the partition count: one file per bucket,
  // for a new table and for a merge into an existing one.
  test("merge writes one file per touched bucket at any partition count") {
    import spark.implicits._
    import graft.model.FastDoc
    val table = scratchDir("graft_files_tbl").toString + "/fast"
    def filesPerBucket(): Map[String, Int] = {
      val dirs = Files.list(java.nio.file.Paths.get(table))
      try dirs.iterator().asScala.filter(_.getFileName.toString.startsWith("_bucket="))
        .map { d =>
          val files = Files.list(d)
          try d.getFileName.toString ->
            files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
          finally files.close()
        }.toMap
      finally dirs.close()
    }
    val tuned = Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def docs(ids: Range) = spark.createDataset(
        ids.map(i => FastDoc(i, i, "Topical", s"Doc $i", Nil, Nil, Nil, Nil))).toDF()
      StreamingIngest.mergeBatch(spark, docs(1 to 200), table)
      val first = filesPerBucket()
      assert(first.size > 10, s"expected many buckets, got $first")
      assert(first.values.forall(_ == 1), s"more than one file in a bucket: $first")
      StreamingIngest.mergeBatch(spark, docs(101 to 300), table)
      val second = filesPerBucket()
      assert(second.values.forall(_ == 1), s"more than one file in a bucket: $second")
      assert(spark.read.parquet(table).count() === 300L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // The stored side is read from a driver listing of the touched buckets
  // only: Spark lists more than 32 paths with a job, and reading with an
  // inferred schema costs a footer job. One merge of pipeline-built docs
  // into a 64-bucket table: the batch docs (a shuffle and a checkpoint),
  // the merge (a shuffle and a checkpoint) and the write.
  test("mergeBatch runs no listing or schema-inference job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import graft.ingest.FastIngest
    import graft.model.FastDoc
    val table = scratchDir("graft_jobs_tbl").toString + "/fast"
    StreamingIngest.mergeBatch(spark, spark.createDataset((1 to 2000).map(i =>
      FastDoc(i, i, "Topical", s"Doc $i", Nil, Nil, Nil, Nil))).toDF(), table)
    val docs = FastIngest.buildDocs(FastIngest.project(FastIngest.parse(
      (1990 to 2100).map(i => s"<http://id.worldcat.org/fast/$i> " +
        s"<http://www.w3.org/2004/02/skos/core#prefLabel> \"New $i\" .").toDF("line"))),
      lit("Topical"))
    val touched = docs.select(pmod(xxhash64(col("_id")), lit(64L))).distinct().count()
    assert(touched > 32, s"fixture touches only $touched buckets")
    val jobs = jobsOf(StreamingIngest.mergeBatch(spark, docs, table))
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs.mkString("\n"))
    assert(jobs.size <= 5, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    val back = spark.read.parquet(table)
    assert(back.count() === 2100L)
    assert(back.where(col("_id") === 1995).select("prefLabel").as[String].head() === "New 1995")
  }

  // A path that exists but is not a `_bucket=<n>` table is some other
  // table: the merge fails and leaves it as it was.
  test("mergeBatch refuses a path that holds a table of another layout") {
    import spark.implicits._
    import graft.model.FastDoc
    val batch = spark.createDataset(Seq(FastDoc(1, 1, "Topical", "One", Nil, Nil, Nil, Nil))).toDF()
    val plain = scratchDir("graft_plain_tbl").toString + "/fast"
    spark.range(10).toDF("_id").write.parquet(plain)
    val before = md5s(plain)
    val e = intercept[IllegalArgumentException](StreamingIngest.mergeBatch(spark, batch, plain))
    assert(e.getMessage.contains("part-"), e.getMessage)
    assert(md5s(plain) === before)
    // a bucketed table with one stray data file beside its buckets
    val stray = scratchDir("graft_stray_tbl").toString + "/fast"
    StreamingIngest.mergeBatch(spark, batch, stray)
    Files.writeString(java.nio.file.Paths.get(stray, "notes.txt"), "x")
    intercept[IllegalArgumentException](StreamingIngest.mergeBatch(spark, batch, stray))
  }

  test("an empty batch leaves every bucket file byte-identical") {
    import spark.implicits._
    import graft.model.FastDoc
    val table = scratchDir("graft_empty_tbl").toString + "/fast"
    StreamingIngest.mergeBatch(spark, spark.createDataset((1 to 200).map(i =>
      FastDoc(i, i, "Topical", s"Doc $i", Nil, Nil, Nil, Nil))).toDF(), table)
    val before = md5s(table)
    assert(before.size > 10, s"expected many bucket files, got ${before.keySet}")
    StreamingIngest.mergeBatch(spark, spark.createDataset(Seq.empty[FastDoc]).toDF(), table)
    assert(md5s(table) === before)
    assert(spark.read.parquet(table).count() === 200L)
  }
}

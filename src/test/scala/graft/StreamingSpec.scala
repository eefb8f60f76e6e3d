package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.queries.QueryHelpers.scratchDir
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, UserRunningStats}

/** Structured Streaming: watermarked tumbling windows and arbitrary
  * stateful processing, driven through MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L * 1000000000L // one hour in nanos

  test("windowedCounts aggregates tumbling event-time windows across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(
        Event(1, 0L * H + 1, 10, "click", 1.0),
        Event(2, 0L * H + 2, 10, "click", 2.0),
        Event(3, 1L * H + 1, 11, "view", 5.0))
      q.processAllAvailable()
      input.addData(Event(4, 0L * H + 3, 12, "click", 4.0))
      q.processAllAvailable()
      val out = spark.table("win_test")
        .select("window_start", "event_type", "cnt", "sum_val")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(out === Seq(
        (0L, "click", 3L, 7.0),
        (3600000L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("windowedDistinctUsers merges sketch state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedDistinctUsers(input.toDF())
      .writeStream.format("memory").queryName("hll_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // batch 1: users 10, 11 in window 0; batch 2 re-delivers user 10
      // (idempotent in the sketch) and adds 12
      input.addData(
        Event(1, 0L * H + 1, 10, "click", 1.0),
        Event(2, 0L * H + 2, 11, "click", 2.0))
      q.processAllAvailable()
      input.addData(
        Event(3, 0L * H + 3, 10, "click", 3.0),
        Event(4, 0L * H + 4, 12, "click", 4.0))
      q.processAllAvailable()
      val out = spark.table("hll_test").collect()
        .map(r => (r.getString(1), r.getLong(2))).toSeq
      // tiny cardinalities are exact in HLL++ (dense-below-threshold)
      assert(out === Seq(("click", 3L)))
    } finally q.stop()
  }

  test("windowedCms: streaming sketch equals the batch sketch; estimates bound") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCms(input.toDF(), "event_type", w = 64, d = 3)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      val evs1 = (1 to 40).map(i =>
        Event(i.toLong, 0L * H + i, (i % 5).toLong, s"type${i % 3}", 1.0))
      val evs2 = (41 to 60).map(i =>
        Event(i.toLong, 0L * H + i, (i % 5).toLong, "type0", 1.0))
      input.addData(evs1: _*)
      q.processAllAvailable()
      input.addData(evs2: _*)
      q.processAllAvailable()
      val streamed = spark.table("cms_stream")
        .select("row", "bucket", "cnt")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      // the same events through the batch builder
      val batch = graft.ops.Sketch.cmsBuild(
          (evs1 ++ evs2).map(_.event_type).toDF("v"), "v", w = 64, d = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(streamed === batch)
      // and the batch estimator reads the streamed table: type0 appeared
      // 13 times in batch 1 (i divisible by 3) + 20 in batch 2 = 33
      val est = graft.ops.Sketch.cmsEstimate(
          spark.table("cms_stream").select("row", "bucket", "cnt"),
          Seq("type0").toDF("v"), "v", w = 64, d = 3)
        .collect().head.getLong(1)
      assert(est >= 33L && est <= 33L + 3 * 60 / 64 + 3) // n=60, w=64 bound (+slack)
    } finally q.stop()
  }

  test("runningUserStats keeps per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("state_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(Event(1, 1, 10, "click", 1.0), Event(2, 2, 10, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, 3, 10, "click", 4.0), Event(4, 4, 20, "view", 9.0))
      q.processAllAvailable()
      val byUser = spark.table("state_test").as[UserRunningStats]
        .collect().groupBy(_.user_id)
      // latest emission for user 10 reflects all 3 events
      assert(byUser(10L).map(_.n_events).max === 3L)
      assert(byUser(10L).map(_.total_value).max === 7.0)
      assert(byUser(20L).map(_.n_events).max === 1L)
    } finally q.stop()
  }

  test("sessionizedCustom: event-time timeout closes idle sessions without " +
      "new arrivals; ordinals survive batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val hourUs = 3600L * 1000000L
    def ns(us: Long): Long = us * 1000L // Event.ts is nanos
    val q = EventStream.sessionizedCustom(input.toDS(),
        gapUs = 30L * 60 * 1000000L, lateness = "1 hour")
      .writeStream.format("memory").queryName("sess_custom_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // session 1 for user 10: two events 1 min apart (offset from epoch
      // 0 — a row AT the initial watermark is dropped as late)
      input.addData(Event(1, ns(10 * hourUs), 10, "click", 1.25),
        Event(2, ns(10 * hourUs + 60L * 1000000L), 10, "click", 2.5))
      q.processAllAvailable()
      // nothing closable yet (watermark at 0 - lateness)
      assert(spark.table("sess_custom_test").count() === 0)
      // a much later event for ANOTHER user advances the watermark past
      // user 10's session end + gap (+ lateness): the TIMEOUT path must
      // close session 1 with no further user-10 arrivals
      input.addData(Event(3, ns(16 * hourUs), 20, "view", 9.0))
      q.processAllAvailable()
      val afterTimeout = spark.table("sess_custom_test")
        .as[EventStream.SessionOut].collect()
      assert(afterTimeout.toSeq ===
        Seq(EventStream.SessionOut(10L, 1L, 2L, 60L * 1000000L, 3.75)))
      // user 10 returns much later: a NEW session, ordinal 2 — the
      // per-user counter survives the drained buffer
      input.addData(Event(4, ns(22 * hourUs), 10, "click", 4.0))
      input.addData(Event(5, ns(34 * hourUs), 20, "view", 1.0))
      q.processAllAvailable()
      val seqs = spark.table("sess_custom_test")
        .as[EventStream.SessionOut].collect()
        .filter(_.user_id == 10L).map(_.session_seq).sorted.toSeq
      assert(seqs === Seq(1L, 2L))
    } finally q.stop()
  }

  test("sessionizedCustom: a timeout that fires before the session is " +
      "closable re-arms (no stranded session)") {
    // r15 review regression: with the watermark INSIDE (start+gap,
    // end+gap], the timeout fires, the run cannot close yet, and the old
    // re-arm guard (keyed on the run START) skipped setTimeoutTimestamp —
    // an un-armed EventTimeTimeout group is never invoked again without
    // new data, so the session never emitted.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val minUs = 60L * 1000000L
    def ns(us: Long): Long = us * 1000L
    val t10h = 10L * 3600L * 1000000L
    val q = EventStream.sessionizedCustom(input.toDS(),
        gapUs = 30L * minUs, lateness = "1 hour")
      .writeStream.format("memory").queryName("sess_strand_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user A: 10:00 and 10:25 — timeout arms off this batch
      input.addData(Event(1, ns(t10h), 10, "click", 1.0),
        Event(2, ns(t10h + 25 * minUs), 10, "click", 2.0))
      q.processAllAvailable()
      // user B at 11:45 → wm 10:45 ∈ (10:30, 10:55]: A's timeout fires
      // but the run is NOT yet closable — must re-arm at end+gap
      input.addData(Event(3, ns(t10h + 105 * minUs), 20, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_strand_test")
        .where($"user_id" === 10).count() === 0)
      // user B again at 13:00 → wm 12:00 > 10:55: the RE-ARMED timeout
      // must now close and emit A's session with no further A arrivals
      input.addData(Event(4, ns(t10h + 180 * minUs), 20, "view", 1.0))
      q.processAllAvailable()
      val a = spark.table("sess_strand_test")
        .where($"user_id" === 10)
        .as[EventStream.SessionOut].collect().toSeq
      assert(a === Seq(EventStream.SessionOut(10L, 1L, 2L, 25 * minUs, 3.0)))
    } finally q.stop()
  }

  test("FastIngest transforms run unchanged on a streaming source") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val lines = input.toDF().withColumnRenamed("value", "line")
    // parse → project → per-id doc aggregation, in complete mode (the
    // stateful A1 groupBy); enrichment would join against a STATIC label
    // table (stream-static joins are supported; stream-stream agg joins
    // are not — documented limitation of the streaming path).
    val frags = graft.ingest.FastIngest.project(graft.ingest.FastIngest.parse(lines))
    val docs = graft.ingest.FastIngest.buildDocs(frags, org.apache.spark.sql.functions.lit("Topical"))
    val q = docs.writeStream.format("memory").queryName("ingest_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData("<http://id.worldcat.org/fast/9> <http://www.w3.org/2004/02/skos/core#prefLabel> \"First Label\" .")
      q.processAllAvailable()
      input.addData("<http://id.worldcat.org/fast/9> <http://www.w3.org/2004/02/skos/core#altLabel> \"Alt Label\" .")
      q.processAllAvailable()
      val rows = spark.table("ingest_stream").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[String]("prefLabel") === "First Label")
      assert(rows.head.getAs[Seq[String]]("altLabel") === Seq("Alt Label"))
    } finally q.stop()
  }

  test("decontamination runs on a stream: stream-static broadcast probe") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // same op, streaming corpus: shingle explode → broadcast static
    // benchmark probe → stateful per-doc aggregation
    val q = graft.ops.Decontaminate.overlap(stream, bench, "text", "doc_id")
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData((1L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      input.addData((2L, "completely different content about spark engines here"))
      q.processAllAvailable()
      val out = spark.table("decon_stream").collect()
        .map(r => r.getLong(0) -> r.getInt(4)).toMap
      assert(out === Map(1L -> 1, 2L -> 0))
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to in-window views") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.attributionJoin(input.toDF())
      .writeStream.format("memory").queryName("attr_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        // user 10: views at 1:00 and 1:30, click at 2:00 → both join
        // (1h bound is inclusive); user 11: view at 1:06, click at 3:00
        // → outside the hour, no attribution. Times start at 1:00, not
        // epoch 0: a row at exactly epoch 0 collides with the initial
        // watermark sentinel (also 0) and is dropped as late.
        Event(1, 1L * H, 10, "view", 1.0),
        Event(2, 1L * H + H / 2, 10, "view", 1.0),
        Event(3, 2L * H, 10, "click", 1.0),
        Event(4, 1L * H + H / 10, 11, "view", 1.0),
        Event(5, 3L * H, 11, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("attr_test")
        .select("user_id", "click_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
      assert(out === Seq((10L, 3L, 1L), (10L, 3L, 2L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups redelivered events across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup_events_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        Event(1, 1L * H, 10, "click", 1.0),
        Event(2, 1L * H + 1, 11, "view", 2.0))
      q.processAllAvailable()
      // batch 2 redelivers event 1 (same id) and adds event 3
      input.addData(
        Event(1, 1L * H, 10, "click", 1.0),
        Event(3, 1L * H + 2, 12, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_events_test")
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("session_window merges events into gap-bounded sessions across batches") {
    implicit val sqlCtx = spark.sqlContext
    val M = 60L * 1000000000L // one minute in nanos
    val input = MemoryStream[Event]
    val q = EventStream.sessionized(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(
        // user 10: events at 60, 75, 80 min (one session: gaps < 30min),
        // then 180 min (new session); user 11: one event
        Event(1, 60 * M, 10, "click", 1.5),
        Event(2, 75 * M, 10, "click", 2.0),
        Event(3, 80 * M, 10, "view", 0.5))
      q.processAllAvailable()
      input.addData(
        Event(4, 180 * M, 10, "click", 4.0),
        Event(5, 90 * M, 11, "view", 3.0))
      q.processAllAvailable()
      val out = spark.table("sess_test")
        .select("user_id", "n_events", "sum_val")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(out === Seq((10L, 1L, 4.0), (10L, 3L, 4.0), (11L, 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming incremental dedup == batch primitives; replayed batch is idempotent") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    import graft.streaming.StreamingDedup
    val root = scratchDir("graft_sdedup").toString
    val (inDir, sigPath, outPath, ckpt) =
      (s"$root/in", s"$root/sig", s"$root/dups", s"$root/ckpt")
    Files.createDirectories(Paths.get(inDir))

    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val novelText = "one two three four five six seven eight nine ten"
    // seed the stored corpus signatures (reserved batch id -1)
    val seed = Seq((100L, dupText),
        (101L, "red orange yellow green blue indigo violet colors here now"))
      .toDF("doc_id", "text")
    StreamingDedup.processBatch(spark, seed, -1L, "text", "doc_id", sigPath, outPath)

    val schema = "doc_id LONG, text STRING"
    def stream() = spark.readStream.schema(schema).json(inDir)
    def runWave(): Unit = {
      val q = StreamingDedup.start(stream(), "text", "doc_id", sigPath, outPath, ckpt)
      q.awaitTermination()
    }
    def jline(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""

    // wave 1 (batch 0): 200 duplicates stored 100; 201 novel; 202 == 201
    // within the same batch
    Files.writeString(Paths.get(s"$inDir/w1.json"),
      Seq(jline(200, dupText), jline(201, novelText), jline(202, novelText))
        .mkString("", "\n", "\n"))
    runWave()
    // wave 2 (batch 1): 300 duplicates 201, which arrived by stream
    Files.writeString(Paths.get(s"$inDir/w2.json"),
      jline(300, novelText) + "\n")
    runWave()

    def pairsAt(batch: Long): Set[(Long, Long)] =
      spark.read.parquet(outPath).where(col("_batch") === batch)
        .select("in_id", "stored_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0L) === Set((200L, 100L), (202L, 201L)))
    // 300 duplicates BOTH stream-arrived copies (201 and its in-batch dup 202)
    assert(pairsAt(1L) === Set((300L, 201L), (300L, 202L)))

    // batch-equivalence: the stream's per-batch output must equal the
    // batch primitives run on the same splits
    val w1 = Seq((200L, dupText), (201L, novelText), (202L, novelText))
      .toDF("doc_id", "text")
    val w2 = Seq((300L, novelText)).toDF("doc_id", "text")
    def sig(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignature(df, "text", "doc_id")
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("in_id", "stored_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp0 = asPairs(Dedup.incrementalMinhashDups(sig(seed), sig(w1), "doc_id")) ++
      asPairs(Dedup.minhashCandidates(sig(w1), "doc_id")
        .select(col("b_id").as("in_id"), col("a_id").as("stored_id")))
    val exp1 = asPairs(Dedup.incrementalMinhashDups(
      sig(seed).unionByName(sig(w1)), sig(w2), "doc_id"))
    assert(pairsAt(0L) === exp0)
    assert(pairsAt(1L) === exp1)

    // replay idempotence: re-running batch 1 (a foreachBatch retry)
    // rewrites only its own partition, to the same content; every other
    // partition stays byte-identical in BOTH sinks
    def md5s(dir: String): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val base = Paths.get(dir)
      val st = Files.walk(base)
      try {
        val out = scala.collection.mutable.Map.empty[String, String]
        st.forEach { p =>
          val n = p.getFileName.toString
          if (Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_"))
            out(base.relativize(p).toString) =
              md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }
        out.toMap
      } finally st.close()
    }
    val before = md5s(outPath) ++ md5s(sigPath).map { case (k, v) => s"sig/$k" -> v }
    StreamingDedup.processBatch(spark, w2, 1L, "text", "doc_id", sigPath, outPath)
    val after = md5s(outPath) ++ md5s(sigPath).map { case (k, v) => s"sig/$k" -> v }
    val changed = (before.keySet ++ after.keySet)
      .filter(f => before.get(f) != after.get(f))
    assert(changed.forall(_.contains("_batch=1")),
      s"replay touched foreign partitions: $changed")
    assert(pairsAt(1L) === exp1, "replayed batch changed its own content")
    val sigCount = spark.read.parquet(sigPath)
      .where(col("_batch") === 1L).count()
    assert(sigCount === 1L, "replayed batch duplicated its signatures")
  }

  test("windowedCounts works identically on a batch DataFrame") {
    val batch = Seq(
      Event(1, 1, 10, "click", 1.0),
      Event(2, H + 1, 10, "click", 2.0)).toDF()
    val out = EventStream.windowedCounts(batch)
      .orderBy("window_start").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("cnt")).toSeq === Seq(1L, 1L))
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._

import graft.queries.QueryHelpers.scratchDir
import graft.sources.WarcReader
import graft.sources.WarcReader.{WarcBad, WarcRec, WriteRec}

/** WARC framing walk: member-per-record gzip, CRLF framing, HTTP payload
  * split (incl. chunked transfer-coding), strict lost-framing stop, and
  * the Spark binaryFile surface end-to-end.
  */
class WarcReaderSpec extends SparkSpec {

  private def parse(bytes: Array[Byte]): (Vector[WarcRec], Vector[WarcBad]) =
    WarcReader.parseShard("s",
      WarcReader.inflateShard(bytes).getOrElse(fail("inflate failed")))

  private val warcinfoRec = WriteRec("warcinfo", "", "2026-01-01T00:00:00Z", 0, "",
    "software: graft\r\n".getBytes(UTF_8))

  test("round trip: warcinfo + plain + chunked responses + conversion") {
    val bytes = WarcReader.writeShardGz(Seq(
      warcinfoRec,
      WriteRec("response", "http://x/doc/1", "2026-01-01T00:00:00Z", 200,
        "text/html", "hello wörld".getBytes(UTF_8)),
      WriteRec("response", "http://x/doc/2", "2026-01-01T00:00:00Z", 404,
        "text/plain", "gone".getBytes(UTF_8), chunked = true),
      WriteRec("conversion", "http://x/doc/1", "2026-01-01T00:00:00Z", 0, "",
        "extracted text".getBytes(UTF_8))))
    val (recs, bad) = parse(bytes)
    assert(bad.isEmpty)
    assert(recs.map(_.warc_type) === Vector("warcinfo", "response",
      "response", "conversion"))
    val r1 = recs(1)
    assert(r1.target_uri === Some("http://x/doc/1"))
    assert(r1.http_status === Some(200))
    assert(r1.http_content_type === Some("text/html"))
    assert(new String(r1.body, UTF_8) === "hello wörld")
    val r2 = recs(2)
    assert(r2.http_status === Some(404))
    assert(new String(r2.body, UTF_8) === "gone", "chunked body reassembled")
    assert(new String(recs(3).body, UTF_8) === "extracted text")
    // offsets strictly increase and index the inflated stream
    assert(recs.map(_.offset) === recs.map(_.offset).sorted)
  }

  test("empty and multi-chunk bodies survive the chunked coder") {
    for (body <- Seq("", "x", "ab" * 5000)) {
      val bytes = WarcReader.writeShardGz(Seq(
        WriteRec("response", "http://x/doc/9", "", 200, "t/p",
          body.getBytes(UTF_8), chunked = true)))
      val (recs, bad) = parse(bytes)
      assert(bad.isEmpty && recs.size === 1)
      assert(new String(recs.head.body, UTF_8) === body)
    }
  }

  test("uncompressed .warc bytes pass through inflateShard unchanged") {
    val gz = WarcReader.writeShardGz(Seq(warcinfoRec))
    val raw = WarcReader.inflateShard(gz).get
    assert(WarcReader.inflateShard(raw).get.sameElements(raw))
    val (recs, bad) = WarcReader.parseShard("s", raw)
    assert(bad.isEmpty && recs.size === 1)
  }

  test("malformed frame stops the walk: records before it survive, " +
      "tail becomes one lost-framing quarantine row") {
    val good = WarcReader.inflateShard(WarcReader.writeShardGz(Seq(warcinfoRec,
      WriteRec("response", "http://x/doc/1", "", 200, "t/p",
        "a".getBytes(UTF_8))))).get
    val garbage = "NOT A WARC RECORD\r\n\r\n".getBytes(UTF_8)
    val after = WarcReader.inflateShard(WarcReader.writeShardGz(Seq(warcinfoRec))).get
    val (recs, bad) = WarcReader.parseShard("s", good ++ garbage ++ after)
    assert(recs.size === 2, "both well-framed records before the break")
    assert(bad.size === 1)
    assert(bad.head.offset === good.length.toLong)
    assert(bad.head.reason.startsWith("framing lost"))
  }

  test("Content-Length past shard end rejects (no partial record)") {
    val raw = WarcReader.inflateShard(WarcReader.writeShardGz(Seq(
      WriteRec("response", "http://x/doc/1", "", 200, "t/p",
        "abcdef".getBytes(UTF_8))))).get
    val truncated = raw.dropRight(5)
    val (recs, bad) = WarcReader.parseShard("s", truncated)
    assert(recs.isEmpty && bad.size === 1)
  }

  test("bad HTTP payload quarantines THAT record only; framing continues") {
    // hand-frame a response whose block is not an HTTP message
    val block = "this is not http".getBytes(UTF_8)
    val head = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:x>\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes(UTF_8)
    val badRec = head ++ block ++ "\r\n\r\n".getBytes(UTF_8)
    val goodRec = WarcReader.inflateShard(WarcReader.writeShardGz(Seq(
      WriteRec("response", "http://x/doc/7", "", 200, "t/p",
        "ok".getBytes(UTF_8))))).get
    val (recs, bad) = WarcReader.parseShard("s", badRec ++ goodRec)
    assert(recs.size === 1 && recs.head.target_uri === Some("http://x/doc/7"))
    assert(bad.size === 1 && bad.head.reason.contains("HTTP"))
  }

  test("header names are case-insensitive and obs-fold lines continue") {
    val block = ("HTTP/1.1 200 OK\r\nCONTENT-TYPE: text/x;\r\n" +
      " charset=utf-8\r\ncontent-length: 2\r\n\r\nhi").getBytes(UTF_8)
    val head = ("WARC/1.0\r\nwarc-type: response\r\n" +
      "WARC-RECORD-ID: <urn:uuid:y>\r\n" +
      "content-type: APPLICATION/HTTP; msgtype=response\r\n" +
      s"CONTENT-LENGTH: ${block.length}\r\n\r\n").getBytes(UTF_8)
    val (recs, bad) = WarcReader.parseShard("s",
      head ++ block ++ "\r\n\r\n".getBytes(UTF_8))
    assert(bad.isEmpty && recs.size === 1)
    assert(recs.head.http_content_type === Some("text/x; charset=utf-8"))
    assert(new String(recs.head.body, UTF_8) === "hi")
  }

  test("inflate cap rejects a decompression bomb instead of allocating") {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    val zeros = new Array[Byte](64 * 1024)
    (0 until 64).foreach(_ => gz.write(zeros)) // 4 MiB inflated
    gz.close()
    assert(WarcReader.inflateShard(out.toByteArray,
      maxInflated = 1L << 20).isEmpty)
    assert(WarcReader.inflateShard(out.toByteArray,
      maxInflated = 8L << 20).isDefined)
  }

  test("Spark surface: binaryFile scan over shard files + quarantine channel") {
    val dir = scratchDir("graft_warc_spec_")
    java.nio.file.Files.write(dir.resolve("a.warc.gz"),
      WarcReader.writeShardGz(Seq(warcinfoRec,
        WriteRec("response", "http://x/doc/1", "", 200, "t/p",
          "one".getBytes(UTF_8)))))
    java.nio.file.Files.write(dir.resolve("b.warc.gz"),
      WarcReader.writeShardGz(Seq(
        WriteRec("response", "http://x/doc/2", "", 200, "t/p",
          "two".getBytes(UTF_8), chunked = true))))
    java.nio.file.Files.write(dir.resolve("c.warc.gz"),
      "not gzip, not warc".getBytes(UTF_8))
    val recs = WarcReader.records(spark, dir.toString)
      .where(col("warc_type") === "response")
      .select("target_uri", "body").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), UTF_8))
      .toMap
    assert(recs === Map("http://x/doc/1" -> "one", "http://x/doc/2" -> "two"))
    val bad = WarcReader.quarantine(spark, dir.toString).collect()
    assert(bad.length === 1 && bad.head.getString(0).endsWith("c.warc.gz"))
  }

  test("streaming surface: shards arriving later become new micro-batches") {
    val dir = scratchDir("graft_warc_stream_")
    def shard(name: String, uri: String, body: String): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        WarcReader.writeShardGz(Seq(WriteRec("response", uri, "", 200, "t/p",
          body.getBytes(UTF_8)))))
    shard("s0.warc.gz", "http://x/doc/0", "zero")
    val q = WarcReader.recordsStream(spark, dir.toString, maxFilesPerTrigger = 1)
      .where(col("warc_type") === "response")
      .select("target_uri")
      .writeStream.format("memory").queryName("warc_stream_spec_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream_spec_sink").count() === 1)
      shard("s1.warc.gz", "http://x/doc/1", "one")
      shard("s2.warc.gz", "http://x/doc/2", "two")
      q.processAllAvailable()
      assert(spark.table("warc_stream_spec_sink")
        .collect().map(_.getString(0)).sorted
        === Array("http://x/doc/0", "http://x/doc/1", "http://x/doc/2"))
    } finally q.stop()
  }
}

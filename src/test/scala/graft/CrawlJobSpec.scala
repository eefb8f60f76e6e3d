package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._

import graft.ops.PdfText
import graft.queries.CrawlQueries
import graft.sources.WarcReader

/** CrawlJob integration: mixed HTML/PDF shards → documents + frontier +
  * quarantine, with quality gate and exact dedup verified row-level.
  */
class CrawlJobSpec extends SparkSpec {

  test("end to end: dispatch, quality gate, dedup, frontier, quarantine") {
    val dir = java.nio.file.Files.createTempDirectory("crawljob_spec_")
    def html(id: Long, text: String) = WarcReader.WriteRec("response",
      s"http://site.example/doc/$id", "", 200, "text/html; charset=utf-8",
      CrawlQueries.htmlFixturePage(id, text).getBytes(UTF_8))
    val pdfBody = PdfText.pdfBytes(Seq(Seq("Doc 2", "pdf body words here ok")),
      flate = true)
    val recs = Seq(
      html(0, "alpha beta gamma delta epsilon zeta"),
      html(1, "alpha beta gamma delta epsilon zeta"), // exact dup of 0? no — page embeds id
      WarcReader.WriteRec("response", "http://site.example/doc/2", "", 200,
        "application/pdf", pdfBody),
      // 404s and non-responses are dropped before extraction
      WarcReader.WriteRec("response", "http://site.example/gone", "", 404,
        "text/html", "gone".getBytes(UTF_8)),
      WarcReader.WriteRec("conversion", "http://site.example/doc/0", "", 0,
        "", "wet text".getBytes(UTF_8)),
      // a short page that fails the quality floor
      WarcReader.WriteRec("response", "http://site.example/tiny", "", 200,
        "text/html", "<p>hi</p>".getBytes(UTF_8)),
      // an exact mirror of doc 0's body under another URL → dup
      html(0, "alpha beta gamma delta epsilon zeta")
        .copy(targetUri = "http://mirror.example/doc/0"),
      // the crawl captured mirror.example's robots.txt → gates the frontier
      WarcReader.WriteRec("response", "http://mirror.example/robots.txt", "",
        200, "text/plain",
        "User-agent: *\nDisallow: /doc\n".getBytes(UTF_8)))
    java.nio.file.Files.write(dir.resolve("a.warc.gz"),
      WarcReader.writeShardGz(recs))
    java.nio.file.Files.write(dir.resolve("bad.warc.gz"),
      "garbage".getBytes(UTF_8))
    val out = java.nio.file.Files.createTempDirectory("crawljob_out_").toString
    val r = CrawlJob.run(spark, dir.toString, out)
    assert(r.records === 8, "404 + conversion + robots.txt all parse as records")
    assert(r.quarantined === 1)
    assert(r.docs === 5, "response-200 rows only")
    val docs = spark.read.parquet(s"$out/documents").collect()
      .map(x => x.getAs[String]("url") -> x).toMap
    assert(docs("http://site.example/doc/2").getAs[String]("format") === "pdf")
    assert(docs("http://site.example/doc/2").getAs[String]("text")
      .contains("pdf body words here ok"))
    assert(!docs("http://site.example/tiny").getAs[Boolean]("keep_quality"))
    // keep-min-URL: the mirror sorts first lexicographically, so IT is
    // the canonical copy and site/doc/0 carries the dup flag
    val dup = docs("http://site.example/doc/0")
    assert(dup.getAs[Boolean]("is_dup"))
    assert(dup.getAs[String]("dup_of") === "http://mirror.example/doc/0")
    assert(!docs("http://mirror.example/doc/0").getAs[Boolean]("is_dup"))
    assert(!docs("http://site.example/doc/1").getAs[Boolean]("is_dup"),
      "page embeds its id, so doc 1 is NOT an exact dup of doc 0")
    assert(r.kept === 3, "mirror, 1, and the pdf; tiny fails quality, doc 0 is dup")
    // doc0→/doc/1 and doc1→/doc/2 both resolve to CRAWLED urls; the
    // mirror's relative /doc/1 resolves against ITS host (uncrawled) —
    // plus the two external refs. The captured robots.txt gates the
    // mirror host: its /doc path is disallowed; hosts with no robots
    // default to allowed.
    val frontier = spark.read.parquet(s"$out/frontier")
      .collect().map(x => x.getAs[String]("url") -> x.getAs[Boolean]("allowed"))
      .toMap
    assert(frontier === Map("https://ex.com/0" -> true,
      "https://ex.com/1" -> true, "http://mirror.example/doc/1" -> false))
    assert(!docs.contains("http://mirror.example/robots.txt"),
      "robots payloads are rules, not documents")
    assert(docs("http://site.example/doc/0").getAs[String]("lang") === "und",
      "no stopwords in the fixture text")
  }
}

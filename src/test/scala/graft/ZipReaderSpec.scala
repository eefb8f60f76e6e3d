package graft

import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.queries.QueryHelpers.scratchDir
import graft.sources.ZipReader

/** ZIP text source: multi-entry, multi-archive, directory entries, CRLF,
  * trailing-newline parity with spark.read.text.
  */
class ZipReaderSpec extends SparkSpec {
  import spark.implicits._

  private def writeZip(dir: java.nio.file.Path, name: String,
      entries: Seq[(String, String)]): Unit = {
    val zout = new ZipOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve(name)),
      StandardCharsets.UTF_8)
    try entries.foreach { case (entry, content) =>
      zout.putNextEntry(new ZipEntry(entry))
      zout.write(content.getBytes(StandardCharsets.UTF_8))
      zout.closeEntry()
    } finally zout.close()
  }

  test("lines of every entry of every archive, in entry order") {
    val dir = scratchDir("graft_zipspec")
    writeZip(dir, "a.zip", Seq(
      "one.nt" -> "l1\nl2\n",          // trailing newline: no phantom line
      "sub/" -> "",                     // directory entry: skipped
      "two.nt" -> "l3\r\nl4",           // CRLF + no trailing newline
      "empty.nt" -> ""))                // empty entry: zero lines
    writeZip(dir, "b.zip", Seq("three.nt" -> "l5"))
    java.nio.file.Files.write(dir.resolve("noise.txt"),
      "ignored".getBytes(StandardCharsets.UTF_8)) // non-zip: glob-filtered
    val got = ZipReader.readLines(spark, dir.toString)
      .as[(String, String, String)].collect()
      .map { case (a, e, l) => (a.split('/').last, e, l) }.toSet
    assert(got === Set(
      ("a.zip", "one.nt", "l1"), ("a.zip", "one.nt", "l2"),
      ("a.zip", "two.nt", "l3"), ("a.zip", "two.nt", "l4"),
      ("b.zip", "three.nt", "l5")))
  }

  test("zipped NT corpus parses identically to the plain-text read") {
    val lines = Seq(
      "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"A\" .",
      "<http://id.worldcat.org/fast/2> <http://schema.org/sameAs> <http://viaf.org/viaf/14> .",
      "junk line")
    val dir = scratchDir("graft_zipnt")
    writeZip(dir, "corpus.zip",
      Seq("s0.nt" -> lines.take(2).mkString("", "\n", "\n"),
        "s1.nt" -> (lines(2) + "\n")))
    val viaZip = graft.ingest.FastIngest.parse(
        ZipReader.readLines(spark, dir.toString).select("line"))
      .orderBy("subject", "predicate", "obj").collect().toSeq
    val direct = graft.ingest.FastIngest.parse(lines.toDF("line"))
      .orderBy("subject", "predicate", "obj").collect().toSeq
    assert(viaZip === direct)
    assert(viaZip.size === 2) // the junk line is dropped by the P5 guard
  }
}

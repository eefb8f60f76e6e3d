package graft

import org.apache.spark.sql.Row

import graft.ingest.FastIngest

/** The reference's 9 golden parse cases (`test/fast_parse.test.js:5-83`),
  * driven through the real parse+project column pipeline.
  */
class NtParseSpec extends SparkSpec {
  import spark.implicits._

  private def projectOne(line: String): Seq[Row] =
    FastIngest.project(FastIngest.parse(Seq(line).toDF("line"))).collect().toSeq

  test("malformed input yields no rows") {
    assert(projectOne("Not a triple text").isEmpty)
  }

  test("type triple → fast id") {
    val rows = projectOne("<http://id.worldcat.org/fast/799409> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/Intangible> .")
    assert(rows.map(r => (r.getAs[String]("kind"), r.getAs[Int]("id"))) === Seq(("fast", 799409)))
  }

  test("identifier triple → fast id") {
    val rows = projectOne("<http://id.worldcat.org/fast/799409> <http://purl.org/dc/terms/identifier> \"799409\" .")
    assert(rows.map(_.getAs[Int]("id")) === Seq(799409))
  }

  test("sameAs VIAF") {
    val rows = projectOne("<http://id.worldcat.org/fast/1408092> <http://schema.org/sameAs> <http://viaf.org/viaf/143214773> .")
    assert(rows.map(_.getAs[String]("sameAsViaf")) === Seq("http://viaf.org/viaf/143214773"))
    assert(rows.head.getAs[String]("sameAsLc") === null)
  }

  test("sameAs LC names") {
    val rows = projectOne("<http://id.worldcat.org/fast/1794112> <http://schema.org/sameAs> <http://id.loc.gov/authorities/names/no2008059410> .")
    assert(rows.map(_.getAs[String]("sameAsLc")) === Seq("http://id.loc.gov/authorities/names/no2008059410"))
  }

  test("sameAs LCSH") {
    val rows = projectOne("<http://id.worldcat.org/fast/825323> <http://schema.org/sameAs> <http://id.loc.gov/authorities/subjects/sh85010894> .")
    assert(rows.map(_.getAs[String]("sameAsLc")) === Seq("http://id.loc.gov/authorities/subjects/sh85010894"))
  }

  test("prefLabel with pinned normalized form") {
    val rows = projectOne("<http://id.worldcat.org/fast/1407208> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Regional Farm Policy Conference\" .")
    val r = rows.head
    assert(r.getAs[String]("prefLabel") === "Regional Farm Policy Conference")
    assert(r.getAs[String]("normalized") === "regional farm policy conference")
  }

  test("altLabel with pinned normalized form") {
    val rows = projectOne("<http://id.worldcat.org/fast/1410700> <http://www.w3.org/2004/02/skos/core#altLabel> \"Fiesta San Antonio (San Antonio, Tex.)\" .")
    val r = rows.head
    assert(r.getAs[String]("altLabel") === "Fiesta San Antonio (San Antonio, Tex.)")
    assert(r.getAs[String]("normalized") === "fiesta san antonio san antonio tex")
  }

  test("rdfs:label on a fast subject") {
    val rows = projectOne("<http://id.worldcat.org/fast/1410700> <http://www.w3.org/2000/01/rdf-schema#label> \"Carlsbad International Chess Tournament\" .")
    val r = rows.head
    assert(r.getAs[String]("label") === "Carlsbad International Chess Tournament")
    assert(r.getAs[String]("normalized") === "carlsbad international chess tournament")
  }

  test("rdfs:label on a non-fast subject → sameAsLabel record") {
    val rows = projectOne("<http://id.loc.gov/authorities/names/fst01715782> <http://www.w3.org/2000/01/rdf-schema#label> \"Aviation insurance--War risks--Law and legislation\" .")
    val r = rows.head
    assert(r.getAs[String]("kind") === "sameAsLabel")
    assert(r.getAs[String]("subject") === "http://id.loc.gov/authorities/names/fst01715782")
    assert(r.getAs[String]("label") === "Aviation insurance--War risks--Law and legislation")
  }

  test("/fast/NaN subjects are dropped") {
    assert(projectOne("<http://id.worldcat.org/fast/NaN> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Bad\" .").isEmpty)
  }

  // Spark 4 runs with ANSI mode on: a cast of an out-of-range id used to
  // fail the whole ingest with CAST_INVALID_INPUT
  test("an id that does not fit in INT is NULL and the P5 guard drops it") {
    val rows = projectOne("<http://id.worldcat.org/fast/99999999999> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Too big\" .")
    assert(rows.map(r => (r.getAs[String]("kind"), r.isNullAt(r.fieldIndex("id")))) ===
      Seq(("fast", true)))
    val frags = FastIngest.project(FastIngest.parse(Seq(
      "<http://id.worldcat.org/fast/99999999999> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Too big\" .",
      "<http://id.worldcat.org/fast/2147483647> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Max\" .")
      .toDF("line")))
    val docs = FastIngest.buildDocs(frags, org.apache.spark.sql.functions.lit("Topical"))
    assert(docs.collect().map(_.getAs[Int]("fast")).toSeq === Seq(Int.MaxValue))
  }

  test("literal length guard: single-char labels dropped, id fragment kept") {
    val rows = projectOne("<http://id.worldcat.org/fast/5> <http://www.w3.org/2004/02/skos/core#prefLabel> \"X\" .")
    assert(rows.size === 1) // row kept as bare id fragment (kind=fast)...
    assert(rows.head.getAs[String]("prefLabel") === null) // ...but label dropped
  }

  test("unicode subjects and literals survive the parse") {
    val rows = projectOne("<http://id.worldcat.org/fast/99> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Dvořák, Antonín — 日本\" .")
    assert(rows.head.getAs[String]("prefLabel") === "Dvořák, Antonín — 日本")
    assert(rows.head.getAs[String]("normalized") === "dvorak antonin")
  }

  test("language-tagged and typed literals unquote correctly") {
    val rows = projectOne("<http://id.worldcat.org/fast/7> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Jazz\"@en .")
    assert(rows.head.getAs[String]("prefLabel") === "Jazz")
    val rows2 = projectOne("<http://id.worldcat.org/fast/7> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Jazz\"^^<http://www.w3.org/2001/XMLSchema#string> .")
    assert(rows2.head.getAs[String]("prefLabel") === "Jazz")
  }

  // N-Triples escape decoding per the spec (ECHAR + UCHAR), matching
  // N3Util.getLiteralValue (lib/fast_parse.js:31,46): escaped interior
  // quotes, backslashes, \uXXXX diacritics — with a language tag attached.
  test("escaped literals decode: \\\" \\\\ \\n \\t \\uXXXX") {
    val rows = projectOne("""<http://id.worldcat.org/fast/11> <http://www.w3.org/2004/02/skos/core#prefLabel> "Say \"hello\" twice" .""")
    assert(rows.head.getAs[String]("prefLabel") === """Say "hello" twice""")
    // ř = ř, á = á — built with an explicit backslash so the
    // escape reaches the parser as data, not as a Scala source escape
    val escaped = "Dvo\\u0159\\u00e1k, Anton\\u00edn"
    val rows2 = projectOne(
      s"""<http://id.worldcat.org/fast/12> <http://www.w3.org/2004/02/skos/core#prefLabel> "$escaped"@cs .""")
    assert(rows2.head.getAs[String]("prefLabel") === "Dvořák, Antonín")
    assert(rows2.head.getAs[String]("normalized") === "dvorak antonin")
    val rows3 = projectOne("""<http://id.worldcat.org/fast/13> <http://www.w3.org/2004/02/skos/core#prefLabel> "tab\there\nand back\\slash" .""")
    assert(rows3.head.getAs[String]("prefLabel") === "tab\there\nand back\\slash")
  }

  test("nt_unescape leaves malformed escapes intact and is a no-op without backslashes") {
    import org.apache.spark.sql.functions.{col, expr}
    Functions.register(spark)
    // \U7FFFFFFF is eight hex digits but no code point
    val cases = Seq("plain text", "trunc \\u12", "lone \\ backslash", "\\q", "\\U7FFFFFFF")
    val out = cases.toDF("s")
      .select(expr("nt_unescape(s)").as("u")).collect().map(_.getString(0)).toSeq
    assert(out === cases)
  }
}

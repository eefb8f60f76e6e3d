package graft

import java.nio.file.Files

import graft.queries.QueryHelpers.scratchDir
import graft.sources.TextTables

/** Round-trip fidelity of the schema'd JSONL/CSV source-sinks on the
  * adversarial cases the fixture tables don't contain: nulls, empty
  * strings, quotes, backslashes, commas, unicode, embedded newlines.
  */
class TextTablesSpec extends SparkSpec {
  import spark.implicits._

  private val rows: Seq[(Long, Option[String], Option[String])] = Seq(
    (1L, Some("""he said "hi" and left"""), Some("en")),
    (2L, Some("back\\slash and, comma"), None),
    (3L, None, Some("")),
    (4L, Some("unicode: café 中文"), Some("zh")),
    (5L, Some("line1\nline2"), Some("en")))

  private def df = rows.toDF("id", "text", "lang")

  test("jsonl round-trips nulls, empties, quotes, unicode, newlines") {
    val path = scratchDir("graft_jsonl_spec").toString
    TextTables.writeJsonl(df, path)
    val back = TextTables.readJsonl(spark, df.schema, path)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    // JSON writers drop null fields; they read back as null (None) —
    // and empty string stays empty string, not null
    assert(back === rows)
  }

  test("jsonl read fails fast on a malformed line") {
    val path = scratchDir("graft_jsonl_bad")
    Files.writeString(path.resolve("part-0.json"),
      """{"id": 1, "text": "ok", "lang": "en"}""" + "\n" + """{"id": 2, "text": """ + "\n")
    val err = intercept[Exception] {
      TextTables.readJsonl(spark, df.schema, path.toString).collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("FAILFAST")), err)
  }

  test("csv round-trips with null/empty distinction (no embedded newlines)") {
    val flat = rows.filterNot(_._2.exists(_.contains("\n")))
    val path = scratchDir("graft_csv_spec").toString
    TextTables.writeCsv(flat.toDF("id", "text", "lang"), path)
    val back = TextTables.readCsv(spark, df.schema, path)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    assert(back === flat)
  }

  test("fixed-width: alignment, all-blank nulls, short lines, numeric cast") {
    import graft.sources.TextTables.FixedCol
    val path = scratchDir("graft_fw_spec")
    def line(id: String, name: String, amt: String) =
      id.padTo(6, ' ') + name.padTo(12, ' ') + amt.reverse.padTo(4, ' ').reverse
    Files.writeString(path.resolve("d.txt"),
      line("1", "alpha", "42") + "\n" +  // left-aligned id/name, right-aligned amount
      line("2", "", "77") + "\n" +       // all-blank name -> NULL
      "3     beta\n")                    // short line: amount range empty -> NULL
    val cols = Seq(FixedCol("id", 1, 6, "long"), FixedCol("name", 7, 12),
      FixedCol("amount", 19, 4, "long"))
    val got = TextTables.readFixedWidth(spark, path.toString, cols)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("alpha"), Some(42L)),
      (2L, None, Some(77L)),
      (3L, Some("beta"), None)))
  }

  test("xml round-trips markup chars, nulls, unicode, newlines") {
    val xmlRows = rows :+ (6L, Some("<tag> & \"entities\" 'quoted'"), Some("en"))
    val path = scratchDir("graft_xml_spec").toString
    TextTables.writeXml(xmlRows.toDF("id", "text", "lang"), path)
    val back = TextTables.readXml(spark, df.schema, path)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    // the writer entity-escapes <>&"' so markup survives; null fields are
    // absent elements and read back as null, empty string stays empty
    assert(back === xmlRows)
  }
}

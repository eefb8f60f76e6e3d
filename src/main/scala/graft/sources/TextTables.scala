package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema'd text-format sources/sinks — JSON-Lines (the interchange
  * format LLM corpora ship in) and CSV.
  *
  * Reading always takes an EXPLICIT schema: schema inference is a full
  * extra pass over the data before the real one — never acceptable at
  * 100 TB — and silently widens types on dirty rows. `FAILFAST` makes
  * corrupt lines surface as errors instead of silent nulls.
  *
  * Both formats split by line, so reads parallelize per HDFS block like
  * any text source; no single-file bottleneck.
  */
object TextTables {

  /** CSV null sentinel (the classic `\N` convention): written for null
    * cells and mapped back to null on read, so null and empty string stay
    * distinguishable. In-band sentinels are the CSV format's inherent
    * limit — a real text cell exactly equal to `\N` would read back as
    * null; corpora where that can occur should use JSONL, which encodes
    * null out of band.
    */
  val CsvNull = "\\N"

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** CSV with explicit quoting config on BOTH sides so the round trip is
    * self-consistent; see [[CsvNull]] for the null/empty distinction.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("nullValue", CsvNull)
      .csv(path)

  def readCsv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema)
      .option("header", "true").option("nullValue", CsvNull)
      .option("mode", "FAILFAST")
      .csv(path)

  /** XML via the Spark 4 native source (the spark-xml lineage merged
    * upstream): one `<doc>` element per record under a `<docs>` root.
    * The writer entity-escapes markup characters, so text content
    * round-trips; absent elements read back as null, which keeps the
    * null/empty distinction out of band like JSONL (unlike CSV's in-band
    * sentinel). Row elements split per file; files parallelize per block.
    */
  def writeXml(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("rootTag", "docs").option("rowTag", "doc")
      .format("xml").save(path)

  def readXml(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema)
      .option("rowTag", "doc").option("mode", "FAILFAST")
      .format("xml").load(path)

  /** One fixed-width column: name, 1-based start offset in the line,
    * width in characters, and the Spark SQL type to cast the trimmed
    * slice to (e.g. "string", "long", "double").
    */
  final case class FixedCol(name: String, start: Int, width: Int,
                            sqlType: String = "string")

  /** Fixed-width (positional) text files — the classic mainframe/
    * enterprise feed layout: no delimiter, each column a character
    * range. Implemented as a plain line scan + per-column
    * `substring`/`trim`/`cast` projection, so the whole read stays
    * inside whole-stage codegen and splits per block like any text
    * source — no custom InputFormat needed. A slice that is all blanks
    * reads as NULL (fixed-width has no out-of-band null; all-blank is
    * the universal convention). Records shorter than a column's range
    * yield the partial slice (substring past the end is empty → NULL
    * after trim), matching tolerant mainframe readers.
    */
  def readFixedWidth(spark: SparkSession, path: String,
                     cols: Seq[FixedCol]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val lines = spark.read.text(path)
    val fields = cols.map { c =>
      expr(s"CAST(nullif(trim(substring(value, ${c.start}, ${c.width})), '') " +
        s"AS ${c.sqlType})").as(c.name)
    }
    lines.select(fields: _*)
  }
}

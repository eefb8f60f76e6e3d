package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The counts the generator planted (`planted.json`). */
final class Planted(node: JsonNode) {
  def long(key: String): Long = {
    val v = node.get(key)
    require(v != null && v.canConvertToLong, s"planted.json has no number '$key'")
    v.asLong
  }
  def longMap(key: String): Map[String, Long] =
    node.get(key).properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  def longs(key: String): Seq[Long] = node.get(key).elements().asScala.map(_.asLong).toSeq
}

object Planted {
  def read(path: String): Planted =
    new Planted(new ObjectMapper().readTree(new java.io.File(path)))
}

/** What one check found: the problems (empty when the output is right)
  * and an order-independent digest of the output tables.
  */
final case class Verdict(problems: Seq[String], digest: String) {
  def ok: Boolean = problems.isEmpty
}

/** Output checks. Counts and content sums are compared with what the
  * generator planted, so they hold for every build of the program; the
  * digest is compared by the caller across runs at one seed. Each table is
  * read in one aggregation.
  */
object Check {

  /** A 64-bit hash of the whole row, columns taken in name order. Its sum
    * over a table, with the row count, is the table's digest: independent
    * of row order and file layout, changed by any dropped, added or
    * altered row.
    */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.sorted.toIndexedSeq.map(df(_)): _*).cast("decimal(20,0)")

  private def digest(rows: Long, hashSum: java.math.BigDecimal): String =
    s"$rows:${Option(hashSum).getOrElse(java.math.BigDecimal.ZERO)}"

  private def expect(problems: Seq[String], what: String, got: Any, want: Any): Seq[String] =
    if (got == want) problems else problems :+ s"$what: got $got, want $want"

  private def sizeOr0(c: Column): Column = when(c.isNull, 0).otherwise(size(c))

  /** CRC-32 of a string's UTF-8 bytes; the generator plants sums of it. */
  private def crc(c: Column): Column = crc32(c.cast("binary"))

  /** Sum of [[crc]] over an array's elements. */
  private def crcSum(c: Column): Column =
    aggregate(transform(c, (x: Column) => crc(x)), lit(0L), _ + _)

  /** Sum of an int array's elements, 0 for null. */
  private def idSum(c: Column): Column =
    coalesce(aggregate(c, lit(0L), _ + _), lit(0L))

  /** The `fast` and `viaf` tables one ingest job wrote. */
  def job(fast: DataFrame, viafOut: DataFrame, viafIn: DataFrame, planted: Planted): Verdict = {
    val perType = fast.groupBy("type").agg(count(lit(1)),
        count(when(exists(col("altLabel"),
          x => x.endsWith(" (VIAF)") || x.endsWith(" (LC)")), 1)),
        sum(rowHash(fast)),
        sum(crc(col("prefLabel"))),
        sum(size(col("altLabel"))),
        sum(crcSum(col("altLabel"))),
        sum(crcSum(concat(col("sameAsLc"), col("sameAsViaf")))))
      .collect()
    def total(i: Int): Long = perType.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    var problems = expect(Nil, "fast docs by type",
      perType.map(r => r.getString(0) -> r.getLong(1)).toMap, planted.longMap("docs_by_type"))
    problems = expect(problems, "enriched docs", total(2), planted.long("enriched_docs"))
    problems = expect(problems, "prefLabel CRC sum", total(4), planted.long("pref_crc_sum"))
    problems = expect(problems, "altLabels", total(5), planted.long("alt_labels"))
    problems = expect(problems, "altLabel CRC sum", total(6), planted.long("alt_crc_sum"))
    problems = expect(problems, "sameAs CRC sum", total(7), planted.long("same_as_crc_sum"))
    val fastDigest = digest(perType.map(_.getLong(1)).sum,
      perType.map(_.getDecimal(3)).foldLeft(java.math.BigDecimal.ZERO)(_ add _))

    val o = viafOut.select(col("_id").as("o_id"), col("fast").as("o_fast"), rowHash(viafOut).as("h"))
    val i = viafIn.select(col("_id").as("i_id"), col("fast").as("i_fast"))
    val v = o.join(i, col("o_id") === col("i_id"), "full_outer")
      .agg(count(col("o_id")),
        count(when(col("o_id").isNull || col("i_id").isNull, 1)),
        count(when(sizeOr0(col("o_fast")) =!= sizeOr0(col("i_fast")), 1)),
        coalesce(sum(sizeOr0(col("o_fast")) - sizeOr0(col("i_fast"))), lit(0L)),
        sum(col("h")),
        coalesce(sum(idSum(col("o_fast")) - idSum(col("i_fast"))), lit(0L)))
      .head()
    problems = expect(problems, "viaf rows", v.getLong(0), planted.long("viaf_rows"))
    problems = expect(problems, "viaf rows added or lost", v.getLong(1), 0L)
    problems = expect(problems, "viaf rows updated", v.getLong(2), planted.long("viaf_updated"))
    problems = expect(problems, "viaf ids appended", v.getLong(3), planted.long("viaf_appended"))
    problems = expect(problems, "sum of viaf ids appended", v.getLong(5),
      planted.long("viaf_appended_id_sum"))
    Verdict(problems, s"fast=$fastDigest viaf=${digest(v.getLong(0), v.getDecimal(4))}")
  }

  /** The merged table after every batch of a stream. */
  def upsert(table: DataFrame, planted: Planted): Verdict = {
    val decided = planted.longs("pref_decided_ids")
    val r = table.agg(count(lit(1)), countDistinct(col("_id")), sum(rowHash(table)),
        sum(size(col("altLabel"))), sum(crcSum(col("altLabel"))),
        sum(crcSum(concat(col("sameAsLc"), col("sameAsViaf")))),
        count(when(col("_id").isin(decided: _*), 1)),
        coalesce(sum(when(col("_id").isin(decided: _*), crc(col("prefLabel")))), lit(0L)))
      .head()
    var problems = expect(Nil, "merged docs", r.getLong(0), planted.long("merged_docs"))
    problems = expect(problems, "distinct merged ids", r.getLong(1), planted.long("merged_docs"))
    problems = expect(problems, "merged altLabels", r.getLong(3), planted.long("merged_alt_labels"))
    problems = expect(problems, "merged altLabel CRC sum", r.getLong(4),
      planted.long("merged_alt_crc_sum"))
    problems = expect(problems, "merged sameAs CRC sum", r.getLong(5),
      planted.long("merged_same_as_crc_sum"))
    problems = expect(problems, "ids with a planted winner", r.getLong(6), decided.size.toLong)
    problems = expect(problems, "winners' prefLabel CRC sum", r.getLong(7),
      planted.long("pref_decided_crc_sum"))
    Verdict(problems, s"table=${digest(r.getLong(0), r.getDecimal(2))}")
  }
}

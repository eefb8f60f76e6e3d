package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.FastIngest

/** N-Triples source API (S1/S2 in SURVEY.md §2.1).
  *
  * Built on `spark.read.text` + the native `parse_nt` expression rather
  * than a custom `FileFormat`: text files are already splittable and
  * parallel by input splits (strictly more parallelism than the
  * reference's process-per-file model), and there is no scan-level
  * pushdown an NT-specific source could add — the parse IS the first
  * projection. (SURVEY.md §7.3: custom datasource only if profiling
  * demands; it hasn't.)
  */
object NtReader {

  /** Read NT files into (subject, predicate, obj) triples; malformed
    * lines dropped.
    */
  def triples(spark: SparkSession, paths: String*): DataFrame =
    FastIngest.parse(
      spark.read.text(paths: _*).withColumnRenamed("value", "line"))

  /** Read NT files keeping per-file provenance: adds `doc_type` derived
    * from the FAST filename convention (P7). The name comes from the
    * scan's `_metadata.file_name`, which the text scan fills once per
    * file, not from `input_file_name()`, which looks the path up for
    * every line.
    */
  def triplesTagged(spark: SparkSession, paths: String*): DataFrame =
    FastIngest.parse(
      spark.read.text(paths: _*)
        .select(col("value").as("line"),
          FastIngest.typeFromFilename(col("_metadata.file_name")).as("doc_type")))
}

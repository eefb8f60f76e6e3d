package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.FastIngest
import graft.queries.{CrawlQueries, CurationQueries, DedupQueries, EventsQueries,
  GraphQueries, IngestQueries, MediaQueries, Query, RelationalQueries,
  SimilarityQueries, StatsQueries, TextQueries, TpchQueries}
import graft.queries.QueryHelpers.{ntFromPart, t}

/** Correctness contract (SURVEY.md §7): the flagship `entry`, and the
  * registry of every implemented operator from SURVEY.md §2 as a [[Query]]
  * — a Spark query next to the DuckDB oracle that must produce identical
  * column names and values. Each family registers its queries in its own
  * object under `graft.queries`; `queries` and `oracleSql` are the
  * name-keyed views that Verify, Bench and the other tools read.
  */
object SparkEntry {

  /** Flagship: the reference's whole term-ingest dataflow (parse → project →
    * group → enrich) over an NT corpus generated from `part` at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val (lines, docType) = (
      ntFromPart(t(spark, "/root/testdata/sf0.001", "part")), lit("Topical"))
    FastIngest.termDocs(FastIngest.project(FastIngest.parse(
      lines.select(col("line"), docType.as("doc_type")))))
  }

  lazy val all: Seq[Query] =
    IngestQueries.all ++ RelationalQueries.all ++ TpchQueries.all ++
      EventsQueries.all ++ StatsQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ GraphQueries.all ++ TextQueries.all ++
      CurationQueries.all ++ MediaQueries.all ++ CrawlQueries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers that more than one query family uses: the fixture-table
  * loader, scan widening, the NT demo corpus, fixture-staging keys, and
  * the DuckDB spellings shared by several oracles (label normalization,
  * stopword lists, cosine, minhash signatures). A helper that only one
  * family uses lives in that family's object.
  */
private[graft] object QueryHelpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Widen a narrow fixture scan to session parallelism when the source
    * yields fewer splits than cores (guide §2.5 input skew: one
    * unsplittable file → repartition right after the read; every sf0.1
    * fixture parquet is a single ≤11 MB file = ONE scan task, so a heavy
    * corpus pass downstream runs single-threaded however many cores the
    * session has). Gated on the scan's resolved file count — cheap, the
    * file index is already built (ADVICE r16: no RDD-conversion probe) —
    * so a many-split production source takes the else branch and pays no
    * shuffle. Apply ONLY where the heavy derived stream is persisted or
    * has a single heavy consumer (the r16 fast_docs lesson: widening
    * several uncached one-task subtrees of one plan serializes stages
    * that otherwise overlap); each call site in the family objects was
    * kept or rejected by interleaved same-host A/B (OPTIMIZATION_r17.md). The embeddings
    * family (embed_label_outliers, sample_coreset, embed_ivfpq,
    * ann_ivf_trained) measured 15-130% SLOWER widened — iterative
    * training/coreset rounds re-pay the repartition exchange every pass,
    * and the per-row vector work on the 5k-row fixture never amortizes
    * it; rejected as a class.
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  def ntFromPart(part: DataFrame): DataFrame = DemoCorpus.ntFromPart(part)

  /** Fingerprint of a source table's files (name, size, mtime — no Spark
    * job) for fixture-staging keys: a regenerated table, or two checkouts
    * sharing one tmpdir, can never silently replay stale staging (the
    * streaming_replay_q14 discipline, shared by source_zip / mm_phash).
    */
  def stagingFingerprint(dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(dir, table)
    val walk = java.nio.file.Files.walk(src)
    val sig = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
        .toSeq.sorted.mkString("|")
    } finally walk.close()
    (scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff).toString
  }

  /** DuckDB spelling of [[graft.functions.Normalize.normalize]]. */
  def normSql(x: String): String =
    s"trim(regexp_replace(regexp_replace(lower(strip_accents($x)), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  val stopEn = Seq("the", "a", "and", "of", "to")

  def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  def duckCosine(a: String, b: String): String =
    s"""(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       | / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |    * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))""".stripMargin.replace("\n", " ")

  /** Shared CTE computing 8-component minhash signatures in DuckDB —
    * mirror of [[Dedup.minhashSignature]] (seeded `md5Int` minima over
    * distinct word-3-shingles).
    */
  def minhashSigCte: String = minhashSigCteFrom("documents")

  def minhashSigCteFrom(src: String): String = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(", ")
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
       | sh AS (SELECT doc_id,
       |        unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                              for i in range(1, greatest(len(ws) - 1, 1))])) AS sh
       |        FROM ws),
       | hs AS (SELECT doc_id,
       |        ('0x' || substr(md5('1:' || sh), 1, 8))::BIGINT AS h1,
       |        ('0x' || substr(md5('2:' || sh), 1, 8))::BIGINT AS h2 FROM sh),
       | sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)""".stripMargin.replace("\n", " ")
  }
}

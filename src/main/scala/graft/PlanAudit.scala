package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Dump formatted physical plans for representative queries — the
  * "explain and iterate" loop. Usage:
  *   PlanAudit [queryName ...]    — explain("formatted") each named query
  *   PlanAudit scans              — shared-subframe audit over ALL queries
  *
  * The `scans` mode counts, per query, how many times each source parquet
  * table appears as a LEAF of the optimized logical plan. CAVEAT, learned
  * the hard way (r16): a repeated LOGICAL leaf is a candidate, not a
  * defect — Spark's ReuseExchange/ReuseSubquery dedups identical physical
  * subtrees, so most repeated leaves cost one physical scan already. Of
  * eleven flagged queries persisted in the r16 sweep, nine measured
  * flat-to-2x-SLOWER with the cache (materialization serializes stages
  * that otherwise overlap, and the InMemoryRelation round-trip beats
  * codegen fusion); the two real wins were a RESTRUCTURE (sketch_cms:
  * build the CMS from the exact count table — strictly less work) and a
  * frame whose repeated subtrees differ enough that reuse can't fire
  * (pipeline_curation's gopherStats gate). Use this mode to find
  * candidates, then A/B each with BenchOne against a same-host control
  * before keeping a persist. InMemoryRelation leaves (persisted frames)
  * are reported separately: a cached frame consumed k times costs one
  * build, k reads.
  *
  * Caveat: EAGER ops (bm25TopTerms — anything wrapped in Iterate.scoped)
  * execute at build time, so their printed plan is the post-checkpoint
  * scan, not the pipeline that ran. Audit those by reading the op's
  * construction (and this tool's plan for the stages downstream of the
  * checkpoint). FastIngest.termDocs/viafUpdate are lazy and audit
  * normally.
  */
object PlanAudit {

  /** (tableName -> leafCount, cachedLeafCount) over the optimized plan. */
  def scanCounts(df: DataFrame): (Map[String, Int], Int) = {
    var cached = 0
    val counts = scala.collection.mutable.Map.empty[String, Int]
    def walk(p: LogicalPlan): Unit = p match {
      case im: InMemoryRelation =>
        cached += 1
        // do not descend: the cached build pipeline runs once, not per read
        ()
      case lr: LogicalRelation =>
        val name = lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName).distinct.sorted.mkString(",")
          case other => other.toString.take(60)
        }
        counts(name) = counts.getOrElse(name, 0) + 1
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.optimizedPlan)
    (counts.toMap, cached)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-plan-audit", "8")
    if (args.headOption.contains("scans")) {
      // sf0.001 keeps build-time-eager queries (graph rounds, BM25) cheap;
      // plan SHAPE — the thing audited — is scale-invariant.
      val dir = "/root/testdata/sf0.001"
      val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, q) =>
        try {
          val (counts, cached) = scanCounts(q(spark, dir))
          val repeated = counts.filter(_._2 >= 2)
          if (repeated.nonEmpty || cached > 0)
            Some((n, repeated.toSeq.sortBy(-_._2), cached))
          else None
        } catch {
          case e: Exception =>
            println(s"!! $n: build failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
      println("\n==== repeated-scan audit (table -> leaf count; cached leaves) ====")
      rows.foreach { case (n, rep, cached) =>
        val repStr = if (rep.isEmpty) "-" else rep.map { case (t, c) => s"$t x$c" }.mkString(", ")
        println(f"$n%-36s $repStr%-40s cached=$cached")
      }
      val flagged = rows.filter(_._2.exists(_._2 >= 3))
      println(s"\n${rows.size} queries with repeated or cached leaves; " +
        s"${flagged.size} with a table scanned >=3x:")
      flagged.foreach { case (n, rep, _) => println(s"  $n: " +
        rep.filter(_._2 >= 3).map { case (t, c) => s"$t x$c" }.mkString(", ")) }
    } else {
      val dir = "/root/testdata/sf0.01"
      // EAGER ops (anything built through Iterate.scoped) print their
      // pre-checkpoint pipeline plan during query CONSTRUCTION via this
      // hook — the returned frame's own explain is just a checkpoint scan
      spark.conf.set("spark.graft.iterate.explainScoped", "true")
      val names = if (args.nonEmpty) args.toSeq
        else Seq("q1_filter_project", "q6_join_chain", "q11_topk", "q22_range_join",
          "fast_docs", "dedup_minhash_pairs")
      names.foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}

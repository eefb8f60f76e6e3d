package graft

import scala.jdk.CollectionConverters._

import graft.queries.QueryHelpers.scratchDir

/** Physical-plan shape assertions for the scale-critical rewrites: these
  * queries were rebuilt specifically to remove exchanges (the 100 TB
  * bottleneck), and a silent regression back to the shuffled shape would
  * still pass the value gate — so the SHAPE is pinned here.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("quality_gopher is map-only: the sole exchange is the output sort") {
    val p = plan("quality_gopher")
    // zero-shuffle contract: no hash aggregation exchange, no explode
    assert(!p.contains("Generate"), s"token explode crept back:\n$p")
    assert(countOf(p, "Exchange") <= 1, // rangepartitioning for ORDER BY only
      s"extra exchanges in a row-local plan:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("embed_pq_adc search path: broadcast LUT, map-side top-k, no sort-merge join") {
    val p = plan("embed_pq_adc")
    assert(p.contains("BroadcastExchange"), s"LUT not broadcast:\n$p")
    assert(p.contains("TopKPerGroupPartial"),
      s"map-side top-k prune missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-wide shuffled join in the ADC path:\n$p")
  }

  test("embed_matryoshka runs as ONE corpus scan, not one per prefix dim") {
    val p = plan("embed_matryoshka")
    // all 4 dims ride the same broadcast cross join + one exploding projection
    assert(countOf(p, "Scan parquet") <= 3, // corpus + query side (+1 reuse print)
      s"per-dim scans re-appeared:\n$p")
    assert(p.contains("TopKPerGroupPartial"), p)
  }

  test("dedup_topk_similar symmetrizes via explode, not a recomputing union") {
    val p = plan("dedup_topk_similar")
    assert(countOf(p, "Generate") >= 1, p) // the two-direction explode
    // the banded candidate join must appear ONCE, not twice (union shape)
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") <= 2,
      s"candidate join duplicated:\n$p")
  }

  test("q24_percentile has no per-flag window: every Window runs over the bounded histogram") {
    val lp = SparkEntry.queries("q24_percentile")(spark, dir)
      .queryExecution.optimizedPlan
    // the 3-value-key single-task window sort is the regression this pins
    // against: any window whose partition key is l_returnflag alone puts a
    // whole flag (20M+ rows at 100×) into one task
    val badWindows = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "l_returnflag")) &&
             w.child.maxRows.isEmpty &&
             !w.partitionSpec.exists(_.references.exists(_.name == "_b")) &&
             w.partitionSpec.forall(e =>
               e.references.forall(_.name == "l_returnflag")) => w
    }
    assert(badWindows.isEmpty,
      s"per-flag window over unbounded input returned:\n${lp.treeString}")
  }

  test("ivfAssign is map-only: no Window, no exchange of the corpus") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = emb.limit(4).select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    for (r <- Seq(1, 2)) {
      val p = graft.ops.Similarity.ivfAssign(emb, cents, "vec_id", "embedding",
        "c_id", "c_emb", replication = r).queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"r=$r assign windows the corpus:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"r=$r assign shuffles the corpus:\n$p")
      assert(p.contains("vec_top_cells"), s"fused kernel missing at r=$r:\n$p")
    }
  }

  test("FastIngest.project evaluates its kernel once per triple") {
    import spark.implicits._
    val lines = Seq(
      "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Jazz\" .",
      "<http://id.loc.gov/x> <http://www.w3.org/2000/01/rdf-schema#label> \"Ext\" .")
      .toDF("line").repartition(2)
    val p = graft.ingest.FastIngest.project(graft.ingest.FastIngest.parse(lines))
      .queryExecution.executedPlan.toString
    // one Generate: no pushed-down keep filter re-evaluating the projection
    assert(countOf(p, "project_nt(") === 1, p)
  }

  test("termDocs: one shuffle, no sort-merge join, no aggregate under the label broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.ingest.FastIngest
    val frags = FastIngest.project(FastIngest.parse(Seq(
        ("<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Jazz\" .",
          "Topical"),
        ("<http://id.worldcat.org/fast/1> <http://schema.org/sameAs> <http://viaf.org/viaf/9> .",
          "Topical"),
        ("<http://viaf.org/viaf/9> <http://www.w3.org/2000/01/rdf-schema#label> \"Ext\" .",
          "Personal"))
      .toDF("line", "doc_type").repartition(2)))
      .persist() // as IngestJob.runAll holds its fragments
    try {
      val plan = FastIngest.termDocs(frags).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val text = plan.toString
      // the persisted frame's own plan sits in the cache, not in this tree
      assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1,
        s"term path shuffles more than once:\n$text")
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, text)
      val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(broadcasts.nonEmpty, s"label side not broadcast:\n$text")
      assert(broadcasts.forall(_.collect { case a: BaseAggregateExec => a }.isEmpty),
        s"label side aggregated before the broadcast:\n$text")
    } finally frags.unpersist()
  }

  test("mergeBatch: one shuffle on the bucket, none after the aggregate, pruned stored scan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.ingest.FastIngest
    import graft.streaming.StreamingIngest

    // batches built as the pipeline builds them: NT lines -> parse ->
    // project -> buildDocs
    def docs(ids: Range) = FastIngest.buildDocs(FastIngest.project(FastIngest.parse(
      ids.map(i => s"<http://id.worldcat.org/fast/$i> " +
        s"<http://www.w3.org/2004/02/skos/core#prefLabel> \"Doc $i\" .").toDF("line"))),
      lit("Topical"))
    val table = scratchDir("graft_merge_plan").toString + "/fast"
    StreamingIngest.mergeBatch(spark, docs(1 to 400), table)
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(table))
    val bucketsBefore = try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_bucket=")).toSet finally stream.close()

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      StreamingIngest.mergeBatch(spark, docs(350 to 450), table)
      // listener events arrive on an asynchronous bus. The first
      // materialize is the batch docs; the merge's is the one that scans
      // the stored table.
      object walk extends AdaptiveSparkPlanHelper
      def storedScans(p: SparkPlan): Seq[FileSourceScanExec] = walk.collect(p) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def materialized = seen.asScala.collectFirst {
        case (f, qe) if (f == "localCheckpoint" || f == "checkpoint") &&
          storedScans(qe.executedPlan).nonEmpty => qe.executedPlan
      }
      while (materialized.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val plan = materialized.getOrElse(
        fail(s"no materialize scans the stored table: ${seen.asScala.map(_._1)}"))
      val text = plan.toString

      // the nodes from the materialized root down to the first `stop`
      def down(p: SparkPlan, stop: SparkPlan => Boolean): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => down(a.executedPlan, stop)
        case q: QueryStageExec => q +: down(q.plan, stop)
        case _ if stop(p) => Nil
        case _ => p +: p.children.flatMap(down(_, stop))
      }
      // the merge's own operators end at the union of stored and incoming
      // rows; the batch docs' plan below it has shuffles of its own
      val shuffles = down(plan, _.isInstanceOf[UnionExec])
        .collect { case e: ShuffleExchangeExec => e }
      val n = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        StreamingIngest.DefaultBuckets)
      assert(shuffles.size === 1, s"expected one shuffle:\n$text")
      shuffles.head.outputPartitioning match {
        case HashPartitioning(Seq(key: Attribute), parts) =>
          assert(key.name === "_bucket" && parts === n, s"shuffle not on the bucket:\n$text")
        case other => fail(s"shuffle partitioned as $other:\n$text")
      }
      assert(!down(plan, _.isInstanceOf[BaseAggregateExec]).exists(_.isInstanceOf[Exchange]),
        s"exchange between the aggregate and the materialize:\n$text")

      // the prune is static: the scan's roots are exactly the stored
      // directories of the buckets the batch's ids hash into
      val touched = docs(350 to 450)
        .select(pmod(xxhash64(col("_id")), lit(StreamingIngest.DefaultBuckets.toLong)))
        .distinct().as[Long].collect().map(b => s"_bucket=$b").toSet
      val bucketDirs = touched.intersect(bucketsBefore).map(d => s"$table/$d")
      assert(bucketDirs.size > 1, s"fixture touches stored buckets $bucketDirs")
      val stored = storedScans(plan)
      assert(stored.nonEmpty, s"no scan of the stored table:\n$text")
      stored.foreach { s =>
        assert(s.relation.location.rootPaths.map(_.toUri.getPath).toSet === bucketDirs,
          s"stored scan roots are not the touched buckets:\n$text")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("topKPerGroupExecRanked emits rank without a Window node") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$dir/orders.parquet")
    val p = graft.ops.TopK.topKPerGroupExecRanked(df, Seq("o_orderstatus"),
      Seq(("o_totalprice", true), ("o_orderkey", false)), 3, "rank")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"trailing window re-rank:\n$p")
    assert(p.contains("TopKPerGroupFinal"), p)
  }
}

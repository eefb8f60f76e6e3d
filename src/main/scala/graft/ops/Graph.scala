package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics beyond duplicate clustering ([[Dedup.connectedComponents]]):
  * PageRank over an edge list, as pure DataFrame rounds.
  *
  * Each round is two key-partitioned shuffles — ranks joined to edges on
  * `src`, contributions aggregated on `dst` — plus a broadcast of the
  * single-row dangling-mass aggregate; a round costs the same at any
  * graph size and AQE's skew handling covers hub nodes. Rounds are
  * lineage-cut through [[Iterate.materialize]] (reliable checkpoint when
  * a checkpoint dir is configured), storage released per round — the
  * same iteration discipline as connected components.
  *
  * Dangling nodes (no out-edges) redistribute their rank mass uniformly,
  * so total rank is conserved at 1.0 every round (asserted in specs, not
  * silently drifting).
  */
object Graph {

  /** Ranks after `iterations` rounds of damped PageRank: `(node, rank)`.
    * Deterministic given the edge list up to float aggregation order —
    * specs compare with tolerance rather than hashes (same policy as
    * sphericalKMeans).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    // ONE pass over the (possibly expensive) edge derivation: the distinct
    // raw pair set is persisted and both the self-loop-filtered edge list
    // and the node set derive from it — previously `e` and `nodes` each
    // re-ran the upstream plan (a 4-way join in graph_pagerank's case).
    val rawD = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = rawD.where(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node set from the RAW pair set: a node whose only incident edge is a
    // self-loop still exists (it becomes dangling and keeps receiving
    // (1-d)/n + d*dmass/n) — deriving nodes after the self-loop filter
    // would silently drop it from the output
    val nodes = rawD.select(col("src").as("node"))
      .union(rawD.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // The static out-degree rides IN the rank state (null = dangling), so
    // a round joins state to edges and aggregates — the per-round
    // state⋈outDeg exchange is paid once here, not `iterations` times.
    val init = nodes
      .join(outDeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .withColumn("rank", lit(1.0 / n))
    // PER-ROUND materialization at any depth — the next round's teleport
    // term needs THIS round's dangling mass as a driver-known scalar. The
    // mass rides the round's own materializing action as an `observe()`
    // metric (the CC-endgame pattern, [[Dedup.connectedComponents]]) and
    // is injected into round i+1 as a LITERAL — no dangling aggregate
    // job, no one-row broadcast exchange: each round is exactly one job.
    // A lazily-chained bounded-depth branch (the LPA/BFS discipline) was
    // MEASURED SLOWER here (r14, graph_ppr at 3 rounds: 2.3-2.5 s lazy
    // vs 1.5-1.8 s eager at sf0.1): the per-round scalar forces an
    // in-plan one-row broadcast aggregate whose extra broadcast jobs
    // cost more than the observe-carrying checkpoints they replace —
    // lazy chaining pays only where rounds need no driver scalar.
    def dmassMetric: Column =
      coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0.0)).as("dmass")
    var obs = org.apache.spark.sql.Observation()
    var ranks = Iterate.materialize(init.observe(obs, dmassMetric))
    var i = 0
    while (i < iterations) {
      val dmass = obs.get("dmass").asInstanceOf[Double]
      // per-edge contributions from non-dangling nodes
      val inbound = ranks.df.where(col("deg").isNotNull)
        .select(col("node").as("src"), (col("rank") / col("deg")).as("share"))
        .join(e, "src")
        .groupBy("dst")
        .agg(sum("share").as("inbound"))
      val next = ranks.df.select("node", "deg")
        .join(inbound.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("deg"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("inbound"), lit(0.0)) +
              lit(dmass / n))).as("rank"))
      obs = org.apache.spark.sql.Observation()
      val materialized = Iterate.materialize(next.observe(obs, dmassMetric))
      ranks.release()
      ranks = materialized
      i += 1
    }
    val out = ranks.df.select("node", "rank")
    rawD.unpersist(); e.unpersist(); nodes.unpersist()
    out
  }

  /** Personalized PageRank (teleport restricted to a source set — the
    * "similar to THESE nodes" primitive behind graph recommenders and
    * seed-set expansion): rank = (1−d)·t(v) + d·(inbound + dmass·t(v)),
    * where t(v) = 1/|S| for source nodes and 0 elsewhere; dangling mass
    * re-teleports to the source set, so total rank stays 1.0. Same
    * per-round shape and iteration discipline as [[pageRank]] — the
    * teleport weight is one static column riding the rank state.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val rawD = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = rawD.where(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = rawD.select(col("src").as("node"))
      .union(rawD.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcSet = sources.select(col(sourceCol).cast("long").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nS = srcSet.count()
    require(nS > 0, "personalizedPageRank needs at least one source node in the graph")
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // static per-node state: teleport weight + out-degree; rank starts AT
    // the teleport distribution.
    val init = nodes
      .join(srcSet.withColumn("_s", lit(1)), Seq("node"), "left")
      .join(outDeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .withColumn("t", when(col("_s").isNotNull, lit(1.0) / nS).otherwise(lit(0.0)))
      .select(col("node"), col("deg"), col("t"), col("t").as("rank"))
    // per-round materialization at any depth — this round's dangling
    // mass rides the materializing action as an observe() metric and
    // enters round i+1 as a literal; one job per round, no dangling
    // aggregate job or broadcast (the lazily-chained branch was measured
    // slower — see [[pageRank]])
    def dmassMetric: Column =
      coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0.0)).as("dmass")
    var obs = org.apache.spark.sql.Observation()
    var ranks = Iterate.materialize(init.observe(obs, dmassMetric))
    var i = 0
    while (i < iterations) {
      val dmass = obs.get("dmass").asInstanceOf[Double]
      val inbound = ranks.df.where(col("deg").isNotNull)
        .select(col("node").as("src"), (col("rank") / col("deg")).as("share"))
        .join(e, "src")
        .groupBy("dst")
        .agg(sum("share").as("inbound"))
      val next = ranks.df.select("node", "deg", "t")
        .join(inbound.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("deg"), col("t"),
          (lit(1.0 - damping) * col("t") +
            lit(damping) * (coalesce(col("inbound"), lit(0.0)) +
              lit(dmass) * col("t"))).as("rank"))
      obs = org.apache.spark.sql.Observation()
      val materialized = Iterate.materialize(next.observe(obs, dmassMetric))
      ranks.release()
      ranks = materialized
      i += 1
    }
    val out = ranks.df.select("node", "rank")
    rawD.unpersist(); e.unpersist(); nodes.unpersist(); srcSet.unpersist()
    out
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. '07): every node starts as its own label; each round, every
    * node adopts its neighbors' most frequent label (ties → smallest
    * label). Synchronous updates + deterministic tie-break make the
    * result a pure function of the edge list and round count — no RNG,
    * no visit order (the async variant's nondeterminism is exactly what
    * a reproducible pipeline cannot have).
    *
    * Data layout is Pregel's (GraphX/Giraph): ONE cached adjacency-list
    * table `(src, nbrs ARRAY<BIGINT>)`, hash-partitioned on `src` by its
    * own building aggregation. Each round's label state is partitioned on
    * the same key, so the adj⋈labels join is exchange-FREE every round;
    * message delivery (explode + `repartition(node)`) is the round's one
    * exchange, and both the (node, label) count and the per-node argmax
    * `max(struct(cnt, -label))` then run partition-local on top of it
    * (HashPartitioning(node) satisfies both groupings). Adjacency rows
    * bound task memory by max-degree — fine for the bounded-degree
    * co-occurrence graphs this engine builds. Rounds chain lazily, cut
    * every [[Iterate.LazyRounds]]. An adjacency that fits the
    * [[LocalEndgame]] bound runs the same rounds on the driver instead.
    * Output: (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 10): DataFrame = {
    val pairs = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // collect_set both dedups multi-edges (simple-graph semantics, each
    // neighbor votes once) and builds the adjacency row in the SAME
    // aggregation — no separate distinct pass over the pair set
    val adj = pairs.where(col("src") =!= col("dst"))
      .unionAll(pairs.where(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src").agg(collect_set(col("dst")).as("nbrs"))
    // node set from the raw endpoints: a node whose only incident edges
    // are self-loops has no adjacency row but must still appear in the
    // output with its own label, not vanish
    val nodes = pairs.select(col("src").as("node"))
      .unionAll(pairs.select(col("dst").as("node"))).distinct()
    labelPropagationAdj(adj, nodes, iterations)
  }

  /** [[labelPropagation]] over a caller-built adjacency table `(src,
    * nbrs ARRAY<BIGINT>)` + node set `(node)`. For sources that are
    * naturally group-shaped (e.g. co-occurrence within an order or a
    * session), building the adjacency DIRECTLY from the groups —
    * `groupBy(group).collect_set(item)` then per-group neighbor explode
    * into `groupBy(item).collect_set(nbr)` — skips the materialized
    * pair-list exchange entirely; this entry point accepts that shape.
    * `nbrs` must be self-loop-free, deduplicated (each neighbor votes
    * once), and SYMMETRIC (u ∈ nbrs(v) ⟺ v ∈ nbrs(u)): rounds push each
    * src's label to its nbrs, which equals the pull-side tally only for
    * undirected adjacency — a directed adjacency would silently compute
    * reversed-edge vote semantics. `nodes` may be a superset of adj's
    * keys — extra nodes keep their own label.
    */
  def labelPropagationAdj(adjacency: DataFrame, nodeSet: DataFrame,
                          iterations: Int): DataFrame =
    labelPropagationAdjImpl(adjacency, Some(nodeSet), iterations)

  /** [[labelPropagationAdj]] when the node set IS the adjacency key set
    * (every node has ≥ 1 neighbor): with symmetric adjacency, every round
    * delivers a label to every key, so the final graft-back join (and the
    * node-set persist) is an exact self-map — skipped entirely.
    */
  def labelPropagationAdj(adjacency: DataFrame,
                          iterations: Int): DataFrame =
    labelPropagationAdjImpl(adjacency, None, iterations)

  private def labelPropagationAdjImpl(adjacency: DataFrame,
                          nodeSet: Option[DataFrame],
                          iterations: Int): DataFrame = {
    // no persist before the probe: a cache write of the array-typed
    // adjacency costs more than the whole local endgame (measured r16 —
    // persist+stats+collect 1.05 s vs bare collect 0.8 s at sf0.1)
    val probe = LocalEndgame.collect("labelPropagation",
      adjacency.select(col("src"), col("nbrs")),
      minRowBytes = 8 + LocalEndgame.RowOverhead,
      (r: org.apache.spark.sql.Row) =>
        8 + LocalEndgame.RowOverhead + 8L * r.getSeq[Long](1).length)
    // isolated nodes (no non-self-loop neighbors) keep their own label
    def withIsolated(nodes: Option[DataFrame], labels: DataFrame) = nodes match {
      case Some(ns) => ns
        .join(labels, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
      case None => labels
    }
    probe match {
      case Some(rows) =>
        // (r17: dropping this materialize on the local endgame measured
        // flat-to-slightly-SLOWER in interleaved A/B — the checkpoint is a
        // 2k-row write and the consumer re-reads it cheaper than the
        // createDataFrame re-encode — so the shape stays)
        Iterate.materialize(withIsolated(nodeSet,
          localLabelProp(adjacency.sparkSession, rows, iterations))).df
      case None =>
        val adj = adjacency.persist(StorageLevel.MEMORY_AND_DISK)
        val nodesOpt = nodeSet.map(_.persist(StorageLevel.MEMORY_AND_DISK))
        val (labels, pending) = distributedLabelRounds(adj, iterations)
        // materialized so the returned frame stays cheap to re-consume
        // after the backing caches are dropped (the caller gets a
        // lineage-cut result, GC reclaims the checkpoint)
        val out = Iterate.materialize(withIsolated(nodesOpt, labels))
        pending.foreach(_.release())
        adj.unpersist(); nodesOpt.foreach(_.unpersist())
        out.df
    }
  }

  /** The distributed synchronous rounds (original shape): one message
    * exchange + one vote tally per round, lineage-cut every
    * [[Iterate.LazyRounds]]. Seeded from adj itself — co-partitioned with
    * every later round's join. Returns the final label frame plus the
    * last pending lineage cut (released by the caller once consumed).
    */
  private def distributedLabelRounds(adj: DataFrame,
      iterations: Int): (DataFrame, Option[Iterate.Materialized]) = {
    var labels: DataFrame = adj.select(col("src").as("node"), col("src").as("label"))
    var pending: Option[Iterate.Materialized] = None
    var i = 0
    while (i < iterations) {
      labels = adj.join(labels.withColumnRenamed("node", "src"), "src")
        .select(explode(col("nbrs")).as("node"), col("label"))
        .repartition(col("node"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      i += 1
      if (i % Iterate.LazyRounds == 0 && i < iterations) {
        val cut = Iterate.materialize(labels)
        pending.foreach(_.release()) // consumed by the cut we just ran
        pending = Some(cut)
        labels = cut.df
      }
    }
    (labels, pending)
  }

  /** Driver-local synchronous label propagation — bit-identical to
    * [[distributedLabelRounds]] (same seed, same per-round vote tally,
    * same (count desc, label asc) tie-break, and the same
    * drops-nodes-with-no-incoming-votes behavior that the final
    * graft-back join repairs). Guarded by [[LocalEndgame]].
    */
  private def localLabelProp(sess: org.apache.spark.sql.SparkSession,
      probe: Array[org.apache.spark.sql.Row], iterations: Int): DataFrame = {
    import sess.implicits._
    val rows: Array[(Long, Seq[Long])] =
      probe.map(r => (r.getLong(0), r.getSeq[Long](1)))
    var labels = new java.util.HashMap[Long, Long](rows.length * 2)
    rows.foreach { case (u, _) => labels.put(u, u) }
    var i = 0
    while (i < iterations) {
      val votes = new java.util.HashMap[Long, java.util.HashMap[Long, Long]](rows.length * 2)
      rows.foreach { case (u, nbrs) =>
        if (labels.containsKey(u)) {
          val lu = labels.get(u)
          nbrs.foreach { v =>
            votes.computeIfAbsent(v, _ => new java.util.HashMap[Long, Long]())
              .merge(lu, 1L, (a, b) => a + b)
          }
        }
      }
      val nl = new java.util.HashMap[Long, Long](rows.length * 2)
      votes.forEach { (v, m) =>
        var bestLabel = Long.MaxValue; var bestCnt = -1L
        m.forEach { (lab, cnt) =>
          if (cnt > bestCnt || (cnt == bestCnt && lab < bestLabel)) {
            bestCnt = cnt; bestLabel = lab
          }
        }
        nl.put(v, bestLabel)
      }
      labels = nl
      i += 1
    }
    labels.asScala.toSeq.toDF("node", "label")
  }

  /** Driver-local [[bfsLevels]]: the same first-arrival levels. */
  private def localBfs(edges: Array[(Long, Long)], sources: Array[Long],
      maxLevels: Int): Seq[(Long, Long)] = {
    val adjLocal = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    edges.foreach { case (u, v) =>
      adjLocal.computeIfAbsent(u,
        _ => scala.collection.mutable.ArrayBuffer.empty) += v
    }
    val level = new java.util.HashMap[Long, Long]()
    var frontier: Seq[Long] = sources.toSeq
    frontier.foreach(n => level.put(n, 0L))
    var lvl = 0L
    while (lvl < maxLevels && frontier.nonEmpty) {
      val next = scala.collection.mutable.HashSet.empty[Long]
      frontier.foreach { u =>
        val ns = adjLocal.get(u)
        if (ns != null) ns.foreach { v => if (!level.containsKey(v)) next += v }
      }
      lvl += 1
      frontier = next.toSeq
      frontier.foreach(n => level.put(n, lvl))
    }
    level.asScala.toSeq
  }

  /** BFS reachability levels over a directed edge list from a source
    * node set: `(node, level)` where level is the first-arrival (=
    * minimum) hop count, up to `maxLevels`. Pass a symmetrized edge
    * list for undirected semantics.
    *
    * Scale shape: classic frontier iteration — each round is one
    * frontier⋈edges key shuffle (cost bounded by the frontier's
    * out-edges, not the graph) plus an anti-join against the visited
    * set; rounds are lineage-cut via [[Iterate.materialize]] with
    * per-round storage release, so memory/disk stay O(1) in rounds.
    * The frontier rides as a level filter on the visited frame rather
    * than a second materialized table. An empty frontier stops early
    * (checked on the checkpointed round result, not by re-running the
    * round's lineage).
    */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                sources: DataFrame, sourceCol: String,
                maxLevels: Int = 10,
                edgesDistinct: Boolean = false): DataFrame = {
    // NULL endpoints carry no reachability and a NULL source would emit a
    // NULL node at level 0 — drop both explicitly (the =!= filter already
    // rejects null-null rows, but null-to-value edges must not survive
    // into the symmetric caller's union either).
    // `edgesDistinct = true` skips the internal dedup exchange. Duplicate
    // edges are TOLERATED either way — every level dedups its frontier
    // (`next.distinct()`), so dups only inflate that level's join input —
    // which makes the skip the right call whenever the caller's dup rate
    // is low (a near-duplicate-free derivation pays a full |E| exchange
    // to trim a few percent off later join inputs).
    val eRaw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    // NOT pre-partitioned on src: AQE broadcasts the (small) frontier at
    // every level, so the cached edge list is probed in place and never
    // re-shuffled — an up-front repartition only adds a full |E|
    // exchange (measured twice, rounds 8 and 9: ~1.9s → ~2.9s at sf0.1).
    // On a cluster where frontiers outgrow the broadcast threshold,
    // repartition the edge list on src before calling.
    val srcNodes = sources.select(col(sourceCol).cast("long").as("node"))
      .where(col("node").isNotNull).distinct()
    // a sub-bound graph AND source set finish as a driver-local BFS over
    // the RAW (pre-distinct) edges — duplicate edges are harmless to the
    // level map, so the dedup exchange is skipped entirely
    val sess0 = eRaw.sparkSession
    import sess0.implicits._
    val local = for {
      es <- LocalEndgame.collect("bfsLevels.edges", eRaw.as[(Long, Long)], 16,
        (_: (Long, Long)) => 16L)
      ss <- LocalEndgame.collect("bfsLevels.sources", srcNodes.as[Long], 8,
        (_: Long) => 8L)
    } yield localBfs(es, ss, maxLevels)
    if (local.isDefined) return local.get.toDF("node", "level")
    val e = (if (edgesDistinct) eRaw else eRaw.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val src0 = srcNodes.withColumn("level", lit(0L))
    if (maxLevels <= Iterate.LazyRounds) {
      // Bounded depth: no per-round driver action at all. Each frontier is
      // consumed by the next level's edge join, by every later level's
      // anti-join, and by the final union — a LAZY persist per frontier
      // makes all consumers after the first read the cached frontier, and
      // the final materialize below is the ONLY job. An exhausted frontier
      // is simply empty and the remaining levels are no-ops, so the
      // early-exit convergence check (a job per round) isn't worth its
      // price here. Frontiers are disjoint by construction (anti-join vs
      // all prior levels), so the union IS the first-arrival level map.
      var frontiers = List(src0.persist(StorageLevel.MEMORY_AND_DISK))
      var lvl = 0L
      while (lvl < maxLevels) {
        val seen = frontiers.map(_.select("node")).reduce(_ unionAll _)
        val next = frontiers.head.select(col("node").as("src"))
          .join(e, "src")
          .select(col("dst").as("node")).distinct()
          .join(seen, Seq("node"), "left_anti")
          .withColumn("level", lit(lvl + 1L))
          .persist(StorageLevel.MEMORY_AND_DISK)
        frontiers ::= next
        lvl += 1
      }
      val out = Iterate.materialize(frontiers.reverse.reduce(_ unionAll _))
      frontiers.foreach(_.unpersist())
      e.unpersist()
      out.df
    } else {
      var visited = Iterate.materialize(src0)
      var lvl = 0L
      var done = false
      while (lvl < maxLevels && !done) {
        val frontier = visited.df.where(col("level") === lvl)
          .select(col("node").as("src"))
        val next = frontier.join(e, "src")
          .select(col("dst").as("node")).distinct()
          .join(visited.df.select("node"), Seq("node"), "left_anti")
          .withColumn("level", lit(lvl + 1L))
        // frontier-size convergence rides the materializing action via
        // observe() — one job per round, not a second isEmpty scan
        val obs = org.apache.spark.sql.Observation()
        val grown = Iterate.materialize(visited.df.unionAll(
          next.observe(obs, count(lit(1)).as("cnt"))))
        done = obs.get("cnt").asInstanceOf[Long] == 0L
        visited.release()
        visited = grown
        lvl += 1
      }
      e.unpersist()
      visited.df
    }
  }

  /** Exact triangle count by degree-ordered orientation (the MapReduce
    * classic — Suri & Vassilvitskii '11): orient each undirected edge
    * from its lower-(degree, id) endpoint, so every out-degree is
    * O(√m) and each triangle has exactly ONE "pivot" node with two
    * out-edges to its other corners. The wedge self-join on the pivot —
    * the quadratic step — is therefore bounded per node however skewed
    * the raw degrees are (a celebrity node of degree 10^6 pivots almost
    * nothing; its wedges are charged to its low-degree neighbors).
    * Input: undirected edges, any orientation/duplication; self-loops
    * dropped. Output: one row (n_nodes, n_edges, n_triangles).
    */
  /** Node-count bound under which the degree table is broadcast to the
    * orientation joins instead of shuffle-joined: 5M (node id + degree)
    * rows ≈ 80 MB serialized — comfortably inside executor broadcast
    * budgets, and it removes the two widest exchanges of the plan (the
    * full edge list re-shuffled on u and again on v). Above the bound the
    * plan falls back to key-partitioned joins, which scale to any |V|.
    */
  private val BroadcastDegreeLimit = 5_000_000L

  /** Edge-count bound above which the wedge build switches from the
    * self-join to the per-pivot neighbor-list aggregation. Measured (r12,
    * NOTES.md "Graph scale smoke") on its skewed graph: 1.6M edges —
    * self-join 5.5 s vs list 6.0 s (broadcast-friendly sizes, the join is
    * free); 16M edges — self-join 27.2 s vs list 18.0 s (the join
    * re-ships the oriented set; the list build pays one src-keyed
    * exchange and explodes C(outdeg ≤ O(√m), 2) pairs row-locally). The
    * r11 sf0.1-only measurement that reverted the list build (55c12f2)
    * sat below the crossover — this dispatch keeps both regimes on their
    * winner.
    */
  private val WedgeListEdgeCutover = 4_000_000L

  /** Edge count below which the triangle-closing semi-join broadcasts
    * the (a, b) edge list instead of shuffling the (much larger) wedge
    * table: two longs per edge ≈ 16 B, so the cap is a ~64 MB broadcast.
    */
  private val BroadcastEdgeLimit = 4_000_000L

  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleCountImpl(edges, srcCol, dstCol, neighborListWedges = None)

  /** Driver-local exact triangle census over a collected deduped edge
    * list — the BFS/LPA local-endgame algorithm (forward counting over
    * the (deg, id)-acyclic orientation: each triangle is counted exactly
    * once at its SINK, via |outN(a) ∩ outN(b)| per oriented edge a→b —
    * Schank & Wagner '05). All-primitive CSR arrays; cost is the wedge
    * probe count, the same Σ C(outdeg, 2) bound the distributed wedge
    * build pays, without its exchanges. Returns (n_nodes, n_triangles);
    * the edge count is the caller's observe-carried `m`.
    */
  private def localTriangleCensus(rows: Array[org.apache.spark.sql.Row]): (Long, Long) = {
    val m = rows.length
    val idx = new java.util.HashMap[java.lang.Long, Integer](m * 2)
    val orig = new scala.collection.mutable.ArrayBuffer[Long](m)
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue
      else { val i = idx.size; idx.put(x, Integer.valueOf(i)); orig += x; i }
    }
    val ua = new Array[Int](m); val va = new Array[Int](m)
    var i = 0
    while (i < m) { ua(i) = id(rows(i).getLong(0)); va(i) = id(rows(i).getLong(1)); i += 1 }
    val n = idx.size
    val deg = new Array[Int](n)
    i = 0; while (i < m) { deg(ua(i)) += 1; deg(va(i)) += 1; i += 1 }
    // orient lower (deg, original id) → higher: out-degree O(√m) however
    // skewed the raw degrees — the same orientation the distributed path
    // computes with two degree joins
    def lower(a: Int, b: Int): Boolean =
      deg(a) < deg(b) || (deg(a) == deg(b) && orig(a) < orig(b))
    val outDeg = new Array[Int](n)
    i = 0
    while (i < m) {
      if (lower(ua(i), va(i))) outDeg(ua(i)) += 1 else outDeg(va(i)) += 1
      i += 1
    }
    val start = new Array[Int](n + 1)
    i = 0; while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(start, n)
    i = 0
    while (i < m) {
      var s = ua(i); var d = va(i)
      if (!lower(s, d)) { val t = s; s = d; d = t }
      adj(fill(s)) = d; fill(s) += 1
      i += 1
    }
    i = 0; while (i < n) { java.util.Arrays.sort(adj, start(i), start(i + 1)); i += 1 }
    var tri = 0L
    i = 0
    while (i < m) {
      var s = ua(i); var d = va(i)
      if (!lower(s, d)) { val t = s; s = d; d = t }
      var p = start(s); var q = start(d)
      val pe = start(s + 1); val qe = start(d + 1)
      while (p < pe && q < qe) {
        val x = adj(p); val y = adj(q)
        if (x == y) { tri += 1; p += 1; q += 1 }
        else if (x < y) p += 1 else q += 1
      }
      i += 1
    }
    (n.toLong, tri)
  }

  /** Both wedge builds, test-selectable (GraphSpec checks they agree) or
    * size-dispatched on [[WedgeListEdgeCutover]] when `neighborListWedges`
    * is None. Exactly TWO jobs (r15, VERDICT r14 #3 — the former shape
    * paid a deg.count job + an e.count job + three cache fills before the
    * wedge job, pure scheduling overhead at small SF): job 1 dedups the
    * edge list into a checkpoint with the edge count riding the
    * materializing action as an `observe()` metric (the SCC pattern at
    * [[stronglyConnectedComponents]]); job 2 is the wedge+closure
    * computation itself, inside which the degree table's lazy cache fills
    * and the exact node count (an OUTPUT column, so it cannot be
    * approximated) is folded in as a broadcast one-row aggregate instead
    * of a separate driver count.
    */
  private[graft] def triangleCountImpl(edges: DataFrame, srcCol: String,
      dstCol: String, neighborListWedges: Option[Boolean]): DataFrame = {
    val eObs = org.apache.spark.sql.Observation()
    val em = Iterate.materialize(
      edges.select(
          least(col(srcCol), col(dstCol)).cast("long").as("u"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .observe(eObs, count(lit(1)).as("m")))
    val e = em.df
    val nEdges = eObs.get("m").asInstanceOf[Long]
    // LOCAL ENDGAME (r17): when the edge list fits the [[LocalEndgame]]
    // bound (2 longs per edge), the whole census — degree, orientation,
    // wedge probe — runs on the driver off the edge checkpoint the op
    // already paid for, decided by the observe-carried edge count (no
    // probe job). This removes the wedge job's two cache fills, three
    // broadcast builds and the closure semi-join, each a scheduling
    // barrier that dominates sub-bound graphs. A forced wedge build
    // (`neighborListWedges` set) bypasses it.
    if (neighborListWedges.isEmpty &&
        LocalEndgame.fits("triangleCount", nEdges, 16)) {
      val rows = e.collect()
      em.release()
      val (nNodes, nTri) = localTriangleCensus(rows)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nodes",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_edges",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_triangles",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return edges.sparkSession.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(nNodes, nEdges, nTri)), schema)
    }
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // broadcast decision WITHOUT a node-count job: deg has at most
    // 2·nEdges rows, so edge-count ≤ half the limit guarantees the
    // broadcast fits. (Slightly conservative — a dense multigraph with
    // few nodes but > limit/2 edges falls back to the shuffle join — but
    // it trades a full extra scheduling barrier for a decision the
    // observe-carried edge count already answers.)
    val degSide: DataFrame => DataFrame =
      if (2 * nEdges <= BroadcastDegreeLimit) broadcast else identity
    val useList = neighborListWedges.getOrElse(nEdges > WedgeListEdgeCutover)
    // orient by (deg, id): lower endpoint keeps the out-edge
    val oriented = e
      .join(degSide(deg.withColumnsRenamed(Map("n" -> "u", "deg" -> "du"))), "u")
      .join(degSide(deg.withColumnsRenamed(Map("n" -> "v", "deg" -> "dv"))), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at the pivot (two out-edges), closed by a third oriented edge
    val wedges =
      if (useList)
        oriented.groupBy("src")
          .agg(sort_array(collect_list(col("dst"))).as("ds"))
          .where(size(col("ds")) >= 2)
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"))
            .as("w"))
          .select(col("w.a"), col("w.b"))
      else {
        val w1 = oriented.select(col("src").as("p"), col("dst").as("a"))
        val w2 = oriented.select(col("src").as("p"), col("dst").as("b"))
        w1.join(w2, "p").where(col("a") < col("b"))
      }
    val closing0 = oriented.select(
      least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
    // The wedge table is the big side (Σ C(outdeg, 2) ≫ |E|): when the
    // EDGE list fits an executor broadcast (~16 B/edge), closing the
    // wedges via a broadcast semi-join keeps the wedge stream map-only —
    // explode → probe → partial count, no 10×-|E| exchange or sort
    // (measured 2.3 s → sub-second on the 4.2M-wedge sf0.1 graph). Past
    // the limit the shuffle semi-join is the scale path: both sides
    // hash-partition on (a, b), the classic distributed closure step.
    val closing =
      if (nEdges <= BroadcastEdgeLimit) broadcast(closing0) else closing0
    val triangles = wedges.join(closing, Seq("a", "b"), "left_semi")
    // exact node count folded into the SAME job as the triangle closure:
    // a broadcast one-row aggregate over the deg cache (which fills here),
    // not a separate driver count() barrier
    val nodesRow = deg.agg(count(lit(1)).as("n_nodes"))
    val out = triangles.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(nodesRow))
      .select(col("n_nodes"), lit(nEdges).as("n_edges"),
        col("n_triangles"))
    // checkpoint the one-row result, then free the caches + edge checkpoint
    val res = Iterate.scoped(out, oriented, deg)
    em.release()
    res
  }

  /** Strongly connected components of a DIRECTED graph via iterated
    * forward/backward minimum-label reachability — the distributed
    * FW-BW / coloring family (Orzan '04; Slota et al. '14), in its
    * min-label form:
    *
    * One outer round computes F(v) = min id over nodes that can REACH v
    * along forward edges (v included) and B(v) = the same along
    * reversed edges. F(v) = B(v) = c certifies mutual reachability with
    * c, and members of one SCC share identical (F, B) pairs (mutual
    * reachability makes their reacher/reachee sets equal), so
    * {v : F(v) = B(v)} settles WHOLE components exactly — never a
    * superset or a split. Settled components leave the graph (a cycle
    * can never pass through a foreign settled SCC — it would merge with
    * it), and the round repeats on the induced remainder. The global
    * minimum live node always has F = B = itself, so every round
    * settles ≥ 1 component; in practice the min labels partition the
    * graph and many SCCs settle per round.
    *
    * Scale shape: each propagation step is ONE edge-keyed join + a
    * node-keyed min aggregation; the label sum is strictly decreasing,
    * so convergence is read from an `observe()` in the same action that
    * materializes the step (no extra job). Steps are lineage-cut and
    * storage-released ([[Iterate]]). Inner steps are bounded by the
    * live graph's diameter (a min label moves one hop per step), outer
    * rounds by the condensation's settle depth; both are require()d —
    * an under-iterated SCC answer is WRONG, not approximate (same
    * contract as SuffixArray.build's convergence check).
    *
    * LOCAL ENDGAME (r14): once the live remainder (nodes and edges, up
    * to 2 longs each) fits the [[LocalEndgame]] bound, the loop collects
    * it and finishes with iterative Tarjan on the driver, labeling each
    * component by its min member — bit-identical to what further
    * distributed rounds would settle. This is the standard hybrid of
    * the parallel-SCC literature (Hong et al. PPoPP'13, Slota et al.
    * '14: trim + FW-BW descent, serial finish on the small remainder):
    * the descent's tail rounds each cost full scheduling to settle a
    * shrinking fringe, which is exactly the regime a single task
    * finishes quickly.
    *
    * Returns (node, scc_id) with scc_id = the component's minimum
    * member id.
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxOuter: Int = 25, maxInner: Int = 100): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val eObs = org.apache.spark.sql.Observation()
    var live = Iterate.materialize(e0.observe(eObs, count(lit(1)).as("m")))
    var mLive = eObs.get("m").asInstanceOf[Long]
    // NOTE on constants (measured at sf0.1, 25-node label tables): the
    // loop's cost is per-exchange scheduling — with AQE each of the
    // O(total steps) label exchanges costs ~0.15 s regardless of chunk
    // length (stages serialize through AQE's re-planning barrier), and
    // WITHOUT AQE the chained joins fall back to sort-merge and run 3×
    // slower (28 s vs 8-10 s) — so AQE stays on and the win comes from
    // fewer steps, not cheaper ones.
    // nodes derive from the MATERIALIZED edge list — never re-run the
    // caller's (possibly expensive) edge pipeline a second time
    var nodes = live.df.select(col("src").as("node"))
      .unionAll(live.df.select(col("dst").as("node"))).distinct()
    var nLive = nodes.count()
    // label-table handles stay alive across rounds: settled rows and the
    // next round's node set are LAZY views over them (zero bookkeeping
    // jobs per round beyond the edge semi-join), released after the
    // final union materializes
    val labs = scala.collection.mutable.ArrayBuffer.empty[Iterate.Materialized]
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    // round storage must not outlive a FAILED descent either: an inner
    // not-converged error (minReachBoth) propagating through this loop
    // would otherwise strand `live` + every settled label checkpoint
    // (r14 review — the same leak class the maxOuter path releases)
    try while (nLive > 0 && outer < maxOuter) {
      if (LocalEndgame.fits("stronglyConnectedComponents", nLive + mLive, 16)) {
        // local endgame: one collect, serial Tarjan, done (see scaladoc)
        val edgeArr = live.df.collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val nodeArr = nodes.collect().map(_.getLong(0))
        val comp = localTarjanMinLabel(nodeArr, edgeArr)
        val sess = live.df.sparkSession
        import sess.implicits._
        locals += comp.toSeq.toDF("node", "scc_id")
        nLive = 0
      } else {
        val (lab, unresolved) = minReachBoth(live.df, nodes, maxInner)
        labs += lab
        nLive = unresolved
        outer += 1
        // F(v) = B(v) certifies v's whole component — join-free settle test
        if (unresolved > 0) { // skip the edge shrink when everything settled
          val remaining = lab.df.where(col("f") =!= col("b")).select("node")
          val mObs = org.apache.spark.sql.Observation()
          val liveNext = Iterate.materialize(
            live.df
              .join(remaining.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
              .join(remaining.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
              .observe(mObs, count(lit(1)).as("m")))
          live.release()
          mLive = mObs.get("m").asInstanceOf[Long]
          nodes = remaining; live = liveNext
        }
      }
    }
    catch { case e: Throwable =>
      live.release()
      labs.foreach(_.release())
      throw e
    }
    if (nLive != 0) {
      // release round storage BEFORE failing — a long-lived library
      // session must not leak checkpoints on the error path (ADVICE r13)
      live.release()
      labs.foreach(_.release())
      throw new IllegalArgumentException(
        s"SCC not settled after $maxOuter outer rounds ($nLive nodes live) — raise maxOuter")
    }
    live.release()
    val settled = labs.map(_.df.where(col("f") === col("b"))
      .select(col("node"), col("f").as("scc_id"))).toSeq ++ locals
    if (settled.isEmpty) return e0.sparkSession.emptyDataFrame
      .withColumn("node", lit(0L)).withColumn("scc_id", lit(0L))
      .select("node", "scc_id").limit(0)
    val out = Iterate.materialize(settled.reduce(_ unionAll _))
    labs.foreach(_.release())
    out.df
  }

  /** Iterative Tarjan SCC over a collected remainder, labeling every
    * node with its component's MINIMUM member id (the exact contract of
    * the distributed settle) — nodes without surviving edges are their
    * own singleton components. Driver-local by design: callers bound
    * the input through [[LocalEndgame]] first.
    */
  private def localTarjanMinLabel(nodes: Array[Long],
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    val empty = Array.empty[Long]
    for (root <- nodes if !index.contains(root)) {
      // explicit work stack: (node, next-child offset) — no recursion
      val work = scala.collection.mutable.ArrayBuffer((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.last
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack += v; onStack += v
        }
        val out = adj.getOrElse(v, empty)
        if (ci < out.length) {
          work(work.length - 1) = (v, ci + 1)
          val w = out(ci)
          if (!index.contains(w)) work += ((w, 0))
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            // pop the component, label by its min member id
            var i = stack.length - 1
            while (stack(i) != v) i -= 1
            val members = stack.slice(i, stack.length)
            stack.remove(i, stack.length - i)
            val label = members.min
            members.foreach { m => onStack -= m; comp(m) = label }
          }
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    comp.toMap
  }

  /** Fused forward/backward min-label reachability fixpoint: one label
    * table (node, f, b) where f is the min id over nodes with a path TO
    * v and b the min id over nodes v has a path to (both include v).
    * Each step ships both propagations through a single node-keyed
    * aggregation (min ignores the NULL the other direction contributes),
    * so one materialized job advances BOTH frontiers — half the per-step
    * scheduling of separate F/B loops. Labels only decrease, so
    * sum(f) + sum(b) is strictly decreasing until fixpoint; the metric
    * rides an `observe()` on the materializing action, summed in
    * DECIMAL(38,0) (ADVICE r13: labels are arbitrary 64-bit node ids,
    * and a BIGINT sum over many nodes can silently wrap — two wrapped
    * sums landing adjacent-equal would falsely certify the fixpoint;
    * 38 digits cannot wrap at any realistic row count, so
    * adjacent-equal stays a sound certificate). Caller releases the
    * returned handle.
    */
  private def minReachBoth(edges: DataFrame, nodes: DataFrame,
      maxInner: Int): (Iterate.Materialized, Long) = {
    // One min-label step, lazily composed — [[Iterate.LazyRounds]] of
    // these chain between materializations, so a diameter-d fixpoint
    // costs ceil(d / LazyRounds) jobs, not d (the LPA lesson: per-round
    // scheduling dwarfs per-round work on all but the largest graphs).
    // The step must reference `lab` exactly ONCE or the chained plan
    // grows EXPONENTIALLY in chunk length (3 refs/step = 3^k leaf
    // copies — measured 8 s → 27 s before this shape): one message
    // table carries forward edges, reversed edges, AND per-node
    // self-loops in both roles, so propagation + keep-own-label is a
    // single join + single aggregation over it.
    val msgs = edges
      .select(col("src").as("from"), col("dst").as("to"), lit(true).as("isF"))
      .unionByName(edges
        .select(col("dst").as("from"), col("src").as("to"), lit(false).as("isF")))
      .unionByName(nodes
        .select(col("node").as("from"), col("node").as("to"), lit(true).as("isF")))
      .unionByName(nodes
        .select(col("node").as("from"), col("node").as("to"), lit(false).as("isF")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def step(lab: DataFrame): DataFrame =
      msgs.join(lab.withColumnRenamed("node", "from"), "from")
        .groupBy(col("to"))
        .agg(min(when(col("isF"), col("f"))).as("f"),
          min(when(!col("isF"), col("b"))).as("b"))
        .withColumnRenamed("to", "node")
    val sumFB = (sum(col("f").cast("decimal(38,0)")) +
      sum(col("b").cast("decimal(38,0)"))).as("s")
    def sumOf(o: org.apache.spark.sql.Observation): java.math.BigDecimal =
      o.get("s").asInstanceOf[java.math.BigDecimal]
    val obs0 = org.apache.spark.sql.Observation()
    var lab = Iterate.materialize(
      nodes.select(col("node"), col("node").as("f"), col("node").as("b"))
        .observe(obs0, sumFB,
          count(when(col("f") =!= col("b"), 1)).as("unresolved")))
    var prevSum = sumOf(obs0)
    var unresolved = obs0.get("unresolved").asInstanceOf[Long] // 0 at init
    var steps = 0
    var converged = false
    while (!converged && steps < maxInner) {
      // single-reference steps keep plan growth linear, but trailing
      // no-op steps still pay their exchange stages — LazyRounds (4)
      // measured faster than 8 (4.7 s vs 3.3 s at sf0.1: stage cost
      // dominates job cost on this loop)
      val chunk = math.min(Iterate.LazyRounds, maxInner - steps)
      // EVERY step in the chunk carries its own observe(): the label sum
      // is non-increasing, so the first adjacent-equal pair certifies
      // the fixpoint INSIDE the chunk — no separate confirmation job
      // (the trailing no-op steps ride the same action), and a chunk
      // that lands exactly on the fixpoint is the only case that needs
      // a second chunk. Metrics nodes stream over rows — no extra
      // stage, no extra job.
      val obsList = (1 to chunk).map(_ => org.apache.spark.sql.Observation())
      val next = (1 to chunk).foldLeft(lab.df) { (df, i) =>
        step(df).observe(obsList(i - 1), sumFB,
          count(when(col("f") =!= col("b"), 1)).as("unresolved"))
      }
      val m = Iterate.materialize(next)
      val sums = obsList.map(sumOf)
      converged = (prevSum +: sums).sliding(2)
        .exists(p => p(0).compareTo(p(1)) == 0)
      prevSum = sums.last
      unresolved = obsList.last.get("unresolved").asInstanceOf[Long]
      lab.release()
      lab = m
      steps += chunk
    }
    msgs.unpersist()
    if (!converged) {
      lab.release() // no checkpoint leak on the error path (ADVICE r13)
      throw new IllegalArgumentException(
        s"min-label reachability not converged after $maxInner steps — raise maxInner")
    }
    (lab, unresolved)
  }

  /** Common-neighbor / Jaccard link-prediction scores (Liben-Nowell &
    * Kleinberg '03): for every node pair (u, v) sharing at least one
    * neighbor, the shared-neighbor count `cn`, both full-graph degrees,
    * the GUARDED-WITNESS Jaccard coefficient cn / (deg_u + deg_v − cn)
    * in exact basis points (integer `div` — no float), and whether the
    * pair is already an edge (link-prediction candidates are the
    * unlinked ones). Guarded-witness: `cn` counts only shared neighbors
    * whose degree passes `maxDegree` (the hub guard below filters
    * WITNESSES, not just pair generation) while deg_u/deg_v stay
    * full-graph — so a pair that also shares a hub neighbor scores
    * BELOW textbook |N(u)∩N(v)| / |N(u)∪N(v)|, deliberately: a hub
    * witness carries near-zero evidence, and discounting it entirely is
    * the same judgement the generation guard makes. The standard
    * similar-entity primitive over co-occurrence graphs (related
    * products, author disambiguation, document linking).
    *
    * Scale shape: pairs are generated ONLY through shared neighbors —
    * a self-join of the symmetric adjacency on the CENTER node (the
    * inverted-index topology every similarity join here uses), never
    * node × node. Centers with degree > `maxDegree` are excluded from
    * pair GENERATION: a hub of degree d contributes C(d, 2) wedges but
    * near-zero per-pair evidence (each shared hub adds 1 to cn while
    * its degree dilutes every Jaccard it touches), so dropping hub
    * centers is the standard bounded-wedge guard. Degrees in the output
    * stay TRUE full-graph degrees, so the score's denominator is exact.
    * The pair-keyed count aggregation is partial-aggregable and the
    * join back to degrees is node-keyed — skew lands on AQE's
    * skew-join split like every other keyed self-join in this module.
    * `minCn` drops pairs below a shared-neighbor support threshold
    * RIGHT after the pair aggregation — single-witness pairs are noise
    * in link prediction and typically ~95% of the candidate space, so
    * the threshold is also what keeps the degree joins and the top-k
    * sort off the full pair table.
    */
  def neighborSimilarity(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 128, minCn: Int = 1): DataFrame = {
    // r17 negative: a triangleCount-style driver-local endgame (collect
    // sub-bound edges, score pairs in primitive open-addressed tables)
    // measured FLAT at equal controls in interleaved A/B at sf0.1
    // (2.28-2.67 vs 2.14-2.37 base; the boxed-map first cut was 4-5×
    // slower) — unlike the census, this op's OUTPUT is the data-scale
    // pair table, so building ~1M driver Rows for the consumer costs
    // what skipping the wedge aggregation saves. The endgame pattern
    // pays only when the local result is bounded (census row, label
    // array); rejected here.
    //
    // materialize the deduped edge list with the edge count riding the
    // materializing action (the triangleCount observe pattern) — the
    // count sizes the degree/edge broadcast decisions below without an
    // extra job
    val eObs = org.apache.spark.sql.Observation()
    val em = Iterate.materialize(
      edges.select(
          least(col(srcCol), col(dstCol)).cast("long").as("u"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .observe(eObs, count(lit(1)).as("m")))
    val e = em.df
    val nEdges = eObs.get("m").asInstanceOf[Long]
    val adj = e.select(col("u").as("n"), col("v").as("nb"))
      .unionAll(e.select(col("v").as("n"), col("u").as("nb")))
    val deg = adj.groupBy("n").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // deg has at most 2·nEdges rows (the triangleCount bound): when it
    // fits, the hub filter and both degree attaches become broadcast
    // hash joins — the candidate-pair stream is never re-exchanged or
    // sorted for node-scale lookups (r17: 3 SortMergeJoins → BHJ, each
    // dropping an Exchange+Sort of the cn stream). Past the limit the
    // shuffle joins are the scale path, as before.
    val degSide: DataFrame => DataFrame =
      if (2 * nEdges <= BroadcastDegreeLimit) broadcast else identity
    val eSide: DataFrame => DataFrame =
      if (nEdges <= BroadcastEdgeLimit) broadcast else identity
    val small = adj.join(degSide(deg.where(col("deg") <= maxDegree)), "n")
      .select(col("n"), col("nb"))
    val cn = small.select(col("n"), col("nb").as("u"))
      .join(small.select(col("n"), col("nb").as("v")), "n")
      .where(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      .where(col("cn") >= minCn)
    val result = cn
      .join(degSide(deg.select(col("n").as("u"), col("deg").as("deg_u"))), "u")
      .join(degSide(deg.select(col("n").as("v"), col("deg").as("deg_v"))), "v")
      .join(eSide(e.withColumn("linked", lit(true))), Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        expr("cn * 10000 div (deg_u + deg_v - cn)").as("jaccard_bp"),
        coalesce(col("linked"), lit(false)).as("linked"))
    // checkpoint the result, then free the degree cache + edge
    // checkpoint — without this a long-lived library session pins them
    // until stop() (the triangleCount discipline)
    val res = Iterate.scoped(result, deg)
    em.release()
    res
  }

  /** k-core decomposition for a fixed k (Matula–Beck peeling): the
    * unique maximal subgraph in which every node has degree ≥ k, found
    * by synchronously removing all nodes of degree < k and repeating to
    * the TRUE fixpoint. The fixpoint is peel-order-independent, so the
    * result — unlike a fixed-round iteration — is a pure function of
    * (edge list, k): rounds-to-convergence affects cost, never the
    * answer, and the DuckDB oracle can run its own recursive CTE to the
    * same fixpoint. The classic web/social graph quality gate (spam
    * farms and bot rings live in shallow cores; dense communities in
    * deep ones).
    *
    * Scale shape: per round one degree aggregation + two semi-joins,
    * all key-partitioned on node id over a monotonically SHRINKING edge
    * set; rounds are lineage-cut and storage-released ([[Iterate]]),
    * convergence read from an `observe()` in the same action as the
    * round materialization (edge count stationary ⟺ no node peeled —
    * peeling only deletes, so equal count means equal set). Returns
    * `(node, core_deg)` — survivors with their within-core degree
    * (≥ k by construction).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    val dir1 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val init = dir1
      .unionAll(dir1.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    var round = Iterate.materialize(init)
    var i = 0
    var converged = false
    var prevCnt = -1L
    while (i < maxRounds && !converged) {
      val e = round.df
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("src"))
      // the symmetric edge list makes survivorship a src-side property;
      // an edge survives iff BOTH endpoints do — two semi-joins
      val next = e
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
      val obs = org.apache.spark.sql.Observation()
      val observed = next.observe(obs, count(lit(1)).as("cnt"))
      val materialized = Iterate.materialize(observed)
      val cnt = obs.get("cnt").asInstanceOf[Long]
      converged = cnt == prevCnt
      prevCnt = cnt
      round.release()
      round = materialized
      i += 1
    }
    val out = Iterate.materialize(
      round.df.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg")))
    round.release()
    out.df
  }
}

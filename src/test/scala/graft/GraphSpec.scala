package graft

import scala.util.Random

import graft.ops.{Graph, LocalEndgame}

/** PageRank: analytic fixed points, mass conservation, and tolerance
  * equality with a naive in-memory reference on seeded random graphs
  * (float iteration → tolerance policy, like sphericalKMeans).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Naive reference: dense iteration with uniform dangling redistribution. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = es.groupBy(_._1).map { case (s, g) => s -> g.size }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val dangling = nodes.filterNot(out.contains).map(rank).sum
      val inbound = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map(e => rank(e._1) / out(e._1)).sum
      }
      rank = nodes.map(v => v ->
        ((1.0 - damping) / n +
          damping * (inbound.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    rank
  }

  test("two-node cycle converges to equal ranks; mass conserved") {
    val got = run(Seq((1L, 2L), (2L, 1L)), 20)
    assert(math.abs(got(1L) - 0.5) < 1e-9 && math.abs(got(2L) - 0.5) < 1e-9)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("dangling node redistributes mass; sink outranks source") {
    val got = run(Seq((1L, 2L)), 30)
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass drifted: $got")
    assert(got(2L) > got(1L))
  }

  test("star hub accumulates the most rank") {
    val got = run((2L to 6L).map(i => (i, 1L)), 15)
    assert(got(1L) === got.values.max)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("bounded-depth lazy path matches the naive reference (3 rounds)") {
    // iterations <= Iterate.LazyRounds takes the lazily-persisted chain
    // with the in-plan dangling-mass broadcast — must agree with the
    // same reference as the eager observe() path
    val rnd = new Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2)
    val got = run(edges, 3)
    val ref = reference(edges, 3)
    assert(got.keySet === ref.keySet)
    got.foreach { case (node, r) =>
      assert(math.abs(r - ref(node)) < 1e-12, s"node $node: $r vs ${ref(node)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("matches the naive reference on seeded random graphs") {
    val rnd = new Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2)
    val got = run(edges, 12)
    val ref = reference(edges, 12)
    assert(got.keySet === ref.keySet)
    got.foreach { case (node, r) =>
      assert(math.abs(r - ref(node)) < 1e-9, s"node $node: $r vs ${ref(node)}")
    }
  }

  // ------------------------------------------------- personalized PageRank

  private def ppr(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  iters: Int = 20): Map[Long, Double] =
    Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        seeds.toDF("n"), "n", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("personalizedPageRank bounded-depth lazy path (4 rounds): mass + seed bias") {
    // 4, not 3: in a 2-cycle the rank oscillates with round parity and
    // the seed leads only on even rounds (rank3 = (0.258, 0.742) exactly)
    val got = ppr(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)), Seq(1L), iters = 4)
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass drifted: $got")
    assert(got(3L) === 0.0 && got(4L) === 0.0)
    assert(got(1L) > got(2L))
  }

  test("personalizedPageRank: mass conserved, zero off the seed component") {
    // two disconnected 2-cycles; seeds only in the first
    val got = ppr(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)), Seq(1L))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass drifted: $got")
    assert(got(3L) === 0.0 && got(4L) === 0.0, "rank leaked off the seed component")
    assert(got(1L) > got(2L), "seed should outrank its non-seed neighbor")
  }

  test("personalizedPageRank: dangling mass re-teleports to seeds only") {
    // 1 -> 2, 2 dangling: its mass must return to the seed, not spread
    val got = ppr(Seq((1L, 2L)), Seq(1L), iters = 30)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(1L) > got(2L), "teleport-to-seed must dominate the dangling sink")
  }

  test("personalizedPageRank: uniform seeds over all nodes equals pageRank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L))
    val nodes = Seq(1L, 2L, 3L)
    val p = ppr(edges, nodes, iters = 15)
    val g = Graph.pageRank(edges.toDF("s", "d"), "s", "d", 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nodes.foreach { n =>
      assert(math.abs(p(n) - g(n)) < 1e-12, s"node $n: ${p(n)} vs ${g(n)}")
    }
  }

  // ----------------------------------------------------- label propagation

  private def lpa(edges: Seq[(Long, Long)], iters: Int = 10): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))

  test("labelPropagation: disjoint cliques get distinct uniform labels") {
    val got = lpa(clique(1L to 5L) ++ clique(10L to 14L))
    assert(got.filterKeys(_ <= 5L).values.toSet.size === 1)
    assert(got.filterKeys(_ >= 10L).values.toSet.size === 1)
    assert(got(1L) !== got(10L))
  }

  test("labelPropagation: bridged cliques keep their own communities") {
    // two 6-cliques joined by a single bridge edge — the bridge must not
    // merge the communities (each side's internal majority dominates)
    val got = lpa(clique(1L to 6L) ++ clique(11L to 16L) :+ (6L, 11L))
    val left = (1L to 6L).map(got).toSet
    val right = (11L to 16L).map(got).toSet
    assert(left.size === 1, s"left clique split: $got")
    assert(right.size === 1, s"right clique split: $got")
    assert(left !== right)
  }

  test("self-loop-only nodes survive: LPA keeps own label, PageRank sees dangling") {
    // node 9's only incident edge is a self-loop — it must appear in both
    // outputs (own label / dangling rank), not silently vanish
    val edges = Seq((1L, 2L), (2L, 1L), (9L, 9L))
    val l = lpa(edges, 5)
    assert(l.keySet === Set(1L, 2L, 9L))
    assert(l(9L) === 9L)
    val pr = run(edges, 15)
    assert(pr.keySet === Set(1L, 2L, 9L))
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass drifted: $pr")
  }

  test("labelPropagation is deterministic across partitionings") {
    val rnd = new Random(11)
    val edges = (1 to 150).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    // withBound(0) forces the DISTRIBUTED rounds — this test pins their
    // partitioning-independence, which the driver-local endgame would
    // make trivially true
    LocalEndgame.withBound(0) {
      val a = Graph.labelPropagation(edges.toDF("s", "d").repartition(1), "s", "d", 8)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      val b = Graph.labelPropagation(edges.toDF("s", "d").repartition(13), "s", "d", 8)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(a.sameElements(b))
    }
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.orderBy(df.columns.head).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("local iteration endgame matches the distributed rounds (LPA + BFS)") {
    val rnd = new Random(23)
    val edges = (1 to 400).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    Endgame.agree("labelPropagation")(
      pairsOf(Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", 5)))
    Endgame.agree("bfsLevels")(pairsOf(Graph.bfsLevels(edges.toDF("s", "d"),
      "s", "d", Seq(1L, 7L).toDF("n"), "n", maxLevels = 6)))
  }

  test("LPA: a fat-row star under the row cap but over the byte bound runs distributed") {
    // hub 0 with 100 leaves: 101 adjacency rows, under the 125-row cap of a
    // 3,000 B bound (24 B minimum per row), but the neighbor arrays bring
    // the estimate to 4,024 B — the bytes, not the row count, decide
    val star = (1L to 100L).map(i => (0L, i)).toDF("s", "d")
    val (got, ds) = Endgame.traced(LocalEndgame.withBound(3000)(
      pairsOf(Graph.labelPropagation(star, "s", "d", 3))))
    assert(ds.map(d => (d.op, d.rows, d.bytes, d.path)) ===
      Seq(("labelPropagation", "101", "4024", "distributed")))
    assert(got === LocalEndgame.withBound(0)(
      pairsOf(Graph.labelPropagation(star, "s", "d", 3))))
  }

  test("bfsLevels: an over-bound source set runs distributed even when the edges fit") {
    // 10 edges (160 B) fit a 400 B bound; 100 sources (800 B) do not
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("s", "d")
    val srcs = (0L until 100L).toDF("n")
    val (got, ds) = Endgame.traced(LocalEndgame.withBound(400)(
      pairsOf(Graph.bfsLevels(path, "s", "d", srcs, "n", maxLevels = 3))))
    assert(ds.map(d => (d.op, d.path)) === Seq(
      ("bfsLevels.edges", "local"), ("bfsLevels.sources", "distributed")))
    assert(got === (0L until 100L).map(_ -> 0L))
    assert(got === LocalEndgame.withBound(0)(
      pairsOf(Graph.bfsLevels(path, "s", "d", srcs, "n", maxLevels = 3))))
  }

  // ------------------------------------------------------------- triangles

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Graph.triangleCount(edges.toDF("s", "d"), "s", "d").collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangleCount: analytic graphs") {
    // K4: 4 triangles, 6 edges
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) === ((4L, 6L, 4L)))
    // 5-cycle: no triangles
    val c5 = (1L to 5L).map(i => (i, i % 5 + 1))
    assert(tri(c5) === ((5L, 5L, 0L)))
    // duplicate/reversed edges and self-loops collapse
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (1L, 3L))
    assert(tri(messy) === ((3L, 3L, 1L)))
  }

  test("graph ops leave no persisted storage behind") {
    // clean slate incl. RDD-level blocks from earlier tests' results
    // (clearCache alone misses those, and GC can free them mid-test,
    // making a base-count snapshot racy)
    GraftSession.releaseAll(spark)
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    val edges = (1L to 30L).map(i => (i, i % 7 + 1)).toDF("s", "d")
    val pr = Graph.pageRank(edges, "s", "d", iterations = 3)
    pr.collect()
    // the distributed path is where round storage can leak
    val lp = LocalEndgame.withBound(0)(
      Graph.labelPropagation(edges, "s", "d", iterations = 3))
    lp.collect()
    val tc = Graph.triangleCount(edges, "s", "d")
    tc.collect()
    // each op may leave exactly its RESULT's backing storage (caller-
    // releasable); anything beyond that is an intermediate leak
    Seq(pr, lp, tc).foreach(graft.ops.Iterate.releaseCheckpoint)
    assert(sc.getPersistentRDDs.size === base,
      s"graph ops leaked persisted RDDs: ${sc.getPersistentRDDs.values.map(_.name)}")
  }

  test("deep rounds cross the LazyRounds cut without analysis blowup; lazy/eager BFS agree") {
    // 10 rounds = two lineage cuts past Iterate.LazyRounds (4): bounded
    // plan depth per cut, or analysis time would dominate and this smoke
    // would crawl. Results must match the 3-round lazy path's semantics.
    val edges = (1L to 40L).map(i => (i, i % 9 + 1)).toDF("s", "d")
    val lp10 = LocalEndgame.withBound(0)(
      Graph.labelPropagation(edges, "s", "d", iterations = 10))
    assert(lp10.count() === 40)
    val pr10 = Graph.pageRank(edges, "s", "d", iterations = 10)
    val mass = pr10.agg(org.apache.spark.sql.functions.sum("rank"))
      .head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9, s"mass drifted at 10 rounds: $mass")
    // same graph, both bfs paths: maxLevels=4 rides the lazy frontier
    // chain, maxLevels=10 the per-round checkpoint loop — levels ≤ 4 must
    // be identical
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("s", "d")
    val (lazyB, eagerB) = LocalEndgame.withBound(0)((
      Graph.bfsLevels(path, "s", "d", Seq(1L).toDF("n"), "n", maxLevels = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      Graph.bfsLevels(path, "s", "d", Seq(1L).toDF("n"), "n", maxLevels = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    assert(lazyB === eagerB.filter(_._2 <= 4L))
  }

  test("bfsLevels: path graph levels, maxLevels cut, early stop") {
    // directed path 1→2→3→4→5, source {1}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val got = Graph.bfsLevels(path, "s", "d", Seq(1L).toDF("src"), "src",
        maxLevels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L)) // 5 is 4 hops
    // early stop: maxLevels far beyond the diameter still terminates with
    // full reach, and min-level wins on the cycle closing edge
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val g2 = Graph.bfsLevels(cyc, "s", "d", Seq(1L).toDF("src"), "src",
        maxLevels = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsLevels: NULL edge endpoints and NULL sources are dropped, not propagated") {
    val e = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)))
      .toDF("s", "d")
    val got = Graph.bfsLevels(e, "s", "d",
        Seq(Some(1L), Option.empty[Long]).toDF("src"), "src", maxLevels = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // null→3 must not make 3 reachable; (2, null) must not emit a null node
    assert(got === Map(1L -> 0L, 2L -> 1L))
  }

  test("bfsLevels: multi-source takes the nearest source; unreachable absent") {
    // two components: 1→2→3 and 10→11; sources {3, 10}
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val got = Graph.bfsLevels(e, "s", "d", Seq(3L, 10L).toDF("src"), "src",
        maxLevels = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 has no out-edges (directed); 1 and 2 are upstream → absent
    assert(got === Map(3L -> 0L, 10L -> 0L, 11L -> 1L))
  }

  test("bfsLevels matches in-memory BFS on seeded random directed graphs") {
    val rnd = new Random(11)
    for (trial <- 1 to 4) {
      val n = 20 + trial * 10
      val edges = (1 to n * 3).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val sources = Seq(0L, (n / 2).toLong)
      // reference: textbook queue BFS over the deduped self-loop-free list
      val adj = edges.filter(e => e._1 != e._2).distinct
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
      val level = scala.collection.mutable.Map(sources.map(_ -> 0L): _*)
      var frontier = sources
      var l = 0L
      while (frontier.nonEmpty) {
        l += 1
        frontier = frontier.flatMap(f => adj.getOrElse(f, Nil))
          .distinct.filterNot(level.contains)
        frontier.foreach(v => level(v) = l)
      }
      val got = Graph.bfsLevels(edges.toDF("s", "d"), "s", "d",
          sources.toDF("src"), "src", maxLevels = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === level.toMap, s"trial=$trial")
    }
  }

  test("triangleCount matches brute force on seeded random graphs") {
    val rnd = new Random(7)
    val edges = (1 to 300).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val eset = canon.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var expected = 0L
    for (i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size) {
      val (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if (eset((a, b)) && eset((a, c)) && eset((b, c))) expected += 1
    }
    assert(tri(edges) === ((nodes.size.toLong, canon.size.toLong, expected)))
  }

  test("triangleCount local endgame matches the distributed path on seeded random graphs") {
    // the default path takes the driver-local census below the data
    // bound; withBound(0) forces the distributed wedge build on the SAME
    // edges — the endgame soundness law (bfsLevels has the twin)
    val rnd = new Random(13)
    for (trial <- 1 to 3) {
      val n = 15 + trial * 12
      val edges = (1 to n * 4).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("s", "d")
      val loc = Endgame.agree("triangleCount")(
        Graph.triangleCount(edges, "s", "d").collect().head.toSeq)
      // both forced wedge builds (self-join, per-pivot neighbor list)
      // agree with the default dispatch on the same edges
      for (nl <- Seq(true, false)) {
        val forced = Graph.triangleCountImpl(edges, "s", "d",
          neighborListWedges = Some(nl)).collect().head
        assert(forced.toSeq === loc, s"trial=$trial neighborListWedges=$nl")
      }
    }
  }

  /** In-memory synchronous-peel reference for the k-core fixpoint. */
  private def kCoreRef(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    var alive = und.map(_._1).toSet
    var changed = true
    while (changed) {
      val deg = und.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).map { case (n, g) => n -> g.size }
      val keep = alive.filter(n => deg.getOrElse(n, 0) >= k)
      changed = keep.size != alive.size
      alive = keep
    }
    und.filter(e => alive(e._1) && alive(e._2))
      .groupBy(_._1).map { case (n, g) => n -> g.size }
  }

  private def kc(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Graph.kCore(edges.toDF("s", "d"), "s", "d", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: clique survives, pendant chain peels away entirely") {
    // 4-clique (every node degree 3) + a chain hanging off it: the chain
    // peels inward one node per round — the multi-round cascade case
    val clique = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val chain = Seq((3L, 10L), (10L, 11L), (11L, 12L))
    val out = kc(clique ++ chain, 3)
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out.values.toSet === Set(3L))
    // k above the clique degree → empty core
    assert(kc(clique ++ chain, 4) === Map.empty)
  }

  test("kCore matches the synchronous-peel reference on seeded random graphs") {
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val edges = (1 to 120).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      for (k <- Seq(2, 3, 4)) {
        val expect = kCoreRef(edges, k).map { case (n, d) => n -> d.toLong }
        assert(kc(edges, k) === expect, s"trial=$trial k=$k")
      }
    }
  }

  // -------------------------------------------- neighborSimilarity (Jaccard)

  private def nsRun(edges: Seq[(Long, Long)], maxDeg: Int)
      : Map[(Long, Long), (Long, Long, Long, Long, Boolean)] =
    Graph.neighborSimilarity(edges.toDF("s", "d"), "s", "d", maxDeg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap

  /** In-memory reference: full-graph degrees, pair generation only via
    * shared centers whose degree passes the hub guard. */
  private def nsRef(edges: Seq[(Long, Long)], maxDeg: Int)
      : Map[(Long, Long), (Long, Long, Long, Long, Boolean)] = {
    val e = edges.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val nb = e.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (n, g) => n -> g.map(_._2).toSet }
    val deg = nb.map { case (n, s) => n -> s.size.toLong }
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((n, s) <- nb if deg(n) <= maxDeg; u <- s; v <- s if u < v)
      cn((u, v)) = cn.getOrElse((u, v), 0L) + 1
    cn.map { case ((u, v), c) =>
      (u, v) -> ((c, deg(u), deg(v), c * 10000 / (deg(u) + deg(v) - c),
        e.contains((u, v))))
    }.toMap
  }

  test("neighborSimilarity: unlinked twins score a perfect 10000 bp") {
    // square 1-2-3-4 plus diagonal (1,3): nodes 2 and 4 have identical
    // neighborhoods {1, 3} but no edge — the classic link-prediction hit
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val got = nsRun(edges, maxDeg = 128)
    assert(got((2L, 4L)) === ((2L, 2L, 2L, 10000L, false)))
    // 1 and 3 are linked and share {2, 4}: J = 2/(3+3-2) = 5000 bp
    assert(got((1L, 3L)) === ((2L, 3L, 3L, 5000L, true)))
    assert(got === nsRef(edges, 128))
  }

  test("neighborSimilarity: hub guard drops hub-mediated pairs, keeps true degrees") {
    // star center 0 over leaves 1..5, plus one triangle edge (1,2)
    val edges = (1L to 5L).map((0L, _)) ++ Seq((1L, 2L))
    // hub excluded as a center: only center 1/2 wedges remain — the pair
    // (0-side) leaves no longer pair up through the hub
    val got = nsRun(edges, maxDeg = 4)
    assert(got === nsRef(edges, 4))
    assert(got.keySet === Set((0L, 1L), (0L, 2L)))
    // degrees are FULL-graph: deg(0) = 5 even though 0 never centers
    assert(got((0L, 1L))._2 === 5L || got((0L, 1L))._3 === 5L)
  }

  test("neighborSimilarity matches the in-memory reference on seeded random graphs") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val edges = (1 to 150).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      for (maxDeg <- Seq(4, 8, 128))
        assert(nsRun(edges, maxDeg) === nsRef(edges, maxDeg),
          s"trial=$trial maxDeg=$maxDeg")
    }
  }

  test("neighborSimilarity minCn support threshold filters the reference set") {
    val rnd = new Random(13)
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val got = Graph.neighborSimilarity(edges.toDF("s", "d"), "s", "d",
        maxDegree = 128, minCn = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(got === nsRef(edges, 128).filter(_._2._1 >= 3))
    assert(got.nonEmpty) // the fixture must actually exercise the branch
  }

  // ------------------------------------------------------------------- SCC

  // both the local-Tarjan endgame and the pure distributed FW-BW path
  // (forced by withBound(0)) must agree, and match the independent
  // reference below
  private def sccOnce(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.stronglyConnectedComponents(edges.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def sccRun(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Endgame.agree("stronglyConnectedComponents")(sccOnce(edges))

  /** Iterative Tarjan (explicit stack — no JVM recursion limit). */
  private def sccRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter(p => p._1 != p._2).distinct
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val adj = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
    val idx = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !idx.contains(root)) {
      // frames: (node, iterator over its successors)
      val frames = scala.collection.mutable.ArrayBuffer(
        (root, adj.getOrElse(root, Seq.empty).iterator))
      idx(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      while (frames.nonEmpty) {
        val (v, it) = frames.last
        if (it.hasNext) {
          val w = it.next()
          if (!idx.contains(w)) {
            idx(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            frames += ((w, adj.getOrElse(w, Seq.empty).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), idx(w))
        } else {
          frames.remove(frames.size - 1)
          if (frames.nonEmpty) {
            val p = frames.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == idx(v)) {
            val comp = scala.collection.mutable.ArrayBuffer.empty[Long]
            var done = false
            while (!done) {
              val w = stack.remove(stack.size - 1); onStack -= w
              comp += w
              if (w == v) done = true
            }
            val m = comp.min
            comp.foreach(w => out(w) = m)
          }
        }
      }
    }
    out.toMap
  }

  test("SCC: two cycles joined by a one-way bridge stay separate components") {
    // cycle {1,2,3} → bridge 3→10 → cycle {10,11}; 20 is a dangling sink
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L),
      (11L, 10L), (10L, 20L))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L)
    assert(sccRun(edges) === expect)
  }

  test("SCC: a DAG is all singletons; a full cycle is one component") {
    assert(sccRun(Seq((1L, 2L), (2L, 3L), (1L, 3L))) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    val cyc = (0L until 6L).map(i => (i, (i + 1) % 6))
    assert(sccRun(cyc) === (0L until 6L).map(_ -> 0L).toMap)
  }

  test("SCC: self-loop-only / empty edge sets yield an empty typed result") {
    assert(sccOnce(Seq((1L, 1L), (2L, 2L))) === Map.empty)
    val out = Graph.stronglyConnectedComponents(
      Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d")
    assert(out.columns.toSeq === Seq("node", "scc_id") && out.count() === 0)
  }

  test("SCC matches iterative Tarjan on seeded random directed graphs") {
    val rnd = new Random(31)
    for ((n, m) <- Seq((12, 20), (20, 45), (30, 90))) {
      val edges = (1 to m).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(sccRun(edges) === sccRef(edges), s"n=$n m=$m")
    }
  }

  test("SCC hybrid: distributed descent hands a mid-sized remainder to the endgame") {
    // a bound between the settled fringe and the full graph (20 live
    // nodes + edges at 16 B): the first outer round runs distributed, the
    // shrunken remainder goes local — both halves must agree with the
    // reference
    val rnd = new Random(47)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val (got, ds) = Endgame.traced(LocalEndgame.withBound(20 * 16)(sccOnce(edges)))
    assert(got === sccRef(edges))
    assert(ds.head.path === "distributed" && ds.last.path === "local", ds)
  }
}

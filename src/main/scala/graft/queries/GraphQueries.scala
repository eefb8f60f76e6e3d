package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers.t

/** Graph algorithms: PageRank, label propagation, triangles, SCC, BFS,
  * k-core.
  */
object GraphQueries {

  val all: Seq[Query] = Seq(

    // Exact triangle census over the parts-co-ordered-together graph,
    // via degree-ordered orientation (out-degree O(√m) however skewed
    // the raw degrees — the scalable wedge join).
    Query("graph_triangles", (s, dir) => {
      // first 4 line numbers per order: bounds pairs/order at C(4,2)=6,
      // so the graph (and the oracle's 3-way join) stays wedge-sparse
      val li = t(s, dir, "lineitem")
        .where(col("l_linenumber") <= 4)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      // group-shaped pair build (the r16 labelprop adjacency pattern): one
      // (k) aggregation + a row-local positional pair explode replaces the
      // exchange + sort-merge SELF-JOIN over the co-order rows — same pair
      // SET (collect_set dedups in-order repeats; the consumer normalizes
      // and dedups edges), strictly fewer sorts/exchanges
      val e = li.groupBy("k").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("w"))
        .select(col("w.src"), col("w.dst"))
      graft.ops.Graph.triangleCount(e, "src", "dst")
    },
      oracle = """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 4),
        | e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |           FROM li a JOIN li b
        |           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | nodes AS (SELECT count(DISTINCT n)::BIGINT AS n_nodes
        |           FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
        | edges AS (SELECT count(*)::BIGINT AS n_edges FROM e),
        | tri AS (SELECT count(*)::BIGINT AS n_triangles
        |         FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |                   JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        | SELECT n_nodes, n_edges, n_triangles FROM nodes, edges, tri
        | ORDER BY n_nodes""".stripMargin.replace("\n", " ")),

    // Strongly connected components of the DIRECTED nation-trade graph
    // (customer nation → supplier nation), sparsified to the lanes whose
    // trade count is ≡ 0 (mod 11) — a deterministic pseudo-random
    // subgraph with a real multi-node SCC at every fixture scale
    // (sf0.1: one 20-node component among singletons; sf0.001: a 3-node
    // component) that settles in ≤ 3 FW-BW rounds / ~8 propagation
    // steps (the mod was chosen by simulating the settle depth — a
    // sparser graph has MORE rounds, a denser one is a single boring
    // SCC).
    // ops/Graph.stronglyConnectedComponents is distributed FW-BW
    // min-label coloring; the ORACLE computes the same components from
    // a transitive-closure recursive CTE — feasible only because this
    // graph is ≤ 25 nodes. The operator itself never materializes a
    // closure, which is exactly why it scales and the CTE does not.
    Query("graph_scc", (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .where(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") % 11 === 0)
        .select("src", "dst")
      graft.ops.Graph.stronglyConnectedComponents(e, "src", "dst")
        .orderBy("node")
    },
      oracle = """WITH RECURSIVE raw AS MATERIALIZED (
        |   SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
        |   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |   JOIN customer c ON o.o_custkey = c.c_custkey
        |   JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |   WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2),
        | e AS MATERIALIZED (SELECT src, dst FROM raw WHERE cnt % 11 = 0),
        | nodes AS (SELECT DISTINCT src AS n FROM e UNION SELECT DISTINCT dst FROM e),
        | reach(s, d) AS (SELECT src, dst FROM e
        |   UNION SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src),
        | mutual AS (SELECT a.s AS u, a.d AS v
        |            FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s),
        | scc AS (SELECT n.n AS node, least(n.n, coalesce(min(m.v), n.n)) AS scc_id
        |         FROM nodes n LEFT JOIN mutual m ON m.u = n.n GROUP BY n.n)
        | SELECT node::BIGINT AS node, scc_id::BIGINT AS scc_id
        | FROM scc ORDER BY node""".stripMargin.replace("\n", " ")),

    // Damped PageRank over the nation trade graph (customer nation →
    // supplier nation, deduped): 25 nodes, so 3 unrolled rounds are
    // cheap in the oracle and the float story is safe — both engines
    // evaluate the same IEEE expression shapes on the same integer-
    // derived doubles, the only divergence is sum order (~1e-15).
    // Output is rank·1e8 rounded to a BIGINT: integer repr is exact
    // cross-engine (a double `round(x, 8)` is not — Spark rounds via
    // BigDecimal, DuckDB via multiply/divide, off-by-one-ulp hazard).
    Query("graph_pagerank", (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      graft.ops.Graph.pageRank(e, "src", "dst", iterations = 3)
        .select(col("node"), round(col("rank") * lit(1e8)).cast("long").as("rank_e8"))
        .orderBy("node")
    },
      // 3 PageRank rounds unrolled as chained CTEs; expression shapes
      // mirror Graph.pageRank term by term ((1.0-0.85)/n, NOT 0.15/n —
      // IEEE 1.0-0.85 != 0.15 exactly).
      oracle = """WITH raw AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |             FROM lineitem l
        |             JOIN orders o ON l.l_orderkey = o.o_orderkey
        |             JOIN customer c ON o.o_custkey = c.c_custkey
        |             JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        | e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        | nodes AS MATERIALIZED (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        | nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        | deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        | r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
        | d1 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r0 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i1 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r0 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r1 AS MATERIALIZED (SELECT nodes.node, (1.0 - 0.85) / nn.n
        |          + 0.85 * (coalesce(i1.inbound, 0.0) + d1.dmass / nn.n) AS rank
        |        FROM nodes CROSS JOIN nn CROSS JOIN d1
        |        LEFT JOIN i1 ON nodes.node = i1.dst),
        | d2 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r1 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i2 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r1 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r2 AS MATERIALIZED (SELECT nodes.node, (1.0 - 0.85) / nn.n
        |          + 0.85 * (coalesce(i2.inbound, 0.0) + d2.dmass / nn.n) AS rank
        |        FROM nodes CROSS JOIN nn CROSS JOIN d2
        |        LEFT JOIN i2 ON nodes.node = i2.dst),
        | d3 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r2 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i3 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r2 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r3 AS MATERIALIZED (SELECT nodes.node, (1.0 - 0.85) / nn.n
        |          + 0.85 * (coalesce(i3.inbound, 0.0) + d3.dmass / nn.n) AS rank
        |        FROM nodes CROSS JOIN nn CROSS JOIN d3
        |        LEFT JOIN i3 ON nodes.node = i3.dst)
        | SELECT node::BIGINT AS node, round(rank * 1e8)::BIGINT AS rank_e8
        | FROM r3 ORDER BY node""".stripMargin.replace("\n", " ")),

    // Synchronous label propagation on the parts-co-ordered graph
    // (3 rounds, deterministic smallest-label tie-break): labels are
    // integers, so the recurrence is EXACT on both engines — the oracle
    // unrolls the three rounds as chained CTEs.
    Query("graph_labelprop", (s, dir) => {
      // co-occurrence within an order is naturally group-shaped: the
      // adjacency table builds straight from the order groups (collect_set
      // per order → per-member neighbor explode → collect_set per part) —
      // no materialized pair-list exchange; see Graph.labelPropagationAdj
      val li = t(s, dir, "lineitem")
        .where(col("l_linenumber") <= 4)
        .select(col("l_orderkey").as("k"), col("l_partkey").cast("long").as("p"))
      // one row per (order, member) carrying the member's in-order
      // neighbor ARRAY — Σ|ps| rows instead of the Σ|ps|² per-pair
      // explode (measured 0.84 → 0.66 s at sf0.1); the final
      // array_distinct(flatten(...)) is the same neighbor-set semantics
      // collect_set gave (LPA is neighbor-order-independent)
      val adj = li.groupBy("k").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr(
          "transform(ps, x -> struct(x AS src, filter(ps, y -> y != x) AS nb))")).as("u"))
        .select(col("u.src"), col("u.nb"))
        .groupBy("src").agg(array_distinct(flatten(collect_list(col("nb")))).as("nbrs"))
      // node set = adjacency keys (src covers every endpoint of the
      // symmetric co-occurrence pairs) — NOT all distinct parts: a part
      // only ever ordered alone has no pairs and the oracle's node CTE
      // (derived from the pair table) must agree at every scale factor.
      // The no-nodeSet overload skips the redundant graft-back join.
      graft.ops.Graph.labelPropagationAdj(adj, iterations = 3)
        .orderBy("node")
    },
      // 3 synchronous LPA rounds unrolled; integer labels → exact
      // recurrence; tie-break = highest count then smallest label,
      // isolated nodes keep their own label each round.
      oracle = """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 4),
        | d AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM li a JOIN li b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | e AS (SELECT DISTINCT src, dst FROM
        |         (SELECT src, dst FROM d UNION ALL SELECT dst AS src, src AS dst FROM d)
        |       WHERE src <> dst),
        | nodes AS (SELECT src AS node FROM d UNION SELECT dst FROM d),
        | l0 AS (SELECT node, node AS label FROM nodes),
        | c1 AS (SELECT e.src AS node, l.label, count(*) AS cnt
        |        FROM e JOIN l0 l ON e.dst = l.node GROUP BY e.src, l.label),
        | b1 AS (SELECT node, label FROM (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |        FROM c1) WHERE rn = 1),
        | l1 AS (SELECT nodes.node, coalesce(b1.label, nodes.node) AS label
        |        FROM nodes LEFT JOIN b1 ON nodes.node = b1.node),
        | c2 AS (SELECT e.src AS node, l.label, count(*) AS cnt
        |        FROM e JOIN l1 l ON e.dst = l.node GROUP BY e.src, l.label),
        | b2 AS (SELECT node, label FROM (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |        FROM c2) WHERE rn = 1),
        | l2 AS (SELECT nodes.node, coalesce(b2.label, nodes.node) AS label
        |        FROM nodes LEFT JOIN b2 ON nodes.node = b2.node),
        | c3 AS (SELECT e.src AS node, l.label, count(*) AS cnt
        |        FROM e JOIN l2 l ON e.dst = l.node GROUP BY e.src, l.label),
        | b3 AS (SELECT node, label FROM (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |        FROM c3) WHERE rn = 1),
        | l3 AS (SELECT nodes.node, coalesce(b3.label, nodes.node) AS label
        |        FROM nodes LEFT JOIN b3 ON nodes.node = b3.node)
        | SELECT node::BIGINT AS node, label::BIGINT AS label
        | FROM l3 ORDER BY node""".stripMargin.replace("\n", " ")),

    // BFS reachability levels: who is within 3 hops of nation-0
    // customers over the undirected customer—supplier co-purchase graph
    // (edges from lineitem×orders; supplier ids offset past the
    // customer id space)? Frontier iteration — per round one
    // frontier⋈edges shuffle + an anti-join against the visited set —
    // the distributed-BFS shape CC/PageRank don't exercise. The oracle
    // is the textbook recursive-CTE min-level.
    Query("graph_bfs", (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      // NO edge dedup at all: BFS dedups every frontier anyway
      // (`next.distinct()`), so duplicate edges only inflate one join's
      // intermediate (~2% here) — cheaper than a 600k-row dedup
      // exchange whose only effect is trimming that 2%
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(1000000L)).as("sp"))
      val e = cs.select(col("c").as("src"), col("sp").as("dst"))
        .unionAll(cs.select(col("sp").as("src"), col("c").as("dst")))
      val sources = t(s, dir, "customer").where(col("c_nationkey") === 0)
        .select(col("c_custkey"))
      graft.ops.Graph.bfsLevels(e, "src", "dst", sources, "c_custkey",
          maxLevels = 3, edgesDistinct = true)
        .orderBy("node")
    },
      oracle = """WITH RECURSIVE cs AS (SELECT o_custkey AS c, l_suppkey + 1000000 AS sp
        |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | e AS (SELECT c AS src, sp AS dst FROM cs
        |        UNION SELECT sp, c FROM cs),
        | bfs(node, lvl) AS (
        |   SELECT c_custkey::BIGINT, 0 FROM customer WHERE c_nationkey = 0
        |   UNION
        |   SELECT e.dst, b.lvl + 1 FROM bfs b JOIN e ON b.node = e.src
        |   WHERE b.lvl < 3)
        | SELECT node, min(lvl)::BIGINT AS level FROM bfs GROUP BY node
        | ORDER BY node""".stripMargin.replace("\n", " ")),

    // k-core (k=8) of the customer–supplier bipartite graph, peeled to
    // the TRUE fixpoint — the unique maximal min-degree-≥8 subgraph,
    // peel-order-independent, so Spark's iterative peel and the
    // oracle's recursive CTE converge to the same set regardless of how
    // many rounds each takes. The classic graph-shaped quality gate
    // (shallow cores = weakly-attached spam/bot nodes).
    // Personalized PageRank from a seed set (nations 0-4) on the same
    // customer-nation → supplier-nation graph as graph_pagerank: the
    // "expand from THESE seeds" primitive. Integer 1e8 output like
    // graph_pagerank; oracle is the 3-round unrolled MATERIALIZED chain.
    Query("graph_ppr", (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      val seeds = t(s, dir, "nation").where(col("n_nationkey") < 5)
        .select(col("n_nationkey"))
      graft.ops.Graph.personalizedPageRank(e, "src", "dst",
          seeds, "n_nationkey", iterations = 3)
        .select(col("node"), round(col("rank") * lit(1e8)).cast("long").as("rank_e8"))
        .orderBy("node")
    },
      // True-fixpoint k-core as a recursive CTE: the survivor set rides
      // each iteration as ONE list-valued row (a recursive term may
      // reference its CTE only once, but degree needs both endpoints'
      // survivorship — the list carries the whole set past that limit);
      // iteration stops when no node is peeled (len(nxt) = len(surv)).
      oracle = """WITH raw AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |             FROM lineitem l
        |             JOIN orders o ON l.l_orderkey = o.o_orderkey
        |             JOIN customer c ON o.o_custkey = c.c_custkey
        |             JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        | e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        | nodes AS MATERIALIZED (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        | ns AS MATERIALIZED (SELECT count(*) AS n FROM nodes WHERE node < 5),
        | deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        | tn AS MATERIALIZED (SELECT nodes.node,
        |        CASE WHEN nodes.node < 5 THEN 1.0::DOUBLE / ns.n ELSE 0.0::DOUBLE END AS t
        |      FROM nodes CROSS JOIN ns),
        | r0 AS MATERIALIZED (SELECT node, t AS rank FROM tn),
        | d1 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r0 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i1 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r0 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r1 AS MATERIALIZED (SELECT tn.node,
        |          (1.0::DOUBLE - 0.85::DOUBLE) * tn.t
        |          + 0.85::DOUBLE * (coalesce(i1.inbound, 0.0) + d1.dmass * tn.t) AS rank
        |        FROM tn CROSS JOIN d1 LEFT JOIN i1 ON tn.node = i1.dst),
        | d2 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r1 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i2 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r1 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r2 AS MATERIALIZED (SELECT tn.node,
        |          (1.0::DOUBLE - 0.85::DOUBLE) * tn.t
        |          + 0.85::DOUBLE * (coalesce(i2.inbound, 0.0) + d2.dmass * tn.t) AS rank
        |        FROM tn CROSS JOIN d2 LEFT JOIN i2 ON tn.node = i2.dst),
        | d3 AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dmass FROM r2 r
        |        LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        | i3 AS MATERIALIZED (SELECT e.dst, sum(r.rank / deg.deg) AS inbound
        |        FROM r2 r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
        |        GROUP BY e.dst),
        | r3 AS MATERIALIZED (SELECT tn.node,
        |          (1.0::DOUBLE - 0.85::DOUBLE) * tn.t
        |          + 0.85::DOUBLE * (coalesce(i3.inbound, 0.0) + d3.dmass * tn.t) AS rank
        |        FROM tn CROSS JOIN d3 LEFT JOIN i3 ON tn.node = i3.dst)
        | SELECT node::BIGINT AS node, round(rank * 1e8)::BIGINT AS rank_e8
        | FROM r3 ORDER BY node""".stripMargin.replace("\n", " ")),

    Query("graph_kcore", (s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_linenumber") === 1)
        .select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      graft.ops.Graph.kCore(e, "src", "dst", k = 8)
        .orderBy("node")
    },
      oracle = """WITH RECURSIVE
        | ed AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |        WHERE l_linenumber = 1),
        | e2 AS (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed),
        | peel AS (
        |   SELECT 0 AS r, (SELECT list(DISTINCT src ORDER BY src) FROM e2) AS surv
        |   UNION ALL
        |   SELECT r + 1, nxt FROM (
        |     SELECT r, surv,
        |       (SELECT coalesce(list(u ORDER BY u), []) FROM unnest(surv) AS t(u)
        |        WHERE (SELECT count(*) FROM e2
        |               WHERE e2.src = u AND list_contains(surv, e2.dst)) >= 8) AS nxt
        |     FROM peel) WHERE len(nxt) < len(surv)),
        | final AS (SELECT surv FROM peel ORDER BY len(surv) ASC LIMIT 1),
        | core AS (SELECT unnest(surv) AS node FROM final)
        | SELECT node,
        |        (SELECT count(*) FROM e2 JOIN final ON true
        |         WHERE e2.src = node AND list_contains(final.surv, e2.dst)) AS core_deg
        | FROM core ORDER BY node""".stripMargin.replace("\n", " "))
  )
}

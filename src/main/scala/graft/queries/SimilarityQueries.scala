package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

import QueryHelpers.{duckCosine, t}

/** Similarity and embeddings: nearest-neighbour search (brute force, LSH,
  * IVF, PQ), quantization, retrieval metrics, and fuzzy record linkage.
  */
object SimilarityQueries {

  /** Clustered (non-uniform) integer-grid embedding fixture for the
    * trained-IVF oracle row: 16-dim vectors = center(vec_id % 16) +
    * per-vector noise, all integers, derived from vec_id alone so the
    * DuckDB oracle rebuilds it with the same arithmetic. Center spacing
    * (multiples of 10, range ±80) dominates member noise (±15), so the
    * 16 clusters are well separated — but the 16 SEED vectors (vec_id <
    * 16) carry 12× noise, modeling the real seed hazard: a seed is an
    * arbitrary sample and may be an outlier, so seed-centroid Voronoi
    * cells misassign boundary vectors while trained means sit at the
    * true centers. AnnRecallSpec measures the recall lift; near-uniform
    * fixtures could not show it.
    */
  private[graft] def clusteredEmbFixture(emb: DataFrame): DataFrame =
    emb.select(col("vec_id")).withColumn("embedding", expr(
      "transform(sequence(0, 15), d -> CAST(" +
        "(((vec_id % 16) * 37 + d * 11) % 17 - 8) * 10 + " +
        "((vec_id * 17 + d * 29) % 31 - 15) * " +
        "(CASE WHEN vec_id < 16 THEN 12 ELSE 1 END) AS FLOAT))"))

  /** The same fixture in DuckDB (list comprehension over d). */
  private def clusteredEmbFixtureSql: String =
    """SELECT vec_id, [CAST((((vec_id % 16) * 37 + d * 11) % 17 - 8) * 10
      | + ((vec_id * 17 + d * 29) % 31 - 15)
      |   * (CASE WHEN vec_id < 16 THEN 12 ELSE 1 END) AS FLOAT)
      | FOR d IN range(16)] AS embedding FROM embeddings""".stripMargin
      .replace("\n", " ")

  /** NDCG@10 integer position weights — w(i) = round(10^6 / log2(i+1)) —
    * and their prefix sums (the ideal-DCG lookup by relevant-result
    * count). Pinned as literals and rendered into BOTH engines' SQL from
    * this one table, so the log never enters either query
    * (retrieval_ndcg).
    */
  private val NdcgWeights = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  private val NdcgCums = NdcgWeights.scanLeft(0L)(_ + _).tail

  private def NdcgW = NdcgWeights.mkString("array(", "L, ", "L)")

  private def NdcgCw = NdcgCums.mkString("array(", "L, ", "L)")

  private def duckNdcgW = NdcgWeights.mkString("[", ", ", "]")

  private def duckNdcgCw = NdcgCums.mkString("[", ", ", "]")

  /** PQ decomposition helpers (embed_pq_codes / embed_pq_adc): 8 subspaces
    * × 8 dims over the 64-d embeddings; codewords = subvectors of the
    * first 16 corpus vectors (k-means codebooks at deploy).
    */
  private def pqSubs(df: DataFrame, idAs: String, vecAs: String): DataFrame = df
    .select(col("vec_id").as(idAs), explode(expr("sequence(0, 7)")).as("m"),
      col("embedding"))
    .select(col(idAs), col("m"), expr("slice(embedding, m * 8 + 1, 8)").as(vecAs))

  /** Squared L2 between two 8-dim float slices, as an in-order fold. */
  private def pqD2(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b,
            | (x, y) -> pow(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2D)),
            | CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""
      .stripMargin.replace("\n", " "))

  /** Nearest codeword per (vector, subspace): (vec_id, m, code, d2). */
  private def pqAssign(emb: DataFrame): DataFrame = {
    val cb = pqSubs(emb.where(col("vec_id") < 16), "code", "cb_sub")
    pqSubs(emb, "vec_id", "sub")
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"), pqD2("sub", "cb_sub").as("d2"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("code"))).as("_best"))
      .select(col("vec_id"), col("m"), col("_best.code").as("code"),
        col("_best.d2").as("d2"))
  }

  val all: Seq[Query] = Seq(

    Query("q28_levenshtein", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_name"), lower(col("p_type"))).as("name_type_dist"))
        .orderBy("p_partkey"),
      oracle = """SELECT p_partkey, levenshtein(p_name, lower(p_type)) AS name_type_dist
        | FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " ")),

    // Link prediction over a parts-co-ordered graph (first 3 lines per
    // order — C(3,2) pairs/order keeps the candidate space ~5M at
    // sf0.1): Jaccard neighbor-similarity via the shared-neighbor
    // inverted index (ops/Graph.neighborSimilarity — pairs exist ONLY
    // through a shared center node, never node × node; hub centers past
    // the degree guard are excluded from pair generation; single-witness
    // pairs fall to the cn ≥ 2 support threshold). Top 100 pairs by
    // exact integer-basis-point Jaccard; already-linked pairs are
    // flagged rather than dropped, so the row doubles as an
    // edge-confirmation score.
    Query("graph_jaccard", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_linenumber") <= 3)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val e = li.as("a").join(li.as("b"), Seq("k"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      graft.ops.Graph.neighborSimilarity(e, "src", "dst", maxDegree = 128,
          minCn = 2)
        .orderBy(col("jaccard_bp").desc, col("u"), col("v"))
        .limit(100)
    },
      oracle = """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 3),
        | e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |        FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | adj AS (SELECT u AS n, v AS nb FROM e UNION ALL SELECT v, u FROM e),
        | deg AS MATERIALIZED (SELECT n, count(*)::BIGINT AS deg FROM adj GROUP BY n),
        | sm AS (SELECT adj.n, adj.nb FROM adj JOIN deg ON adj.n = deg.n
        |        WHERE deg.deg <= 128),
        | cn AS (SELECT u, v, cn FROM (
        |          SELECT a.nb AS u, b.nb AS v, count(*)::BIGINT AS cn
        |          FROM sm a JOIN sm b ON a.n = b.n AND a.nb < b.nb GROUP BY 1, 2)
        |        WHERE cn >= 2),
        | j AS (SELECT cn.u, cn.v, cn.cn, du.deg AS deg_u, dv.deg AS deg_v,
        |         (cn.cn * 10000 // (du.deg + dv.deg - cn.cn))::BIGINT AS jaccard_bp,
        |         coalesce(le.linked, false) AS linked
        |       FROM cn JOIN deg du ON cn.u = du.n JOIN deg dv ON cn.v = dv.n
        |       LEFT JOIN (SELECT u, v, true AS linked FROM e) le
        |         ON cn.u = le.u AND cn.v = le.v)
        | SELECT u, v, cn, deg_u, deg_v, jaccard_bp, linked FROM j
        | ORDER BY jaccard_bp DESC, u, v LIMIT 100""".stripMargin.replace("\n", " ")),

    // Product-quantization codes (Jégou et al. — the IVF-PQ index family's
    // second stage): 8 subspaces × 8 dims, 16 codewords per subspace from
    // deterministic seed vectors (k-means at deploy, same as IVF). Each
    // (vector, subspace) picks its nearest codeword — argmin as
    // min(struct(dist², code)) so ties break on the code id — giving a
    // 8-byte code per 256-byte vector (32× compression). The codebook is
    // a 128-row broadcast; distances are row-local folds over 8 elements.
    Query("embed_pq_codes", (s, dir) =>
      pqAssign(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("m"), col("code"),
          round(col("d2"), 6).as("err_r6"))
        .orderBy("vec_id", "m"),
      oracle = """WITH m AS (SELECT unnest(range(0, 8)) AS m),
        | subs AS (SELECT vec_id, m.m AS m,
        |     embedding[m.m * 8 + 1 : m.m * 8 + 8] AS sub
        |   FROM embeddings, m),
        | cb AS (SELECT vec_id AS code, m, sub AS cb_sub FROM subs WHERE vec_id < 16),
        | scored AS (SELECT s.vec_id, s.m, cb.code,
        |     list_sum([pow(CAST(s.sub[i] AS DOUBLE) - CAST(cb.cb_sub[i] AS DOUBLE), 2)
        |               for i in range(1, 9)]) AS d2
        |   FROM subs s JOIN cb ON s.m = cb.m),
        | best AS (SELECT vec_id, m, min(struct_pack(d2 := d2, code := code)) AS b
        |   FROM scored GROUP BY vec_id, m)
        | SELECT vec_id, m, CAST(b.code AS BIGINT) AS code, round(b.d2, 6) AS err_r6
        | FROM best ORDER BY vec_id, m""".stripMargin.replace("\n", " ")),

    // PQ TRAINING oracle row (VERDICT r11 #6): the integer-deterministic
    // twin of pqTrainCodebooks — int8-quantized corpus, round(mean)
    // codeword refresh (integer sums exact in double, IEEE division
    // correctly rounded, round half-away-from-zero in both engines, so
    // the codebook stays on an integer grid both engines agree on), two
    // Lloyd rounds over m=4 subspaces × k=4 codewords, then a full
    // re-encode against the trained book with each codeword pinned as
    // JSON. The oracle unrolls the same two rounds as materialized CTEs.
    Query("embed_pq_train", (s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"),
          expr("transform(_q, x -> CAST(x AS FLOAT))").as("emb_q"))
      val cb = Similarity.pqTrainCodebooksInt(qv, "vec_id", "emb_q",
        m = 4, k = 4, iterations = 2, dim = 64)
      Similarity.pqEncode(qv, cb, "vec_id", "emb_q", dim = 64, m = 4)
        .join(broadcast(cb.select(col("m"), col("code"),
          to_json(expr("transform(cv, x -> CAST(x AS INT))")).as("codeword"))),
          Seq("m", "code"))
        .select(col("vec_id"), col("m"), col("code").cast("long").as("code"),
          col("codeword"))
        .orderBy("vec_id", "m")
    },
      // Two unrolled Lloyd rounds over the int8-quantized corpus; every CTE
      // that feeds more than one consumer is MATERIALIZED (DuckDB inlines
      // plain CTEs — the round chain would re-expand multiplicatively).
      // Arithmetic is integer-exact end to end: quantized components,
      // integer-grid codewords (round of an exact-sum mean), squared
      // distances as integer-valued doubles.
      oracle = """WITH ma AS (SELECT vec_id, embedding,
        |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id,
        |     CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |          ELSE list_transform(embedding,
        |            x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |     END AS q
        |   FROM ma),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | subs AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |     q[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv FROM qv, mm),
        | seed AS MATERIALIZED (SELECT m, rn - 1 AS code, sv AS cv FROM
        |     (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        |      FROM subs) WHERE rn <= 4),
        | a1 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN seed c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e1 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n1 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e1 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c1 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM seed s LEFT JOIN n1 n ON s.m = n.m AND s.code = n.code),
        | a2 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c1 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e2 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a2 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n2 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e2 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c2 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM c1 s LEFT JOIN n2 n ON s.m = n.m AND s.code = n.code),
        | enc AS (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c2 c ON s.m = c.m GROUP BY s.vec_id, s.m)
        | SELECT e.vec_id, e.m, CAST(e.code AS BIGINT) AS code,
        |        to_json(list_transform(c.cv, x -> CAST(x AS INTEGER)))::VARCHAR AS codeword
        | FROM enc e JOIN c2 c ON e.m = c.m AND e.code = c.code
        | ORDER BY e.vec_id, e.m""".stripMargin.replace("\n", " ")),

    // The FLOAT trainer (pqTrainCodebooks, NO mean rounding — the actual
    // production path, spec-only until now) pinned by oracle through the
    // integer-grid projection: integer inputs make every Lloyd mean an
    // exact integer SUM with one correctly-rounded division (identical
    // doubles cross-engine, order-free), the float cast of the mean is
    // the same IEEE rounding in both engines, and the check hashes the
    // ASSIGNMENTS — a discrete projection stable under the remaining
    // ulp-level d2 shape differences — not the off-grid centroids.
    Query("embed_pq_train_assign", (s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"),
          expr("transform(_q, x -> CAST(x AS FLOAT))").as("emb_q"))
      val cb = Similarity.pqTrainCodebooks(qv, "vec_id", "emb_q",
        m = 4, k = 4, iterations = 2, dim = 64)
      Similarity.pqEncode(qv, cb, "vec_id", "emb_q", dim = 64, m = 4)
        .select(col("vec_id"), col("m"), col("code").cast("long").as("code"))
        .orderBy("vec_id", "m")
    },
      // float-trainer twin: same CTE chain as embed_pq_train, but the
      // refreshed codeword component is the UNROUNDED mean pushed through
      // a REAL (float32) cast — Spark's CAST(avg AS FLOAT) — and only the
      // discrete assignments are emitted; d2 mirrors Spark's
      // dot-expansion shape
      oracle = """WITH ma AS (SELECT vec_id, embedding,
        |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id,
        |     CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |          ELSE list_transform(embedding,
        |            x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |     END AS q
        |   FROM ma),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | subs AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |     q[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv FROM qv, mm),
        | seed AS MATERIALIZED (SELECT m, rn - 1 AS code, sv AS cv FROM
        |     (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        |      FROM subs) WHERE rn <= 4),
        | a1 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([s.sv[i] * s.sv[i] for i in range(1, 17)])
        |                         - 2 * list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
        |                         + list_sum([c.cv[i] * c.cv[i] for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN seed c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e1 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n1 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, CAST(CAST(avg(v) AS REAL) AS DOUBLE) AS v
        |         FROM e1 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c1 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM seed s LEFT JOIN n1 n ON s.m = n.m AND s.code = n.code),
        | a2 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([s.sv[i] * s.sv[i] for i in range(1, 17)])
        |                         - 2 * list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
        |                         + list_sum([c.cv[i] * c.cv[i] for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c1 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e2 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a2 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n2 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, CAST(CAST(avg(v) AS REAL) AS DOUBLE) AS v
        |         FROM e2 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c2 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM c1 s LEFT JOIN n2 n ON s.m = n.m AND s.code = n.code),
        | enc AS (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([s.sv[i] * s.sv[i] for i in range(1, 17)])
        |                         - 2 * list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
        |                         + list_sum([c.cv[i] * c.cv[i] for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c2 c ON s.m = c.m GROUP BY s.vec_id, s.m)
        | SELECT vec_id, m, CAST(code AS BIGINT) AS code
        | FROM enc ORDER BY vec_id, m""".stripMargin.replace("\n", " ")),

    // PQ asymmetric distance (ADC) top-k — the IVF-PQ SEARCH path: each
    // query scores corpus vectors by the distance from its own subvectors
    // to each vector's ASSIGNED codewords (codes + codebook only, never
    // the corpus floats). SHUFFLE-FREE search: one row per vector with its
    // 8-code array, the per-query 8×16 distance LUT broadcast (Jégou's
    // table), adc² summed row-locally via zip_with in m order (so the
    // float fold is partition-order-free), ranked by the map-side-pruning
    // top-k exec. Nothing corpus×queries-sized is ever exchanged — the
    // previous shape shuffled one row per (vector, subspace, query) into a
    // wide groupBy, which at 100 TB is corpus × queries rows of shuffle.
    // AnnRecallSpec pins ADC recall vs exact.
    Query("embed_pq_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val codes = pqAssign(emb).groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, code))), s -> s.code)")
          .as("codes"))
      val cb = pqSubs(emb.where(col("vec_id") < 16), "code", "cb_sub")
      val q = pqSubs(emb.where(col("vec_id") < 5), "q_id", "q_sub")
      val lut = q.join(cb, "m")
        .select(col("q_id"), col("m"), col("code"), pqD2("q_sub", "cb_sub").as("d2"))
        .groupBy("q_id", "m")
        .agg(expr("transform(array_sort(collect_list(struct(code, d2))), s -> s.d2)")
          .as("lut_m"))
        .groupBy("q_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, lut_m))), s -> s.lut_m)")
          .as("luts"))
      val scored = codes.crossJoin(broadcast(lut))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          expr("""aggregate(zip_with(codes, luts, (c, l) -> element_at(l, CAST(c + 1 AS INT))),
                 | CAST(0 AS DOUBLE), (a, x) -> a + x)"""
            .stripMargin.replace("\n", " ")).as("adc2"))
      graft.ops.TopK.topKPerGroupExecRanked(scored, Seq("q_id"),
          Seq(("adc2", false), ("neighbor_id", false)), 5, "rank")
        .select(col("q_id"), col("neighbor_id"),
          round(col("adc2"), 6).as("adc2_r6"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = """WITH m AS (SELECT unnest(range(0, 8)) AS m),
        | subs AS (SELECT vec_id, m.m AS m,
        |     embedding[m.m * 8 + 1 : m.m * 8 + 8] AS sub
        |   FROM embeddings, m),
        | cb AS (SELECT vec_id AS code, m, sub AS cb_sub FROM subs WHERE vec_id < 16),
        | scored AS (SELECT s.vec_id, s.m, cb.code,
        |     list_sum([pow(CAST(s.sub[i] AS DOUBLE) - CAST(cb.cb_sub[i] AS DOUBLE), 2)
        |               for i in range(1, 9)]) AS d2
        |   FROM subs s JOIN cb ON s.m = cb.m),
        | codes AS (SELECT vec_id, m, min(struct_pack(d2 := d2, code := code)).code AS code
        |   FROM scored GROUP BY vec_id, m),
        | q AS (SELECT vec_id AS q_id, m, sub AS q_sub FROM subs WHERE vec_id < 5),
        | pair AS (SELECT q.q_id, c.vec_id, c.m,
        |     list_sum([pow(CAST(q.q_sub[i] AS DOUBLE) - CAST(cb.cb_sub[i] AS DOUBLE), 2)
        |               for i in range(1, 9)]) AS d2
        |   FROM codes c JOIN cb ON c.m = cb.m AND c.code = cb.code
        |               JOIN q ON q.m = c.m
        |   WHERE c.vec_id <> q.q_id),
        | tot AS (SELECT q_id, vec_id,
        |     list_reduce(list_prepend(0.0,
        |       [x.d2 for x in list_sort(list(struct_pack(m := m, d2 := d2)))]),
        |       (a, b) -> a + b) AS adc2
        |   FROM pair GROUP BY q_id, vec_id),
        | ranked AS (SELECT q_id, vec_id AS neighbor_id, adc2,
        |     row_number() OVER (PARTITION BY q_id ORDER BY adc2, vec_id) AS rank
        |   FROM tot)
        | SELECT q_id, neighbor_id, round(adc2, 6) AS adc2_r6, rank
        | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // Fuzzy entity matching: top-3 Jaro-Winkler name neighbors per part
    // within (brand, size) blocks — the blocked record-linkage shape
    // (never an all-pairs join). jaro_winkler is the native codegen
    // expression, empirically BIT-EXACT vs DuckDB's rapidfuzz-lineage
    // implementation on 285k name pairs (JaroWinklerSpec pins cases),
    // so ranking on the raw double is deterministic cross-engine.
    Query("fuzzy_name_match", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey").as("k"),
        col("p_brand").as("brand"), col("p_size").as("sz"), col("p_name").as("nm"))
      val pairs = p.as("a").join(p.as("b"),
          col("a.brand") === col("b.brand") && col("a.sz") === col("b.sz") &&
            col("a.k") =!= col("b.k"))
        .select(col("a.k").as("part_a"), col("b.k").as("part_b"),
          expr("jaro_winkler(a.nm, b.nm)").as("jw"))
      // map-side pruning top-k exec instead of a full row_number window
      // over the blocked pair table (prunes before the exchange)
      graft.ops.TopK.topKPerGroupExecRanked(pairs, Seq("part_a"),
          Seq(("jw", true), ("part_b", false)), 3, "rank")
        .select(col("part_a"), col("part_b"),
          round(col("jw"), 4).as("jw_r4"), col("rank"))
        .orderBy("part_a", "rank")
    },
      oracle = """WITH p AS (SELECT p_partkey AS k, p_brand AS brand, p_size AS sz, p_name AS nm FROM part),
        | pairs AS (SELECT a.k AS part_a, b.k AS part_b,
        |     jaro_winkler_similarity(a.nm, b.nm) AS jw
        |   FROM p a JOIN p b ON a.brand = b.brand AND a.sz = b.sz AND a.k <> b.k),
        | ranked AS (SELECT part_a, part_b, jw,
        |     row_number() OVER (PARTITION BY part_a ORDER BY jw DESC, part_b) AS rank
        |   FROM pairs)
        | SELECT part_a, part_b, round(jw, 4) AS jw_r4, rank
        | FROM ranked WHERE rank <= 3 ORDER BY part_a, rank""".stripMargin.replace("\n", " ")),

    // Fellegi-Sunter record-linkage scoring: blocked pairs scored by
    // per-field agreement log-odds weights (integer, pinned) — name via
    // the native jaro_winkler (byte-exact cross-engine), mfgr/container
    // as equality flags — then classified match / possible / non-match
    // by threshold. The probabilistic-linkage decision layer above
    // fuzzy_name_match's similarity ranking; blocking keeps the pair
    // space per-block-quadratic, never corpus-quadratic.
    Query("link_fellegi_sunter", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey").as("k"),
        col("p_brand").as("brand"), col("p_size").as("sz"), col("p_name").as("nm"),
        col("p_type").as("typ"), col("p_retailprice").as("price"))
      val pairs = p.as("a").join(p.as("b"),
          col("a.brand") === col("b.brand") && col("a.sz") === col("b.sz") &&
            col("a.k") < col("b.k"))
        .select(col("a.k").as("part_a"), col("b.k").as("part_b"),
          expr("jaro_winkler(a.nm, b.nm)").as("jw"),
          (col("a.typ") === col("b.typ")).as("m_eq"),
          (abs(col("a.price") - col("b.price")) <= 50.0).as("c_eq"))
      val score = when(col("jw") >= 0.9, lit(40)).otherwise(lit(-10)) +
        when(col("m_eq"), lit(15)).otherwise(lit(-15)) +
        when(col("c_eq"), lit(10)).otherwise(lit(-5))
      pairs.select(col("part_a"), col("part_b"), round(col("jw"), 4).as("jw_r4"),
          score.cast("int").as("score"),
          when(score >= 45, lit("match")).when(score >= 20, lit("possible"))
            .otherwise(lit("non-match")).as("decision"))
        .where(col("score") >= 20)
        .orderBy("part_a", "part_b")
    },
      oracle = """WITH p AS (SELECT p_partkey AS k, p_brand AS brand, p_size AS sz,
        |     p_name AS nm, p_type AS typ, p_retailprice AS price FROM part),
        | pr AS (SELECT a.k AS part_a, b.k AS part_b,
        |     jaro_winkler_similarity(a.nm, b.nm) AS jw,
        |     a.typ = b.typ AS m_eq, abs(a.price - b.price) <= 50.0 AS c_eq
        |   FROM p a JOIN p b ON a.brand = b.brand AND a.sz = b.sz AND a.k < b.k),
        | sc AS (SELECT part_a, part_b, jw,
        |     (CASE WHEN jw >= 0.9 THEN 40 ELSE -10 END +
        |      CASE WHEN m_eq THEN 15 ELSE -15 END +
        |      CASE WHEN c_eq THEN 10 ELSE -5 END) AS score FROM pr)
        | SELECT part_a, part_b, round(jw, 4) AS jw_r4, score::INT AS score,
        |   CASE WHEN score >= 45 THEN 'match' WHEN score >= 20 THEN 'possible'
        |        ELSE 'non-match' END AS decision
        | FROM sc WHERE score >= 20 ORDER BY part_a, part_b""".stripMargin.replace("\n", " ")),

    // Embedding-distribution drift monitor: per label, cosine between the
    // centroids of two cohorts (vec_id parity — at deploy: two time
    // windows). Every float reduction is an explicitly ORDERED fold
    // (vec_id order per cell, index order for the dot), so the doubles
    // reproduce bit-for-bit; drift < 1 means the cohorts' mean vectors
    // diverge — the embedding-pipeline regression alarm.
    Query("embed_drift", (s, dir) => {
      def dotf(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (p, q) -> p + q)")
      val pe = t(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("par"), col("vec_id"),
          posexplode(col("embedding")))
      val cell = pe.groupBy("label", "par", "pos")
        .agg(expr("""aggregate(array_sort(collect_list(struct(vec_id, col))),
               | CAST(0 AS DOUBLE), (a, x) -> a + CAST(x.col AS DOUBLE))"""
            .stripMargin.replace("\n", " ")).as("sv"),
          count(lit(1)).as("nv"))
        .select(col("label"), col("par"), col("pos"), (col("sv") / col("nv")).as("cv"))
      val cent = cell.groupBy("label", "par")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
      val a = cent.where(col("par") === 0).select(col("label"), col("c").as("ca"))
      val b = cent.where(col("par") === 1).select(col("label"), col("c").as("cb"))
      a.join(b, "label")
        .select(col("label"),
          (round(dotf("ca", "cb") / (sqrt(dotf("ca", "ca")) * sqrt(dotf("cb", "cb"))), 4)
            + lit(0.0)).as("drift_cos_r4"))
        .orderBy("label")
    },
      oracle = """WITH pos AS (SELECT unnest(range(1, 65)) AS pos),
        | pe AS (SELECT label, vec_id % 2 AS par, vec_id, pos.pos AS pos,
        |     CAST(embedding[pos.pos] AS DOUBLE) AS v FROM embeddings, pos),
        | cell AS (SELECT label, par, pos,
        |     list_reduce(list_prepend(0.0,
        |       [x.v for x in list_sort(list(struct_pack(vec_id := vec_id, v := v)))]),
        |       (a, b) -> a + b) / count(*) AS cv
        |   FROM pe GROUP BY label, par, pos),
        | cent AS (SELECT label, par, list(cv ORDER BY pos) AS c FROM cell GROUP BY label, par),
        | ca AS (SELECT label, c AS ca FROM cent WHERE par = 0),
        | cb AS (SELECT label, c AS cb FROM cent WHERE par = 1)
        | SELECT ca.label,
        |   round(list_sum([ca[i] * cb[i] for i in range(1, 65)]) /
        |     (sqrt(list_sum([ca[i] * ca[i] for i in range(1, 65)])) *
        |      sqrt(list_sum([cb[i] * cb[i] for i in range(1, 65)]))), 4) + 0.0 AS drift_cos_r4
        | FROM ca JOIN cb ON ca.label = cb.label ORDER BY ca.label""".stripMargin.replace("\n", " ")),

    // IVF-PQ composed search, ORACLE-CHECKED end to end (the r11
    // verdict's last spec-only similarity path): int8-quantized corpus,
    // integer seed centroids (vec_id < 8), integer-grid trained
    // codebooks (pqTrainCodebooksInt, m=4 k=4, 2 rounds), nprobe=2 —
    // every ADC distance is an exact integer, so codes, candidates,
    // distances, and ranks all hash-match the SQL rebuild. Float-recall
    // behavior of the same path stays pinned by AnnRecallSpec.
    Query("embed_ivfpq", (s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"),
          expr("transform(_q, x -> CAST(x AS FLOAT))").as("emb_q"))
      val cents = qv.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("emb_q").as("c_emb"))
      val cb = Similarity.pqTrainCodebooksInt(qv, "vec_id", "emb_q",
        m = 4, k = 4, iterations = 2, dim = 64)
      Similarity.ivfPqTopK(qv, "vec_id", "emb_q", cents, "c_id", "c_emb", cb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 15),
          k = 3, nprobe = 2, dim = 64, m = 4)
        .select(col("q_id"), col("neighbor_id"),
          col("adc2").cast("long").as("adc2"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    },
      // the full composed pipeline rebuilt in SQL: quantize → seed
      // centroids → 2 unrolled Lloyd rounds (same CTEs as embed_pq_train)
      // → encode → IVF assign (argmin cosine) → 2-probe per query → ADC
      // over codes in probed cells → top-3; integer arithmetic end to end
      oracle = """WITH ma AS (SELECT vec_id, embedding,
        |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS MATERIALIZED (SELECT vec_id,
        |     CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |          ELSE list_transform(embedding,
        |            x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |     END AS q
        |   FROM ma),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | subs AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |     q[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv FROM qv, mm),
        | seed AS MATERIALIZED (SELECT m, rn - 1 AS code, sv AS cv FROM
        |     (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        |      FROM subs) WHERE rn <= 4),
        | a1 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN seed c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e1 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n1 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e1 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c1 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM seed s LEFT JOIN n1 n ON s.m = n.m AND s.code = n.code),
        | a2 AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c1 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | e2 AS (SELECT a.m, a.code, r.range AS pos, s.sv[r.range] AS v
        |   FROM a2 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m, range(1, 17) r),
        | n2 AS (SELECT m, code,
        |     [x.v for x in list_sort(list(struct_pack(pos := pos, v := v)))] AS cv
        |   FROM (SELECT m, code, pos, round(avg(v)) AS v FROM e2 GROUP BY m, code, pos)
        |   GROUP BY m, code),
        | c2 AS MATERIALIZED (SELECT s.m, s.code, coalesce(n.cv, s.cv) AS cv
        |   FROM c1 s LEFT JOIN n2 n ON s.m = n.m AND s.code = n.code),
        | enc AS MATERIALIZED (SELECT s.vec_id, s.m,
        |     min(struct_pack(d2 := list_sum([pow(s.sv[i] - c.cv[i], 2) for i in range(1, 17)]),
        |                     code := c.code)).code AS code
        |   FROM subs s JOIN c2 c ON s.m = c.m GROUP BY s.vec_id, s.m),
        | cents AS MATERIALIZED (SELECT vec_id AS c_id, q AS c_emb FROM qv WHERE vec_id < 8),
        | assign AS MATERIALIZED (SELECT v.vec_id,
        |     min(struct_pack(nc := -(list_dot_product(c.c_emb, v.q) /
        |           (sqrt(list_dot_product(c.c_emb, c.c_emb)) * sqrt(list_dot_product(v.q, v.q)))),
        |         cid := c.c_id)).cid AS cluster
        |   FROM qv v, cents c GROUP BY v.vec_id),
        | probes AS (SELECT q_id, cluster FROM (
        |     SELECT v.vec_id AS q_id, c.c_id AS cluster,
        |       row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |         (list_dot_product(c.c_emb, v.q) /
        |           (sqrt(list_dot_product(c.c_emb, c.c_emb)) * sqrt(list_dot_product(v.q, v.q)))) DESC,
        |         c.c_id) AS rk
        |     FROM qv v, cents c WHERE v.vec_id >= 10 AND v.vec_id < 15)
        |   WHERE rk <= 2),
        | cand AS (SELECT p.q_id, a.vec_id AS neighbor_id
        |   FROM probes p JOIN assign a ON a.cluster = p.cluster
        |   WHERE a.vec_id <> p.q_id),
        | qsubs AS (SELECT v.vec_id AS q_id, mm.m AS m,
        |     v.q[mm.m * 16 + 1 : mm.m * 16 + 16] AS qv_sub
        |   FROM qv v, mm WHERE v.vec_id >= 10 AND v.vec_id < 15),
        | adc AS (SELECT c.q_id, c.neighbor_id,
        |     sum(list_sum([pow(qs.qv_sub[i] - cb.cv[i], 2) for i in range(1, 17)])) AS adc2
        |   FROM cand c JOIN enc e ON e.vec_id = c.neighbor_id
        |               JOIN c2 cb ON cb.m = e.m AND cb.code = e.code
        |               JOIN qsubs qs ON qs.q_id = c.q_id AND qs.m = e.m
        |   GROUP BY c.q_id, c.neighbor_id),
        | ranked AS (SELECT q_id, neighbor_id, adc2,
        |     row_number() OVER (PARTITION BY q_id ORDER BY adc2, neighbor_id) AS rank
        |   FROM adc)
        | SELECT q_id, neighbor_id, CAST(adc2 AS BIGINT) AS adc2, CAST(rank AS BIGINT) AS rank
        | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    Query("ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb", 5, dim = 64)
        .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id, ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // Matryoshka retrieval (Kusupati et al. '22): exact top-3 under PREFIX
    // dims 8/16/32/64 of the embedding, with per-(dim, query) overlap vs
    // the full-dim answer — the recall curve that tells you the cheapest
    // usable first-stage dim. At scale the prefix slice happens at the
    // SCAN (column pruning of a fixed-size array → 8× less I/O at d=8),
    // so a stage-1 sweep reads a fraction of the index; this query's
    // 4-way union shares one corpus read under the cache.
    Query("embed_matryoshka", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dims = Seq(8, 16, 32, 64)
      // ONE corpus scan for all prefix dims: slice per row (scan-side
      // column pruning at deploy — an MRL index stores the prefix), then
      // every (pair, dim) cosine rides the same broadcast cross join and
      // explodes into the shared top-k exec keyed (dim, q_id) — not four
      // serial brute-force jobs over the same corpus
      def sliced(df: DataFrame, ec: String, pfx: String) =
        dims.foldLeft(df)((d, n) => d.withColumn(s"$pfx$n", slice(col(ec), 1, n)))
      val c = sliced(emb.select(col("vec_id"), col("embedding")), "embedding", "_e")
        .drop("embedding")
      val q = sliced(emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe")), "qe", "_q")
        .drop("qe")
      val scored = c.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          explode(array(dims.map { n =>
            struct(lit(n).as("dim"),
              (expr(s"vec_dot(_q$n, _e$n)") /
                (sqrt(expr(s"vec_dot(_q$n, _q$n)")) *
                  sqrt(expr(s"vec_dot(_e$n, _e$n)")))).as("cos"))
          }: _*)).as("dc"))
        .select(col("dc.dim").as("dim"), col("q_id"), col("neighbor_id"),
          col("dc.cos").as("cos"))
      val per = graft.ops.TopK.topKPerGroupExec(scored, Seq("dim", "q_id"),
          Seq(("cos", true), ("neighbor_id", false)), 3)
        .select(col("dim"), col("q_id"), col("neighbor_id"))
      // hits vs the full-dim top3 computed row-locally from ONE collected
      // group per query (≤ 12 rows each) — a join of `per` against its own
      // dim=64 filter would re-run the scoring scan twice
      per.groupBy("q_id")
        .agg(collect_list(struct(col("dim"), col("neighbor_id"))).as("all"))
        .select(col("q_id"), explode(expr(
          """transform(array(8, 16, 32, 64), d -> struct(
            | CAST(d AS INT) AS dim,
            | array_join(transform(array_sort(
            |     transform(filter(all, x -> x.dim = d), x -> x.neighbor_id)),
            |   n -> CAST(n AS STRING)), ',') AS top3,
            | CAST(size(array_intersect(
            |     transform(filter(all, x -> x.dim = d), x -> x.neighbor_id),
            |     transform(filter(all, x -> x.dim = 64), x -> x.neighbor_id)))
            |   AS BIGINT) AS hits))""".stripMargin.replace("\n", " "))).as("r"))
        .select(col("r.dim").as("dim"), col("q_id"),
          col("r.top3").as("top3"), col("r.hits").as("hits"))
        .orderBy("dim", "q_id")
    },
      oracle = s"""WITH p AS (
         |   SELECT d.dim, q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |          row_number() OVER (PARTITION BY d.dim, q.vec_id
         |            ORDER BY ${duckCosine("(q.embedding[1:d.dim])", "(e.embedding[1:d.dim])")} DESC,
         |                     e.vec_id) AS rnk
         |   FROM (VALUES (8), (16), (32), (64)) d(dim)
         |   CROSS JOIN embeddings q
         |   JOIN embeddings e ON e.vec_id <> q.vec_id
         |   WHERE q.vec_id < 10),
         | top AS (SELECT dim, q_id, neighbor_id FROM p WHERE rnk <= 3),
         | full64 AS (SELECT q_id, neighbor_id FROM top WHERE dim = 64)
         | SELECT t.dim, t.q_id, array_to_string(list_sort(list(t.neighbor_id)), ',') AS top3,
         |        CAST(sum(CASE WHEN f.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits
         | FROM top t LEFT JOIN full64 f
         |   ON t.q_id = f.q_id AND t.neighbor_id = f.neighbor_id
         | GROUP BY t.dim, t.q_id ORDER BY t.dim, t.q_id""".stripMargin.replace("\n", " ")),

    // MMR diversified re-rank (Carbonell & Goldstein '98): greedy top-5
    // from each query's exact top-20, score = 0.7·rel − 0.3·max sim to
    // the already-selected set — the diversity stage between first-pass
    // retrieval and the consumer. The greedy loop is ROW-LOCAL over one
    // query's collected candidate structs (≤ 20² sims); the oracle
    // unrolls the 5 selection steps as chained CTEs.
    Query("embed_mmr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cand = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 20, dim = 64)
        .select(col("q_id"), col("neighbor_id").as("id"), col("cos").as("rel"))
      Similarity.mmrRerank(emb, cand, "vec_id", "embedding", "q_id", "id",
          "rel", k = 5, lambda = 0.7, mu = 0.3)
        .select(col("q_id"), col("id").as("neighbor_id"), col("step"),
          round(col("score"), 4).as("mmr_r4"))
        .orderBy("q_id", "step")
    },
      oracle = {
        // steps 2..5 unrolled: score each unselected candidate against the
        // selected set via the pair-sim table, pick argmax (ties to id)
        val steps = (2 to 5).map { i =>
          s"""r$i AS (SELECT c.q_id, c.id, c.rel,
             |   0.7 * c.rel - 0.3 * max(pp.sim) AS score
             |   FROM cand c
             |   JOIN sel${i - 1} s ON s.q_id = c.q_id
             |   LEFT JOIN sel${i - 1} ex ON ex.q_id = c.q_id AND ex.id = c.id
             |   JOIN p pp ON pp.q_id = c.q_id AND pp.a = least(c.id, s.id)
             |     AND pp.b = greatest(c.id, s.id)
             |   WHERE ex.id IS NULL GROUP BY c.q_id, c.id, c.rel),
             | pk$i AS (SELECT q_id, id, score, row_number() OVER
             |     (PARTITION BY q_id ORDER BY score DESC, id) AS rn FROM r$i),
             | sel$i AS (SELECT q_id, id, step, score FROM sel${i - 1} UNION ALL
             |   SELECT q_id, id, $i AS step, score FROM pk$i WHERE rn = 1)""".stripMargin
        }.mkString(",\n ")
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           |   WHERE vec_id < 5),
           | scored AS (SELECT q.q_id, e.vec_id AS id,
           |     ${duckCosine("q.q_emb", "e.embedding")} AS rel
           |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
           | cand AS (SELECT q_id, id, rel FROM (SELECT q_id, id, rel,
           |     row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, id) AS rn
           |   FROM scored) WHERE rn <= 20),
           | p AS (SELECT c1.q_id, c1.id AS a, c2.id AS b,
           |     ${duckCosine("e1.embedding", "e2.embedding")} AS sim
           |   FROM cand c1 JOIN cand c2 ON c1.q_id = c2.q_id AND c1.id < c2.id
           |   JOIN embeddings e1 ON e1.vec_id = c1.id
           |   JOIN embeddings e2 ON e2.vec_id = c2.id),
           | s1 AS (SELECT q_id, id, 0.7 * rel AS score, row_number() OVER
           |     (PARTITION BY q_id ORDER BY 0.7 * rel DESC, id) AS rn FROM cand),
           | sel1 AS (SELECT q_id, id, 1 AS step, score FROM s1 WHERE rn = 1),
           | $steps
           | SELECT q_id, id AS neighbor_id, step, round(score, 4) AS mmr_r4
           | FROM sel5 ORDER BY q_id, step""".stripMargin.replace("\n", " ")
      }),

    // Retrieval-quality eval: rank of the FIRST relevant neighbor
    // (same-label) in each query's exact top-10 — the integer core of
    // MRR@10 (the mean-of-reciprocals is one trivial reduce the caller
    // can do; keeping ranks integer makes the gate bit-exact). 0 = no
    // relevant hit in the top 10. Label join is against the tiny
    // (vec_id, label) projection, broadcast on both sides of the
    // already-bounded top-k table.
    Query("retrieval_mrr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb",
          10, dim = 64)
        .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .join(broadcast(lab.select(col("vec_id").as("q_id"),
          col("label").as("q_label"))), "q_id")
        .groupBy("q_id")
        .agg(coalesce(min(when(col("n_label") === col("q_label"), col("rank"))),
          lit(0)).as("first_rel_rank"))
        .orderBy("q_id")
    },
      oracle = s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         | scored AS (
         |   SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, q_label, n_label,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id,
         |   coalesce(min(CASE WHEN n_label = q_label THEN rank END), 0) AS first_rel_rank
         | FROM ranked WHERE rank <= 10 GROUP BY q_id ORDER BY q_id""".stripMargin.replace("\n", " ")),

    // Exact average precision per query over the top-10 (MAP's core) —
    // entirely integer arithmetic: P@k is rational with k ≤ 10, so
    // scaling by lcm(1..10) = 2520 makes every term integer and
    // AP = Σ_{rel k} P@k / R lands in exact basis points. The ranking
    // metric that credits putting relevant results EARLY, with zero
    // float drift (unlike NDCG's logs).
    Query("retrieval_ap", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ranked = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 10, dim = 64)
        .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .join(broadcast(lab.select(col("vec_id").as("q_id"),
          col("label").as("q_label"))), "q_id")
        .select(col("q_id"), col("rank"),
          (col("n_label") === col("q_label")).cast("long").as("rel"))
      val withCnt = ranked.withColumn("relcnt",
        sum("rel").over(Window.partitionBy("q_id").orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withCnt.groupBy("q_id")
        .agg(sum("rel").as("n_rel"),
          sum(when(col("rel") === 1, expr("relcnt * 2520 div rank"))
            .otherwise(lit(0L))).as("_ap2520"))
        .select(col("q_id"), col("n_rel"),
          when(col("n_rel") > 0,
            expr("_ap2520 * 10000 div (n_rel * 2520)")).otherwise(lit(0L))
            .as("ap_bp"))
        .orderBy("q_id")
    },
      oracle = s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         | scored AS (
         |   SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, (n_label = q_label)::BIGINT AS rel,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored),
         | top10 AS (SELECT q_id, rel, rank,
         |     sum(rel) OVER (PARTITION BY q_id ORDER BY rank
         |       ROWS UNBOUNDED PRECEDING) AS relcnt
         |   FROM ranked WHERE rank <= 10),
         | ap AS (SELECT q_id, sum(rel)::BIGINT AS n_rel,
         |     sum(CASE WHEN rel = 1 THEN relcnt * 2520 // rank ELSE 0 END)::BIGINT AS ap2520
         |   FROM top10 GROUP BY q_id)
         | SELECT q_id, n_rel,
         |   CASE WHEN n_rel > 0 THEN (ap2520 * 10000 // (n_rel * 2520))::BIGINT
         |        ELSE 0 END AS ap_bp
         | FROM ap ORDER BY q_id""".stripMargin.replace("\n", " ")),

    // Binary-relevance NDCG@10 with a PINNED integer weight table:
    // w(i) = round(10^6 / log2(i+1)) precomputed as literals on BOTH
    // engines, so DCG = Σ rel_i·w(i) and the ideal DCG stay exact
    // integer arithmetic — the log never enters the query, sidestepping
    // the libm-vs-java ulp hazard that makes float NDCG un-hashable
    // cross-engine (same trick as retrieval_ap's lcm scaling). The
    // ideal is the prefix sum of the first min(CORPUS-relevant, 10)
    // weights — the corpus relevant count (same-label vectors, self
    // excluded), NOT the retrieved-relevant count, so a query that
    // misses relevant items is penalized instead of self-normalized to
    // a perfect score (the recall-blindness a retrieved-only ideal
    // introduces).
    Query("retrieval_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val labCnt = lab.groupBy("label").agg(count(lit(1)).as("n_lab"))
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ranked = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 10, dim = 64)
        .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .join(broadcast(lab.select(col("vec_id").as("q_id"),
          col("label").as("q_label"))), "q_id")
        .select(col("q_id"), col("q_label"), col("rank"),
          (col("n_label") === col("q_label")).cast("long").as("rel"))
      ranked.groupBy("q_id", "q_label")
        .agg(sum("rel").as("n_rel"),
          sum(expr(s"rel * element_at($NdcgW, cast(rank AS int))")).as("dcg"))
        .join(broadcast(labCnt.withColumnRenamed("label", "q_label")), "q_label")
        .select(col("q_id"), col("n_rel"),
          (col("n_lab") - 1).as("n_rel_corpus"),
          when(col("n_lab") > 1,
            expr(s"dcg * 10000 div element_at($NdcgCw," +
              " cast(least(n_lab - 1, 10) AS int))"))
            .otherwise(lit(0L)).as("ndcg_bp"))
        .orderBy("q_id")
    },
      oracle = s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         | lc AS (SELECT label, count(*)::BIGINT AS n_lab FROM embeddings GROUP BY label),
         | scored AS (
         |   SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, q_label, (n_label = q_label)::BIGINT AS rel,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored),
         | agg AS (SELECT q_id, q_label, sum(rel)::BIGINT AS n_rel,
         |     sum(rel * ($duckNdcgW)[rank::INT])::BIGINT AS dcg
         |   FROM ranked WHERE rank <= 10 GROUP BY q_id, q_label)
         | SELECT q_id, n_rel, (n_lab - 1)::BIGINT AS n_rel_corpus,
         |   CASE WHEN n_lab > 1
         |        THEN (dcg * 10000 // ($duckNdcgCw)[least(n_lab - 1, 10)::INT])::BIGINT
         |        ELSE 0 END AS ndcg_bp
         | FROM agg JOIN lc ON lc.label = agg.q_label
         | ORDER BY q_id""".stripMargin.replace("\n", " ")),

    // LSH-bucketed variant: candidates pruned to the query's sign-LSH
    // bucket before exact scoring — the sublinear scale path.
    Query("ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.lshTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb",
          dim = 64, k = 3, numPlanes = 6)
        .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH planes AS (
         |   SELECT j, d, ('0x' || substr(md5(j || ':' || d), 1, 8))::BIGINT % 1001 - 500 AS w
         |   FROM (SELECT unnest(range(0, 6)) AS j), (SELECT unnest(range(0, 64)) AS d)),
         | dots AS (
         |   SELECT vec_id, j, sum(CAST(embedding[d + 1] AS DOUBLE) * w) AS dot
         |   FROM embeddings, planes GROUP BY vec_id, j),
         | buckets AS (
         |   SELECT vec_id, sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS bucket
         |   FROM dots GROUP BY vec_id),
         | e AS (SELECT em.vec_id, em.embedding, b.bucket FROM embeddings em JOIN buckets b USING (vec_id)),
         | q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM e WHERE vec_id < 10),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id, ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // IVF-pruned ANN (nprobe=1): vectors assigned to the nearest of 8
    // deterministic seed centroids; queries search only their own cluster.
    Query("ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | q AS (SELECT vec_id AS q_id, embedding AS q_emb, cluster FROM a2
         |       WHERE vec_id >= 10 AND vec_id < 20),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q JOIN a2 e ON q.cluster = e.cluster AND e.vec_id <> q.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // IVF with TRAINED centroids, oracle-checked end to end (VERDICT r13
    // #7): integer-grid spherical k-means (sphericalKMeansCentroidsInt —
    // integer inputs make every assignment cosine and every rounded mean
    // bit-identical cross-engine, so the SQL oracle unrolls the training
    // loop round-for-round) over a CLUSTERED fixture (16 well-separated
    // integer centers + per-vector noise, clusteredEmbFixture) where
    // seed centroids are single noisy members and training visibly
    // lifts recall (AnnRecallSpec measures the lift; this row pins the
    // trained pipeline's exact output).
    Query("ann_ivf_trained", (s, dir) => {
      val emb = clusteredEmbFixture(t(s, dir, "embeddings"))
      val cents = Similarity.sphericalKMeansCentroidsInt(
        emb, "vec_id", "embedding", k = 16, iterations = 2)
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3, nprobe = 2)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      // trained-IVF: the integer-grid k-means loop unrolled round-for-round
      // (integer inputs ⟹ exact dots, correctly-rounded sqrt/divide, exact
      // rounded means — every round's centroids are bit-identical to the
      // engine's), then the nprobe=2 IVF tail over the trained centroids.
      oracle = {
        def assignCte(cents: String): String =
          s"""SELECT f.vec_id, f.embedding, c.c_id,
             |   row_number() OVER (PARTITION BY f.vec_id
             |     ORDER BY ${duckCosine("c.c_emb", "f.embedding")} DESC, c.c_id) AS rk
             | FROM fix f CROSS JOIN $cents c""".stripMargin
        def meanCte(assign: String, prev: String): String =
          s"""SELECT p.c_id, coalesce(g.c_emb, p.c_emb) AS c_emb FROM $prev p
             | LEFT JOIN (
             |   SELECT c_id, list(v ORDER BY d) AS c_emb FROM (
             |     SELECT a.c_id, d.d,
             |       CAST(CAST(round(avg(a.embedding[d.d + 1]), 0) AS BIGINT) AS FLOAT) AS v
             |     FROM (SELECT embedding, c_id FROM $assign WHERE rk = 1) a,
             |          (SELECT unnest(range(16)) AS d) d
             |     GROUP BY a.c_id, d.d)
             |   GROUP BY c_id) g ON p.c_id = g.c_id""".stripMargin
        s"""WITH fix AS MATERIALIZED ($clusteredEmbFixtureSql),
           | c0 AS MATERIALIZED (SELECT vec_id AS c_id, embedding AS c_emb FROM fix WHERE vec_id < 16),
           | a1 AS MATERIALIZED (${assignCte("c0")}),
           | c1 AS MATERIALIZED (${meanCte("a1", "c0")}),
           | a2 AS MATERIALIZED (${assignCte("c1")}),
           | c2 AS MATERIALIZED (${meanCte("a2", "c1")}),
           | assign AS MATERIALIZED (${assignCte("c2")}),
           | stored AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
           | qp AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cluster FROM assign
           |       WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
           | scored AS (
           |   SELECT qp.q_id, e.vec_id AS neighbor_id,
           |          ${duckCosine("qp.q_emb", "e.embedding")} AS cos
           |   FROM qp JOIN stored e ON qp.cluster = e.cluster AND e.vec_id <> qp.q_id),
           | ranked AS (
           |   SELECT q_id, neighbor_id, cos,
           |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
           |   FROM scored)
           | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
           | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")
      }),

    // Multi-probe IVF: same index, nprobe=2 — recovers neighbors that sit
    // just across a Voronoi boundary from the query's own cluster.
    Query("ann_ivf_probe2", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3, nprobe = 2)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | qp AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cluster FROM assign
         |       WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
         | scored AS (
         |   SELECT qp.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("qp.q_emb", "e.embedding")} AS cos
         |   FROM qp JOIN a2 e ON qp.cluster = e.cluster AND e.vec_id <> qp.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // Multi-assignment IVF (cluster replication r=2, same probe count):
    // every corpus vector is indexed in its TWO nearest cells, so a
    // neighbor sitting just across a Voronoi boundary is visible from
    // either side — the storage-side recall dial (2x index size) that
    // nprobe alone cannot replace on high-dimensional data
    // (AnnRecallSpec: 0.62 -> 0.81 recall@5 at nprobe=2).
    Query("ann_ivf_replicated", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb,
          a => a.where(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", cents, "c_id", "c_emb", k = 3, nprobe = 2,
          replication = 2)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk <= 2),
         | qp AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cluster FROM assign
         |       WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
         | scored AS (
         |   SELECT DISTINCT qp.q_id, e.vec_id AS neighbor_id,
         |          ${duckCosine("qp.q_emb", "e.embedding")} AS cos
         |   FROM qp JOIN a2 e ON qp.cluster = e.cluster AND e.vec_id <> qp.q_id),
         | ranked AS (
         |   SELECT q_id, neighbor_id, cos,
         |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // Hybrid retrieval with reciprocal-rank fusion (the standard RAG
    // two-retriever composition): lexical candidates (distinct shared
    // lowercase terms via an inverted-index join — linear, never
    // all-pairs) and vector candidates (brute-force cosine, query side
    // broadcast) each produce a per-query top-20; RRF fuses them as
    // sum(10^6 div (60 + rank)) — integer micro-units, so the fused
    // score is exact cross-engine arithmetic, not float. doc_id and
    // vec_id share the 0..N id space by fixture construction.
    Query("retrieval_rrf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " "))).as("term"))
        .where(col("term") =!= "")
      val qt = toks.where(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("term"))
      val lexW = Window.partitionBy("q_id")
        .orderBy(col("overlap").desc, col("doc_id"))
      val lex = toks.join(qt, "term")
        .where(col("doc_id") =!= col("q_id"))
        .groupBy("q_id", "doc_id").agg(count(lit(1)).as("overlap"))
        .select(col("q_id"), col("doc_id"), row_number().over(lexW).as("lrank"))
        .where(col("lrank") <= 20)
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val vec = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          "q_id", "q_emb", 20, dim = 64)
        .select(col("q_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vrank"))
      val rrfW = Window.partitionBy("q_id")
        .orderBy(col("rrf_ppm").desc, col("doc_id"))
      lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"),
          (coalesce(expr("1000000 div (60 + lrank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + vrank)"), lit(0L))).as("rrf_ppm"))
        .select(col("q_id"), col("doc_id"), col("rrf_ppm"),
          row_number().over(rrfW).as("rank"))
        .where(col("rank") <= 10)
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH toks0 AS (SELECT doc_id,
         |          unnest(list_distinct(string_split(lower(text), ' '))) AS term
         |        FROM documents),
         | tk AS (SELECT doc_id, term FROM toks0 WHERE term <> ''),
         | lex0 AS (SELECT q.doc_id AS q_id, d.doc_id AS doc_id, count(*) AS overlap
         |          FROM tk q JOIN tk d USING (term)
         |          WHERE q.doc_id < 10 AND d.doc_id <> q.doc_id
         |          GROUP BY 1, 2),
         | lex AS (SELECT q_id, doc_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, doc_id) AS lrank
         |         FROM lex0 QUALIFY lrank <= 20),
         | vec0 AS (SELECT q.vec_id AS q_id, d.vec_id AS doc_id,
         |            ${duckCosine("q.embedding", "d.embedding")} AS cos
         |          FROM embeddings q CROSS JOIN embeddings d
         |          WHERE q.vec_id < 10 AND d.vec_id <> q.vec_id),
         | vec AS (SELECT q_id, doc_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS vrank
         |         FROM vec0 QUALIFY vrank <= 20),
         | fused AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
         |             coalesce(l.doc_id, v.doc_id) AS doc_id,
         |             (CASE WHEN l.lrank IS NULL THEN 0 ELSE 1000000 // (60 + l.lrank) END
         |            + CASE WHEN v.vrank IS NULL THEN 0 ELSE 1000000 // (60 + v.vrank) END)::BIGINT AS rrf_ppm
         |           FROM lex l FULL JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
         | SELECT q_id, doc_id, rrf_ppm,
         |        row_number() OVER (PARTITION BY q_id ORDER BY rrf_ppm DESC, doc_id) AS rank
         | FROM fused QUALIFY rank <= 10
         | ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // int8 scalar quantization audit: per-vector scale + integer summary
    // of the quantized index (float32 → int8 is the 4× footprint cut that
    // decides whether the ANN index fits executor memory at 100 TB).
    // Greedy k-center coreset over int8-quantized embeddings
    // (Gonzalez '85 farthest-point traversal — 2-approx covering
    // radius; ops/Sampling.kCenterCoreset): the diverse-exemplar
    // selection step of a curation pipeline — each new exemplar is the
    // point FARTHEST from everything already kept (exact integer
    // squared L2, ties to the smaller id), so sel_d2 is the
    // non-increasing covering-radius curve. The oracle unrolls all 8
    // selection rounds as chained MATERIALIZED CTE stages (the
    // graph_pagerank discipline — DuckDB would otherwise inline the
    // doubly-referenced stage 2^7 times) and drops sel = 0 stages,
    // mirroring the operator's radius-0 stop.
    Query("sample_coreset", (s, dir) => {
      val qv = t(s, dir, "embeddings")
        .withColumn("_ma", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_ma"))
        .select(col("vec_id"), col("_q"))
      graft.ops.Sampling.kCenterCoreset(qv, "vec_id", "_q", k = 8)
        .orderBy("rank")
    },
      oracle = {
        def dist(a: String, b: String) =
          s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i])::BIGINT * ($a[i] - $b[i])))"
        val stages = (2 to 8).map { r =>
          s""" n$r AS (SELECT vec_id AS cid, best AS sel FROM s${r - 1}
             |   ORDER BY best DESC, vec_id LIMIT 1),
             | c$r AS (SELECT n$r.cid, q.qv AS cq, n$r.sel
             |   FROM n$r JOIN q ON q.vec_id = n$r.cid),
             | s$r AS MATERIALIZED (SELECT s.vec_id, s.qv,
             |   least(s.best, ${dist("s.qv", "c.cq")}) AS best
             |   FROM s${r - 1} s, c$r c)""".stripMargin
        }.mkString(",")
        // sel > 0 mirrors kCenterCoreset's radius-0 stop: once the
        // covering radius collapses (fewer distinct vectors than k), every
        // later stage would re-select the seed at sel = 0 — drop those
        // rows so both engines emit the same (possibly < 8) exemplar set
        val tails = (2 to 8).map(r =>
          s"UNION ALL SELECT CAST($r AS BIGINT), cid, sel::BIGINT FROM n$r WHERE sel > 0")
          .mkString(" ")
        s"""WITH m AS (SELECT vec_id, embedding,
           |     CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
           |   FROM embeddings),
           | q AS MATERIALIZED (SELECT vec_id,
           |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
           |        ELSE list_transform(embedding,
           |               x -> CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER)) END AS qv
           |   FROM m),
           | c1 AS (SELECT vec_id AS cid, qv AS cq FROM q
           |        WHERE vec_id = (SELECT min(vec_id) FROM q)),
           | s1 AS MATERIALIZED (SELECT q.vec_id, q.qv, ${dist("q.qv", "c.cq")} AS best
           |   FROM q, c1 c),$stages
           | SELECT CAST(1 AS BIGINT) AS rank, cid AS vec_id, CAST(0 AS BIGINT) AS sel_d2
           | FROM c1 $tails ORDER BY rank""".stripMargin.replace("\n", " ")
      }),

    Query("embed_quantize", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.withColumn("_m", Similarity.maxAbs("embedding"))
        .withColumn("_q", Similarity.quantizeInt8("embedding", "_m"))
        .select(col("vec_id"),
          round(col("_m"), 6).as("scale6"),
          expr("CAST(aggregate(_q, 0L, (a, x) -> a + x) AS BIGINT)").as("q_sum"),
          expr("CAST(aggregate(_q, 0L, (a, x) -> a + abs(x)) AS BIGINT)").as("q_l1"),
          expr("CAST(array_max(transform(_q, x -> abs(x))) AS INT)").as("q_max"))
        .orderBy("vec_id")
    },
      oracle = """WITH m AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id, ma,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
        |        ELSE list_transform(embedding,
        |               x -> CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER)) END AS q
        |   FROM m)
        | SELECT vec_id, round(ma, 6) AS scale6,
        |        CAST(list_sum(q) AS BIGINT) AS q_sum,
        |        CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
        |        CAST(list_max(list_transform(q, x -> abs(x))) AS INTEGER) AS q_max
        | FROM qv ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // Hard-negative mining for contrastive training: per anchor, the
    // top-5 most-similar vectors with a DIFFERENT label — the
    // near-boundary negatives that carry gradient (random negatives are
    // trivially separable and teach nothing). Broadcast anchors × one
    // corpus scan; the label predicate sits before the dot product, and
    // the top-k exec prunes map-side.
    Query("embed_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      Similarity.hardNegatives(emb, q, "vec_id", "embedding", "label",
          "q_id", "q_emb", "q_label", 5)
        .select(col("q_id"), col("neighbor_id"), col("neg_label"),
          round(col("cos"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |   FROM embeddings WHERE vec_id < 10),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS neighbor_id, e.label AS neg_label,
         |          ${duckCosine("q.q_emb", "e.embedding")} AS cos
         |   FROM q CROSS JOIN embeddings e WHERE e.label <> q.q_label),
         | ranked AS (
         |   SELECT q_id, neighbor_id, neg_label, cos,
         |          row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, neighbor_id) AS rank
         |   FROM scored)
         | SELECT q_id, neighbor_id, neg_label, round(cos, 4) AS cos_sim, rank
         | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // Label-noise audit: leave-one-out centroid cosine per embedding;
    // the bottom-3 per label are the mislabel/junk candidates an
    // embedding-dataset audit quarantines first. Exact at any scale —
    // int8 quantization makes the label centroid an integer sum, and the
    // leave-one-out algebra runs on integer-valued doubles through the
    // native vec_dot_d (see Similarity.labelOutliers).
    Query("embed_label_outliers", (s, dir) => {
      val scored = Similarity.labelOutliers(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label")
      graft.ops.TopK.topKPerGroupExecRanked(scored, Seq("label"),
          Seq(("loo_cos", false), ("vec_id", false)), 3, "rank")
        .select(col("label"), col("vec_id"),
          round(col("loo_cos"), 4).as("loo_cos4"), col("rank"))
        .orderBy("label", "rank")
    },
      oracle = """WITH m AS (SELECT vec_id, label, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |   FROM embeddings),
        | qv AS (SELECT vec_id, label,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |        ELSE list_transform(embedding,
        |          x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE))
        |   END AS q FROM m),
        | ex AS (SELECT label, generate_subscripts(q, 1) AS pos, unnest(q) AS v FROM qv),
        | ps AS (SELECT label, pos, sum(v) AS s, count(*) AS c FROM ex GROUP BY 1, 2),
        | cents AS (SELECT label, list(s ORDER BY pos) AS cv, max(c) AS n
        |   FROM ps GROUP BY label),
        | sc AS (SELECT vec_id, qv.label,
        |   list_dot_product(q, cv) AS vc,
        |   list_dot_product(q, q) AS vv,
        |   list_dot_product(cv, cv) AS cc
        |   FROM qv JOIN cents USING (label)
        |   WHERE n > 1 AND list_dot_product(q, q) > 0),
        | res AS (SELECT label, vec_id,
        |   (vc - vv) / (sqrt(vv) * sqrt(cc - 2 * vc + vv)) AS loo,
        |   row_number() OVER (PARTITION BY label
        |     ORDER BY (vc - vv) / (sqrt(vv) * sqrt(cc - 2 * vc + vv)), vec_id) AS rank
        |   FROM sc)
        | SELECT label, vec_id, round(loo, 4) AS loo_cos4, rank
        | FROM res WHERE rank <= 3 ORDER BY label, rank""".stripMargin.replace("\n", " ")),

    // ANN over the int8 index: quantized-cosine top-k for the same query
    // set as ann_topk — integer dot products under the sqrt keep the score
    // exact cross-engine; AnnRecallSpec pins recall vs the float baseline.
    Query("embed_quantized_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.quantizedTopK(emb, q, "vec_id", "embedding", "q_id", "q_emb", 5)
        .select(col("q_id"), col("neighbor_id"), col("dot_q"),
          round(col("cos_q"), 4).as("cos_sim"), col("rank"))
        .orderBy("q_id", "rank")
    },
      oracle = """WITH m AS (SELECT vec_id,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma,
        |   embedding FROM embeddings),
        | qv AS (SELECT vec_id,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |        ELSE list_transform(embedding,
        |               x -> CAST(CAST(round(127 * CAST(x AS DOUBLE) / ma) AS INTEGER) AS DOUBLE)) END AS qd
        |   FROM m),
        | nn AS (SELECT vec_id, qd, sqrt(list_dot_product(qd, qd)) AS nrm FROM qv),
        | qs AS (SELECT vec_id AS q_id, qd AS qqd, nrm AS qnrm FROM nn WHERE vec_id < 10),
        | scored AS (
        |   SELECT qs.q_id, e.vec_id AS neighbor_id,
        |          CAST(list_dot_product(qs.qqd, e.qd) AS BIGINT) AS dot_q,
        |          list_dot_product(qs.qqd, e.qd) / (qs.qnrm * e.nrm) AS cos
        |   FROM qs CROSS JOIN nn e WHERE e.vec_id <> qs.q_id),
        | ranked AS (
        |   SELECT q_id, neighbor_id, dot_q, cos,
        |          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |   FROM scored)
        | SELECT q_id, neighbor_id, dot_q, round(cos, 4) AS cos_sim, rank
        | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

    // Binary-quantized similarity: 60-bit sign signatures, xor+popcount
    // Hamming distance — 8 bytes/vector, one instruction per comparison.
    Query("embed_hamming", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), expr("vec_sign_bits(embedding)").as("bits"))
      val a = e.select(col("label"), col("vec_id").as("a_id"), col("bits").as("a_bits"))
      val b = e.select(col("label"), col("vec_id").as("b_id"), col("bits").as("b_bits"))
      a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("a_bits").bitwiseXOR(col("b_bits"))).as("hamming"))
        .where(col("hamming") <= 20)
        .orderBy("a_id", "b_id")
    },
      oracle = """WITH bits AS (
        |   SELECT label, vec_id,
        |          list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END
        |                    for i in range(1, least(len(embedding), 60) + 1)])::BIGINT AS bits
        |   FROM embeddings)
        | SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |        CAST(bit_count(xor(a.bits, b.bits)) AS INTEGER) AS hamming
        | FROM bits a JOIN bits b ON a.label = b.label AND a.vec_id < b.vec_id
        | WHERE bit_count(xor(a.bits, b.bits)) <= 20
        | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")),

    // Near-dup pairs within the same `label` partition — label stands in for
    // an IVF/cluster assignment, i.e. the candidate-pruned scale path:
    // at 100 TB the quadratic blowup is bounded per-cluster, not global.
    Query("embed_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("nrm", sqrt(Similarity.dotFixed("embedding", "embedding", 64)))
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (Similarity.dotFixed("a_emb", "b_emb", 64) / (col("a_nrm") * col("b_nrm"))).as("cos"))
        .where(col("cos") >= 0.35)
        .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
        .orderBy("a_id", "b_id")
    },
      oracle = s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |        round(${duckCosine("a.embedding", "b.embedding")}, 4) AS cos_sim
         | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         | WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
         | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")),

    // Semantic dedup end-to-end: embedding-cosine near-dup pairs →
    // connected components → per-cluster size and a keep/drop verdict
    // (keep = the minimum-id member, which IS the component label).
    Query("embed_clusters", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("nrm", sqrt(Similarity.dotFixed("embedding", "embedding", 64)))
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      val pairs = a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .where(Similarity.dotFixed("a_emb", "b_emb", 64) /
          (col("a_nrm") * col("b_nrm")) >= 0.35)
        .select(col("a_id"), col("b_id"))
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .select(col("node").as("vec_id"), col("cluster_id"), col("cluster_size"),
          (col("node") === col("cluster_id")).cast("int").as("keep"))
        .orderBy("vec_id")
    },
      oracle = s"""WITH RECURSIVE pairs AS (
         |   SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |   FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |   WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35),
         | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         | reach(s, d) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         | comp AS (SELECT s AS vec_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
         | SELECT vec_id, cluster_id,
         |        count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |        (vec_id = cluster_id)::INT AS keep
         | FROM comp ORDER BY vec_id""".stripMargin.replace("\n", " "))
  )
}

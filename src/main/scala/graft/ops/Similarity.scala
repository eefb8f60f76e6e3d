package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Two paths:
  *  - brute force: exact cosine top-k, linear scan — the baseline and the
  *    within-candidate scorer;
  *  - LSH: sign-of-random-hyperplane buckets; hyperplane weights derive
  *    from md5 so they're deterministic and reproducible in the oracle.
  *    At 100 TB the bucket key prunes the candidate space to one shuffle
  *    partition per bucket instead of an all-pairs cross join.
  */
object Similarity {

  /** Dot product via the native codegen [[graft.functions.VecDot]]
    * expression (left-fold order, matching DuckDB's `list_dot_product`
    * over `DOUBLE[]` bit-for-bit; `dim` kept for API stability, unused).
    * Requires `graft.Functions.register` on the session (GraftSession does).
    */
  def dotFixed(a: String, b: String, dim: Int = 0): Column =
    expr(s"vec_dot($a, $b)")

  /** Cosine over the native dot product — the ONLY cosine path (the former
    * interpreted higher-order-function variant was ~300ns/element; it
    * existed only as a dim-agnostic fallback and is gone).
    */
  def cosine(a: String, b: String): Column = cosineFixed(a, b)

  def cosineFixed(a: String, b: String, dim: Int = 0): Column =
    dotFixed(a, b) / (sqrt(dotFixed(a, a)) * sqrt(dotFixed(b, b)))

  /** Same md5→BIGINT mapping as [[Dedup.md5Int]], computed driver-side. */
  private def md5IntLocal(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Hyperplane weight for (plane j, dimension d): md5("j:d") mapped to
    * [-500, 500]. DuckDB spelling:
    * `('0x'||substr(md5(j||':'||d),1,8))::BIGINT % 1001 - 500`.
    */
  def planeWeight(j: Int, d: Int): Long = md5IntLocal(s"$j:$d") % 1001L - 500L

  /** Sign-LSH bucket id from `numPlanes` hyperplanes (bit j = sign of the
    * dot product with plane j). Weights are literal arrays — no per-row
    * hashing on the scan path.
    */
  def lshBucket(embCol: String, dim: Int, numPlanes: Int = 6): Column = {
    val bits = (0 until numPlanes).map { j =>
      // plane weights are integers ≤ 500 → exact in FLOAT, so vec_dot
      // produces the same doubles as the double-weight formula
      val w = (0 until dim).map(planeWeight(j, _)).mkString(", ")
      val dot = expr(s"vec_dot($embCol, CAST(array($w) AS ARRAY<FLOAT>))")
      when(dot > 0, 1L << j).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Rank the per-query top-k of a scored pair table: the custom
    * two-phase [[graft.plans.TopKPerGroup]] exec prunes map-side (the
    * exchange carries ≤ k rows per query per partition instead of the
    * whole |corpus|×|queries| scored set) and emits `rank` directly from
    * its merge order — no trailing window exchange.
    */
  private def rankTopK(scored: DataFrame, qIdCol: String, scoreCol: String,
                       k: Int): DataFrame =
    TopK.topKPerGroupExecRanked(scored, Seq(qIdCol),
      Seq((scoreCol, true), ("neighbor_id", false)), k, "rank")

  /** Exact top-k neighbors for each query row (small query side broadcast
    * against the full corpus; linear in corpus size).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, qIdCol: String, qEmbCol: String,
                     k: Int, dim: Int = 0): DataFrame = {
    // Norms are per-row, not per-pair: compute them once on each side so the
    // pair loop does a single dot product (same doubles — sqrt(dot(x,x)) is
    // a pure function of the row).
    val c = corpus.withColumn("_nrm", sqrt(dotFixed(embCol, embCol, dim)))
    val q = queries.withColumn("_qnrm", sqrt(dotFixed(qEmbCol, qEmbCol, dim)))
    val scored = c.crossJoin(broadcast(q))
      .where(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        (dotFixed(qEmbCol, embCol, dim) / (col("_qnrm") * col("_nrm"))).as("cos"))
    rankTopK(scored, qIdCol, "cos", k)
  }

  /** IVF-style clustering: assign every vector to its `replication`
    * nearest centroids (centroids = a small deterministic seed set, e.g.
    * the first K corpus vectors — at deploy time, k-means centroids).
    * Returns the input plus a `cluster` column — one row per (vector,
    * assigned cell). Assignment is a broadcast of K centroids against the
    * corpus — one narrow pass, no shuffle.
    *
    * `replication` > 1 is the multi-assignment recall dial (cluster
    * replication, as in IVF systems with spilled postings): the stored
    * index grows r×, and a probe of `nprobe` cells sees every vector
    * whose r nearest cells intersect them — the fix for neighbors sitting
    * just across a Voronoi boundary, which no centroid quality can
    * recover at replication 1 on high-dimensional data (AnnRecallSpec:
    * 0.62 → 0.81 recall@5 at nprobe=2 with r=2 on the 64-d fixture).
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
                embCol: String, cIdCol: String, cEmbCol: String,
                replication: Int = 1): DataFrame = {
    // The K candidate scores per vector are ROW-LOCAL, so ranking them
    // must not leave the row — a row_number().over(partitionBy(id))
    // window (the shape this replaced) shuffled corpus×K rows just to
    // pick r of them. Instead the centroid side collapses to ONE
    // broadcast row holding a sorted (id, emb, norm) array, and each
    // corpus row picks its r nearest cells inside the fused native
    // [[graft.functions.VecTopCells]] expression: a map-only
    // whole-stage-codegen plan with NO exchange of the corpus at any
    // replication, scoring with the exact cosine expression tree of the
    // scored-join form so selections are bit-identical.
    ivfAssignCells(corpus, centroids, idCol, embCol, cIdCol, cEmbCol,
        replication)
      .select(col(idCol), col(embCol), explode(col("_vcells")).as("cluster"))
  }

  /** One broadcast row holding the sorted (id, emb, norm) centroid array —
    * the shared build for every vec_top_cells consumer. Centroid ids must
    * be distinct (the IVF first-shared-cell predicate relies on it): a
    * duplicate fails the query. The check reads the collected array; a
    * `count_distinct` would add a hash exchange (one job) per build.
    */
  private def centArray(centroids: DataFrame, cIdCol: String,
                        cEmbCol: String): DataFrame = {
    val cents = col("_cents")
    centroids.agg(
      array_sort(collect_list(struct(
        col(cIdCol).cast("long").as("_cid"), col(cEmbCol).as("_cemb"),
        sqrt(dotFixed(cEmbCol, cEmbCol)).as("_cnrm")))).as("_cents"))
      .select(when(size(array_distinct(transform(cents, _("_cid")))) === size(cents), cents)
        .otherwise(raise_error(lit(s"IVF centroids: duplicate $cIdCol"))).as("_cents"))
  }

  /** [[ivfAssign]] pre-explode: the corpus plus its full `_vcells`
    * assignment array (rank order). Keeping the array on the row lets a
    * downstream cell join decide "is this the first cell this pair can
    * meet in" as a codegen predicate instead of a pair `distinct()`.
    */
  private def ivfAssignCells(corpus: DataFrame, centroids: DataFrame,
                             idCol: String, embCol: String, cIdCol: String,
                             cEmbCol: String, replication: Int): DataFrame =
    corpus.crossJoin(broadcast(centArray(centroids, cIdCol, cEmbCol)))
      .select(col(idCol), col(embCol),
        expr(s"vec_top_cells(_cents, $embCol, $replication)").as("_vcells"))

  /** IVF-pruned top-k: each query searches the inverted lists of its
    * `nprobe` nearest centroids (nprobe=1 ⇒ only its own cluster).
    * Candidate set is nprobe·replication·|corpus|/K in expectation —
    * nprobe is the standard IVF recall/cost dial: a neighbor just across
    * a Voronoi boundary is invisible at nprobe=1 and found at 2;
    * `replication` (see [[ivfAssign]]) is the complementary storage-side
    * dial for neighbors no probe order can reach. At scale the cluster
    * column doubles as the partition key of the stored index, so each
    * probe is a partition-pruned read; the probe list itself is a
    * broadcast (queries × nprobe rows).
    */
  def ivfTopK(corpus: DataFrame, queryIds: DataFrame => DataFrame, idCol: String,
              embCol: String, centroids: DataFrame, cIdCol: String, cEmbCol: String,
              k: Int, nprobe: Int = 1, replication: Int = 1): DataFrame = {
    // under replication the full `_vcells` array rides each index row so
    // the cell join can keep each (query, neighbor) pair exactly once by
    // predicate (below) — at replication 1 the array is pruned away and
    // the plan is the classic one-cell-per-row index. `queryIds` sees
    // (id, emb, cluster) at every replication, as in ivfPqTopK.
    val cells = ivfAssignCells(corpus, centroids, idCol, embCol, cIdCol,
      cEmbCol, replication).withColumn("cluster", explode(col("_vcells")))
    val assigned = cells.select((if (replication > 1)
          Seq(col(idCol), col(embCol), col("_vcells"), col("cluster"))
        else Seq(col(idCol), col(embCol), col("cluster"))): _*)
      .withColumn("_nrm", sqrt(dotFixed(embCol, embCol)))
    val qBase0 = queryIds(cells.select(col(idCol), col(embCol), col("cluster")))
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"),
        sqrt(dotFixed(embCol, embCol)).as("_qnrm"))
    // replication duplicates each corpus row once per assigned cell; the
    // query base must carry one row per query (payload columns are
    // identical across the duplicates, so the dedup is content-stable)
    val qBase = if (replication > 1) qBase0.dropDuplicates("q_id") else qBase0
    // top-`nprobe` centroids per query — the same fused vec_top_cells
    // kernel as ivfAssign (identical scoring and tiebreak, so probe 1 is
    // exactly the query's own storage cluster), with no window in the
    // probe sub-plan either; under replication the probe list `_qcells`
    // rides the broadcast rows for the first-shared-cell predicate
    val qCells = qBase.crossJoin(broadcast(
        centArray(centroids, cIdCol, cEmbCol)))
      .select(col("q_id"), col("q_emb"), col("_qnrm"),
        expr(s"vec_top_cells(_cents, q_emb, $nprobe)").as("_qcells"))
    val qProbes = qCells.withColumn("cluster", explode(col("_qcells")))
      .select((if (replication > 1)
          Seq(col("q_id"), col("q_emb"), col("_qnrm"), col("_qcells"),
            col("cluster"))
        else Seq(col("q_id"), col("q_emb"), col("_qnrm"), col("cluster"))): _*)
    val joined0 = assigned.join(broadcast(qProbes), "cluster")
      .where(col(idCol) =!= col("q_id"))
    // under replication a (query, neighbor) pair can meet in every probed
    // cell the neighbor is also assigned to; "this cell is the FIRST
    // probe-order cell the pair shares" holds for exactly one of those
    // joined rows, so the pair survives once by construction — a pure
    // codegen predicate where this shape previously paid a full
    // `distinct()` exchange over the scored candidate stream (the band-
    // join first-matching-band lesson applied to IVF replication)
    val joined = if (replication > 1)
      joined0.where(element_at(
        filter(col("_qcells"), c => array_contains(col("_vcells"), c)), 1)
        === col("cluster"))
    else joined0
    val scored = joined.select(col("q_id"), col(idCol).as("neighbor_id"),
      (dotFixed("q_emb", embCol) / (col("_qnrm") * col("_nrm"))).as("cos"))
    rankTopK(scored, "q_id", "cos", k)
  }

  // ------------------------------------------------------------ int8 path

  /** max |v_i| of a float vector, widened to double (float abs/max are
    * exact and the cast is lossless, so DuckDB reproduces the value).
    */
  def maxAbs(embCol: String): Column =
    expr(s"CAST(array_max(transform($embCol, x -> abs(x))) AS DOUBLE)")

  /** Symmetric int8 scalar quantization: q_i = round(127 · v_i / max|v|)
    * ∈ [-127, 127] as `ARRAY<INT>` (an all-zero vector stays all-zero).
    * One byte per dimension at deploy — a 4× cut of the ANN index
    * footprint, which is what decides whether the index fits executor
    * memory at 100 TB. Every downstream product/sum is integer-valued
    * (|dot| ≤ dim·127² ≪ 2^31), so quantized similarity reproduces
    * bit-for-bit in the DuckDB oracle. `maxAbsCol` is a precomputed
    * [[maxAbs]] column so the lambda does one divide per element; the
    * divide runs in double and `round` is half-away-from-zero in both
    * engines.
    */
  def quantizeInt8(embCol: String, maxAbsCol: String): Column =
    expr(s"""CASE WHEN $maxAbsCol = 0D THEN transform($embCol, x -> 0)
            | ELSE transform($embCol,
            |   x -> CAST(round(127D * CAST(x AS DOUBLE) / $maxAbsCol) AS INT))
            | END""".stripMargin.replace("\n", " "))

  /** Top-k by QUANTIZED cosine: both sides int8-quantized, score =
    * dot_q / (‖a_q‖·‖b_q‖) — only exact integers sit under the sqrt, so
    * the score is deterministic cross-engine. Same broadcast-small-query
    * shape as [[bruteForceTopK]]; the int8 vectors ride the scan as
    * `ARRAY<FLOAT>` so the native `vec_dot` codegen loop scores pairs
    * (ints ≤ 127 are exact in float).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, qIdCol: String, qEmbCol: String,
                    k: Int): DataFrame = {
    def prep(df: DataFrame, vec: String, id: String, qName: String, nName: String) =
      df.withColumn("_m", maxAbs(vec))
        .withColumn("_qi", quantizeInt8(vec, "_m"))
        .select(col(id), expr("CAST(_qi AS ARRAY<FLOAT>)").as(qName))
        .withColumn(nName, sqrt(expr(s"vec_dot($qName, $qName)")))
    val c = prep(corpus, embCol, idCol, "_qf", "_nrm")
    val q = prep(queries, qEmbCol, qIdCol, "_qqf", "_qnrm")
    val scored = c.crossJoin(broadcast(q))
      .where(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        expr("CAST(vec_dot(_qqf, _qf) AS BIGINT)").as("dot_q"),
        (expr("vec_dot(_qqf, _qf)") / (col("_qnrm") * col("_nrm"))).as("cos_q"))
    rankTopK(scored, qIdCol, "cos_q", k)
  }

  /** Hard-negative mining for contrastive / reranker training data: for
    * each query row, the top-k most-cosine-similar corpus rows whose
    * label DIFFERS from the query's — the "confusable negatives" an
    * embedding-model training set pairs with each anchor (the easy
    * negatives a random sampler would draw carry almost no gradient).
    * Same shape as [[bruteForceTopK]]: broadcast query side, one linear
    * corpus scan, map-side-pruned top-k — the label predicate sits
    * before the dot product, so same-label pairs are never scored.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, labelCol: String, qIdCol: String,
                    qEmbCol: String, qLabelCol: String, k: Int): DataFrame = {
    val c = corpus.withColumn("_nrm", sqrt(dotFixed(embCol, embCol)))
    val q = queries.withColumn("_qnrm", sqrt(dotFixed(qEmbCol, qEmbCol)))
    val scored = c.crossJoin(broadcast(q))
      .where(col(labelCol) =!= col(qLabelCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        col(labelCol).as("neg_label"),
        (dotFixed(qEmbCol, embCol) / (col("_qnrm") * col("_nrm"))).as("cos"))
    rankTopK(scored, qIdCol, "cos", k)
  }

  /** Label-noise detection by leave-one-out centroid cosine: every vector
    * is scored against the centroid of its OWN label computed WITHOUT it
    * (self-inclusion would pull the centroid toward the very outlier it
    * is judging — worst exactly when the label is small or the vector is
    * far). Low scores = candidate mislabels / junk embeddings, the rows a
    * training-data audit quarantines first.
    *
    * Exactness at any scale: vectors are int8-quantized first
    * ([[quantizeInt8]]), so the label centroid is an element-wise sum of
    * integers — associative, order-free, partial-aggregable — and the
    * leave-one-out algebra (c−v dots below) runs on integer-valued
    * doubles via the native `vec_dot_d`, exact to 2^53. The score is
    * therefore a pure function of the multiset of vectors, reproducible
    * bit-for-bit in the DuckDB oracle; no float-mean ulp drift
    * (the trap [[sphericalKMeans]] documents).
    *
    * Cost shape: one narrow quantization pass, one (label, dim)
    * aggregation (≤ |labels|·dim groups after map-side combine), one
    * broadcast join of the centroid table back to the scan. Labels with a
    * single member have no leave-one-out centroid and are dropped.
    * Returns (idCol, labelCol, loo_cos).
    */
  def labelOutliers(corpus: DataFrame, idCol: String, embCol: String,
                    labelCol: String): DataFrame = {
    val quant = corpus
      .withColumn("_m", maxAbs(embCol))
      .withColumn("_qi", quantizeInt8(embCol, "_m"))
      .withColumn("_qd", expr("CAST(_qi AS ARRAY<DOUBLE>)"))
      .select(col(idCol), col(labelCol), col("_qd"))
    // element-wise integer sums per label — the only wide exchange,
    // bounded by |labels|·dim after partial aggregation; the member
    // count rides the same pass (every member contributes one row per
    // pos, so count per (label, pos) IS the label size — no second scan)
    val cents = quant
      .select(col(labelCol), posexplode(col("_qd")))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(col("col")).as("v"), count(lit(1)).as("c"))
      .groupBy(col(labelCol))
      .agg(expr("transform(array_sort(collect_list(struct(pos, v))), s -> CAST(s.v AS DOUBLE))")
        .as("_c_emb"),
        max(col("c")).as("_n"))
    // leave-one-out: c' = c − v, expanded over exact integer dots so the
    // centroid is never re-materialized per row:
    //   dot(v, c')  = dot(v, c) − dot(v, v)
    //   ‖c'‖²       = dot(c, c) − 2·dot(v, c) + dot(v, v)
    quant
      .join(broadcast(cents.where(col("_n") > 1)), labelCol)
      .withColumn("_vc", expr("vec_dot_d(_qd, _c_emb)"))
      .withColumn("_vv", expr("vec_dot_d(_qd, _qd)"))
      .withColumn("_cc", expr("vec_dot_d(_c_emb, _c_emb)"))
      .where(col("_vv") > 0)
      .select(col(idCol), col(labelCol),
        ((col("_vc") - col("_vv")) /
          (sqrt(col("_vv")) * sqrt(col("_cc") - lit(2) * col("_vc") + col("_vv"))))
          .as("loo_cos"))
  }

  /** Spherical k-means centroids as pure DataFrame iterations: assign to
    * nearest centroid by cosine (broadcast pass), recompute centroids as
    * element-wise means via posexplode → (cluster, dim) aggregation —
    * both stages are plain shuffles, no driver-side vectors beyond the K
    * centroid rows. Seeds = the first K corpus vectors; deterministic.
    * (LSH-spread seeding was measured and REJECTED: on the 64-d fixture
    * it lost 6–13 recall points to first-K at every (k, iterations)
    * combination — with near-uniform high-dimensional data, spreading
    * seeds across sign-LSH buckets lands them in low-density shell
    * regions.) A cluster that loses every member keeps its previous
    * centroid rather than silently shrinking k. Returns the centroid
    * table `(c_id, c_emb)` after `iterations` update rounds — feed it
    * straight into [[ivfTopK]] for a real IVF index (centroids that track
    * the data beat raw seed vectors on recall; AnnRecallSpec measures
    * exactly that, and gets past the Voronoi-boundary recall ceiling with
    * [[ivfAssign]]'s `replication`).
    */
  def sphericalKMeansCentroids(corpus: DataFrame, idCol: String, embCol: String,
                               k: Int, iterations: Int): DataFrame =
    sphericalKMeansImpl(corpus, idCol, embCol, k, iterations, roundMeans = false)

  /** [[sphericalKMeansCentroids]] on the INTEGER grid: per-dimension
    * means round to whole numbers each update (the
    * [[pqTrainCodebooksInt]] policy). What this buys is an ORACLE: all
    * inputs integer-valued ⟹ dot products exact, sqrt/divide correctly
    * rounded IEEE ⟹ every assignment cosine is bit-identical
    * cross-engine, and the rounded means re-enter the next round exact —
    * so the full training loop reproduces in SQL (ann_ivf_trained
    * unrolls it round-for-round), where float means would accumulate
    * cross-engine ulp drift. Float-recall behavior of the real-mean
    * variant stays pinned by AnnRecallSpec.
    */
  def sphericalKMeansCentroidsInt(corpus: DataFrame, idCol: String,
                                  embCol: String, k: Int,
                                  iterations: Int): DataFrame =
    sphericalKMeansImpl(corpus, idCol, embCol, k, iterations, roundMeans = true)

  private def sphericalKMeansImpl(corpus: DataFrame, idCol: String,
                                  embCol: String, k: Int, iterations: Int,
                                  roundMeans: Boolean): DataFrame = {
    val meanExpr =
      if (roundMeans)
        "transform(array_sort(collect_list(struct(pos, v))), s -> CAST(CAST(round(s.v, 0) AS BIGINT) AS FLOAT))"
      else
        "transform(array_sort(collect_list(struct(pos, v))), s -> CAST(s.v AS FLOAT))"
    // each round is lineage-cut and the previous round's K cached centroid
    // rows are released (Iterate.materialize) — no localCheckpoint pinning,
    // no storage growth with iteration count
    var round = Iterate.materialize(corpus.where(col(idCol) < k)
      .select(col(idCol).as("c_id"), col(embCol).as("c_emb")))
    var i = 0
    while (i < iterations) {
      val assigned = ivfAssign(corpus, round.df, idCol, embCol, "c_id", "c_emb")
      val newCents = assigned
        .select(col("cluster").as("c_id"), posexplode(col(embCol)))
        .groupBy(col("c_id"), col("pos"))
        .agg(avg(col("col")).as("v"))
        .groupBy(col("c_id"))
        .agg(expr(meanExpr).as("c_emb"))
      // empty-cluster keep-alive: K is a capacity promise — a centroid with
      // no members this round survives unchanged instead of vanishing
      val cents = round.df.select(col("c_id"), col("c_emb").as("_prev"))
        .join(newCents.withColumnRenamed("c_emb", "_new"), Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("_new"), col("_prev")).as("c_emb"))
      val materialized = Iterate.materialize(cents)
      round.release()
      round = materialized
      i += 1
    }
    round.df
  }

  /** k-means cluster assignments `(idCol, cluster)` after `iterations`
    * rounds — [[sphericalKMeansCentroids]] composed with one final
    * assignment pass. (No DuckDB oracle: iterated float means accumulate
    * cross-engine ulp drift; pinned by separable-cluster specs instead.)
    */
  def sphericalKMeans(corpus: DataFrame, idCol: String, embCol: String,
                      k: Int, iterations: Int): DataFrame = {
    val cents = sphericalKMeansCentroids(corpus, idCol, embCol, k, iterations)
    ivfAssign(corpus, cents, idCol, embCol, "c_id", "c_emb")
      .select(col(idCol), col("cluster"))
  }

  /** Product-quantization codebooks TRAINED by per-subspace Lloyd
    * iterations — all `m` subspaces train simultaneously in one loop:
    * the corpus explodes once to (id, m, subvector) rows, each round is
    * one broadcast-assign (argmin squared distance to the m-local
    * codewords) plus one (m, code, pos) mean aggregation, and rounds are
    * lineage-cut like [[sphericalKMeansCentroids]]. Seeds = each
    * subspace's first k subvectors (min ids); a codeword that loses all
    * members survives unchanged. Returns (m, code, cv ARRAY<FLOAT>).
    *
    * Trained codebooks are what make PQ-ADC usable: seed codewords are
    * arbitrary corpus slices, so cells are unbalanced and quantization
    * error is high — AnnRecallSpec measures the ADC recall lift directly.
    * (No DuckDB oracle, same policy as k-means: iterated float means
    * accumulate cross-engine ulp drift.)
    */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, embCol: String,
                       m: Int, k: Int, iterations: Int,
                       dim: Int = 0): DataFrame = {
    val d = inferDim(corpus, embCol, dim)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    pqTrainCodebooksImpl(corpus, idCol, embCol, m, k, iterations, d)
  }

  /** Resolve the embedding dimension: a caller-supplied positive constant
    * is used as-is (the hot service path — NO driver job); 0 infers it
    * with one one-row scalar job. Every pq/adc entry point takes the
    * optional constant — at deploy the dimension is a known property of
    * the embedding model, so the inference job is pure latency.
    */
  private def inferDim(df: DataFrame, embCol: String, dim: Int): Int =
    if (dim > 0) dim else df.select(size(col(embCol))).head.getInt(0)

  /** Resolve the subspace count from the codebooks table unless supplied. */
  private def inferM(codebooks: DataFrame, m: Int): Int =
    if (m > 0) m else codebooks.agg(max(col("m"))).head.getInt(0) + 1

  /** Integer-deterministic PQ training — the ORACLE-CHECKABLE twin of
    * [[pqTrainCodebooks]], closing its "float k-means has no SQL oracle"
    * gap for a toy configuration. Feed it an INTEGER-VALUED embedding
    * column ([[quantizeInt8]] output cast back to ARRAY<FLOAT>); each
    * refreshed codeword component is `round(mean(members))`: integer sums
    * are exact in double, IEEE division is correctly rounded (identical
    * doubles in every engine), and `round` is half-away-from-zero in both
    * Spark and DuckDB — so codewords stay on the integer grid and every
    * squared distance, comparison, and tie resolution reproduces
    * bit-for-bit across engines and across iterations. Same plan shape as
    * the float twin (broadcast assign via partial-aggregable min(struct),
    * one (m, code, pos) mean aggregation per round, lineage-cut rounds).
    */
  def pqTrainCodebooksInt(corpus: DataFrame, idCol: String, embCol: String,
                          m: Int, k: Int, iterations: Int,
                          dim: Int = 0): DataFrame = {
    val d = inferDim(corpus, embCol, dim)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    pqTrainCodebooksImpl(corpus, idCol, embCol, m, k, iterations, d,
      roundMeans = true)
  }

  private def pqTrainCodebooksImpl(corpus: DataFrame, idCol: String,
                       embCol: String, m: Int, k: Int, iterations: Int,
                       dim: Int, roundMeans: Boolean = false): DataFrame = {
    val sub = dim / m
    val subs = corpus.select(col(idCol).as("_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice($embCol, i * $sub + 1, $sub))")))
      .select(col("_id"), col("pos").as("m"), col("col").as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def d2(a: String, b: String): Column =
      expr(s"vec_dot($a, $a) - 2 * vec_dot($a, $b) + vec_dot($b, $b)")
    // first k subvectors per subspace by id — the two-phase TopK exec
    // (map-side bounded heaps), not a per-m single-task window sort
    val seeds = TopK.topKPerGroupExecRanked(subs, Seq("m"),
        Seq(("_id", false)), k, "_rk")
      .select(col("m"), (col("_rk") - 1).as("code"), col("sv").as("cv"))
    var round = Iterate.materialize(seeds)
    var i = 0
    while (i < iterations) {
      val assigned = subs.join(broadcast(round.df), "m")
        .select(col("_id"), col("m"), col("sv"), col("code"),
          d2("sv", "cv").as("_d2"))
        // argmin via partial-aggregable min(struct): same (d2, code)
        // tiebreak as the row_number window it replaces, without the
        // corpus×m×k exchange (sv is constant within the group)
        .groupBy(col("_id"), col("m"))
        .agg(min(struct(col("_d2"), col("code"))).as("_b"),
          first(col("sv")).as("sv"))
        .select(col("_id"), col("m"), col("sv"), col("_b.code").as("code"))
      val newCents = assigned
        .select(col("m"), col("code"), posexplode(col("sv")))
        .groupBy("m", "code", "pos")
        .agg((if (roundMeans)
            org.apache.spark.sql.functions.round(avg(col("col")))
          else avg(col("col"))).as("v"))
        .groupBy("m", "code")
        .agg(expr("transform(array_sort(collect_list(struct(pos, v))), s -> CAST(s.v AS FLOAT))")
          .as("cv"))
      val cents = round.df.select(col("m"), col("code"), col("cv").as("_prev"))
        .join(newCents.withColumnRenamed("cv", "_new"), Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("_new"), col("_prev")).as("cv"))
      val materialized = Iterate.materialize(cents)
      round.release()
      round = materialized
      i += 1
    }
    subs.unpersist()
    round.df
  }

  /** Encode every vector against trained codebooks: one row per (id, m)
    * with the argmin-d2 codeword id — the PQ index build (8 bytes/vector
    * at m=8, k≤256). Broadcast-assign, no shuffle beyond the argmin
    * window's per-(id, m) partitioning.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
               embCol: String, dim: Int = 0, m: Int = 0): DataFrame = {
    val d = inferDim(corpus, embCol, dim)
    val mm = inferM(codebooks, m)
    val sub = d / mm
    val subs = corpus.select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${mm - 1}), i -> slice($embCol, i * $sub + 1, $sub))")))
      .select(col(idCol), col("pos").as("m"), col("col").as("sv"))
    subs.join(broadcast(codebooks), "m")
      .select(col(idCol), col("m"), col("code"),
        expr("vec_dot(sv, sv) - 2 * vec_dot(sv, cv) + vec_dot(cv, cv)").as("_d2"))
      // argmin as a partial-aggregable min(struct) — the k candidate rows
      // per (id, m) combine map-side; a row_number window here (the shape
      // this replaced) shuffled corpus×m×k rows to rank them
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("_d2"), col("code"))).as("_b"))
      .select(col(idCol), col("m"), col("_b.code").as("code"))
  }

  /** PQ asymmetric-distance (ADC) top-k — the PQ SEARCH path: each query
    * scores corpus vectors from their codes + the codebooks only (the
    * corpus floats are never touched at query time; the index is
    * m·log2(k)/8 bytes per vector). Per-pair distance = Σ_m d²(q_sub_m,
    * codeword(code_m)); the fold is m-sorted so the float sum is
    * partition-order-free. Both codebooks and the exploded query
    * subvectors broadcast (k·m and |Q|·m rows).
    */
  def pqAdcTopK(codes: DataFrame, idCol: String, codebooks: DataFrame,
                queries: DataFrame, qIdCol: String, qEmbCol: String,
                k: Int, dim: Int = 0, m: Int = 0): DataFrame = {
    val d = inferDim(queries, qEmbCol, dim)
    val mm = inferM(codebooks, m)
    val sub = d / mm
    val qsubs = queries.select(col(qIdCol).as("q_id"), posexplode(expr(
        s"transform(sequence(0, ${mm - 1}), i -> slice($qEmbCol, i * $sub + 1, $sub))")))
      .select(col("q_id"), col("pos").as("m"), col("col").as("qv"))
    val scored = codes.join(broadcast(codebooks), Seq("m", "code"))
      .join(broadcast(qsubs), "m")
      .where(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("m"),
        expr("vec_dot(qv, qv) - 2 * vec_dot(qv, cv) + vec_dot(cv, cv)").as("d2"))
      .groupBy("q_id", "neighbor_id")
      .agg(expr("""aggregate(array_sort(collect_list(struct(m, d2))),
             | CAST(0 AS DOUBLE), (a, x) -> a + x.d2)"""
        .stripMargin.replace("\n", " ")).as("adc2"))
    scored.select(col("*"),
        row_number().over(
          Window.partitionBy("q_id").orderBy(col("adc2"), col("neighbor_id")))
          .as("rank"))
      .where(col("rank") <= k)
  }

  /** IVF-PQ search — the composition production ANN systems deploy
    * (coarse quantizer + product codes): queries probe their `nprobe`
    * nearest IVF cells (cluster = partition key of the stored index →
    * partition-pruned reads), and candidates inside the probed cells are
    * scored by PQ asymmetric distance from their 12-ish-byte codes — the
    * corpus floats are touched by NEITHER the probe nor the scoring, so
    * the working set at 100 TB is `nprobe·replication/K` of a codes
    * table ~20× smaller than the vectors. Optionally re-rank the ADC
    * top-`rerank` with exact cosine over just those rows (a point-lookup
    * join against the float table) — the standard two-stage recall
    * recovery. Returns (q_id, neighbor_id, rank) + `adc2` (and `cos`
    * when re-ranked).
    */
  def ivfPqTopK(corpus: DataFrame, idCol: String, embCol: String,
                centroids: DataFrame, cIdCol: String, cEmbCol: String,
                codebooks: DataFrame, queryIds: DataFrame => DataFrame,
                k: Int, nprobe: Int = 1, replication: Int = 1,
                rerank: Int = 0, dim: Int = 0, m: Int = 0): DataFrame = {
    val d = inferDim(corpus, embCol, dim)
    val mm = inferM(codebooks, m)
    val assigned = ivfAssignCells(corpus, centroids, idCol, embCol, cIdCol,
      cEmbCol, replication).withColumn("cluster", explode(col("_vcells")))
    val codes = pqEncode(corpus, codebooks, idCol, embCol, d, mm)
    val sub = d / mm
    // `queryIds` sees (id, emb, cluster), as in ivfTopK
    val qBase0 = queryIds(assigned.select(col(idCol), col(embCol), col("cluster")))
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val qBase = if (replication > 1) qBase0.dropDuplicates("q_id") else qBase0
    // probe selection through the same fused vec_top_cells kernel as
    // ivfAssign/ivfTopK — no per-query window anywhere in this plan;
    // under replication the probe list rides the broadcast rows so the
    // cell join keeps each pair once by predicate, not by `distinct()`
    val qCells = qBase.crossJoin(broadcast(
        centArray(centroids, cIdCol, cEmbCol)))
      .select(col("q_id"),
        expr(s"vec_top_cells(_cents, q_emb, $nprobe)").as("_qcells"))
    val qProbes = qCells.withColumn("cluster", explode(col("_qcells")))
      .select((if (replication > 1) Seq(col("q_id"), col("_qcells"), col("cluster"))
        else Seq(col("q_id"), col("cluster"))): _*)
    val qsubs = qBase.select(col("q_id"), posexplode(expr(
        s"transform(sequence(0, ${mm - 1}), i -> slice(q_emb, i * $sub + 1, $sub))")))
      .select(col("q_id"), col("pos").as("m"), col("col").as("qv"))
    // candidates = codes of ids inside each query's probed cells; under
    // replication a (query, id) pair meets once per shared cell — the
    // first-shared-cell predicate keeps it exactly once (see ivfTopK)
    val candCols = if (replication > 1)
      Seq(col(idCol), col("_vcells"), col("cluster"))
    else Seq(col(idCol), col("cluster"))
    val cand0 = assigned.select(candCols: _*)
      .join(broadcast(qProbes), "cluster")
      .where(col(idCol) =!= col("q_id"))
    val cand = (if (replication > 1)
      cand0.where(element_at(
        filter(col("_qcells"), c => array_contains(col("_vcells"), c)), 1)
        === col("cluster"))
    else cand0)
      .select(col("q_id"), col(idCol))
    val adc = cand.join(codes, idCol)
      .join(broadcast(codebooks), Seq("m", "code"))
      .join(broadcast(qsubs), Seq("q_id", "m"))
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("m"),
        expr("vec_dot(qv, qv) - 2 * vec_dot(qv, cv) + vec_dot(cv, cv)").as("d2"))
      .groupBy("q_id", "neighbor_id")
      .agg(expr("""aggregate(array_sort(collect_list(struct(m, d2))),
             | CAST(0 AS DOUBLE), (a, x) -> a + x.d2)"""
        .stripMargin.replace("\n", " ")).as("adc2"))
    // per-query ADC ranking via the two-phase TopK exec: map-side bounded
    // heaps prune to ≤ max(k, rerank) candidates per query per partition
    // before the exchange, and rank is emitted from the merge order — the
    // row_number window this replaces shuffled every scored candidate
    def adcTop(n: Int) = TopK.topKPerGroupExecRanked(adc, Seq("q_id"),
      Seq(("adc2", false), ("neighbor_id", false)), n, "rank")
    if (rerank <= 0) adcTop(k)
    else {
      // exact re-rank: fetch floats for ONLY the ADC top-`rerank` rows
      val short = adcTop(math.max(k, rerank)).drop("rank")
      val floats = corpus.select(col(idCol).as("neighbor_id"),
        col(embCol).as("n_emb"),
        sqrt(dotFixed(embCol, embCol)).as("_nrm"))
      val qf = qBase.withColumn("_qnrm", sqrt(dotFixed("q_emb", "q_emb")))
      short.join(floats, "neighbor_id")
        .join(broadcast(qf), "q_id")
        .select(col("q_id"), col("neighbor_id"), col("adc2"),
          (dotFixed("q_emb", "n_emb") / (col("_qnrm") * col("_nrm"))).as("cos"))
        .select(col("*"),
          row_number().over(
            Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id")))
            .as("rank"))
        .where(col("rank") <= k)
    }
  }

  /** LSH-pruned top-k: only corpus rows sharing the query's bucket are
    * scored. Approximate (recall < 1), but the candidate set per query is
    * |corpus| / 2^numPlanes in expectation — the 100 TB path.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, qIdCol: String, qEmbCol: String,
              dim: Int, k: Int, numPlanes: Int = 6): DataFrame = {
    val cb = corpus.withColumn("bucket", lshBucket(embCol, dim, numPlanes))
      .withColumn("_nrm", sqrt(dotFixed(embCol, embCol, dim)))
    val qb = queries.withColumn("bucket", lshBucket(qEmbCol, dim, numPlanes))
      .withColumn("_qnrm", sqrt(dotFixed(qEmbCol, qEmbCol, dim)))
    val scored = cb.join(broadcast(qb), "bucket")
      .where(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        (dotFixed(qEmbCol, embCol, dim) / (col("_qnrm") * col("_nrm"))).as("cos"))
    rankTopK(scored, qIdCol, "cos", k)
  }

  /** SemDeDup (Abbas et al. '23, arXiv:2303.09540): semantic dedup by
    * cluster-then-prune. Every vector is assigned to its nearest centroid
    * ([[ivfAssign]]); WITHIN each cluster, any pair with cosine ≥
    * `threshold` is a semantic-duplicate pair, and of each pair the member
    * MORE similar to its centroid is dropped (the paper's keep-low rule —
    * it retains the cluster's diverse boundary examples); ties break
    * toward the smaller id, so the minimum (cent_cos, id) member of every
    * duplicate component always survives and the rule is deterministic.
    *
    * This is the whole point of the SemDeDup construction at 100 TB: the
    * pair space is per-cluster, never global — `cluster` is the single
    * shuffle key of the self-join, and K grows with the corpus so cluster
    * populations (and the per-cluster quadratic term) stay bounded. The
    * drop decision is an EXISTS, expressed as a left-semi join marking
    * drops — no pair materialization survives the aggregation.
    *
    * Returns `(idCol, cluster, cent_cos, drop)` — `drop = 1` rows are the
    * semantic duplicates a curation pipeline would discard.
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, idCol: String,
                    embCol: String, cIdCol: String, cEmbCol: String,
                    threshold: Double): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, embCol, cIdCol, cEmbCol)
      .withColumn("_nrm", sqrt(dotFixed(embCol, embCol)))
    val withCent = assigned
      .join(broadcast(centroids.select(col(cIdCol).as("cluster"),
        col(cEmbCol).as("_c_emb"))), Seq("cluster"))
      .select(col("cluster"), col(idCol), col(embCol), col("_nrm"),
        (dotFixed("_c_emb", embCol) /
          (sqrt(dotFixed("_c_emb", "_c_emb")) * col("_nrm"))).as("cent_cos"))
    val a = withCent.select(col("cluster").as("_a_cl"), col(idCol).as("_a_id"),
      col(embCol).as("_a_emb"), col("_nrm").as("_a_nrm"),
      col("cent_cos").as("_a_cc"))
    val b = withCent.select(col("cluster").as("_b_cl"), col(idCol).as("_b_id"),
      col(embCol).as("_b_emb"), col("_nrm").as("_b_nrm"),
      col("cent_cos").as("_b_cc"))
    // a-row is dropped when some same-cluster b beats it: dup-pair AND
    // (b keeps priority: lower cent_cos, or equal cent_cos and lower id)
    val dropped = a.join(b,
        col("_a_cl") === col("_b_cl") &&
          col("_a_id") =!= col("_b_id") &&
          (dotFixed("_a_emb", "_b_emb") / (col("_a_nrm") * col("_b_nrm"))
            >= threshold) &&
          (col("_b_cc") < col("_a_cc") ||
            (col("_b_cc") === col("_a_cc") && col("_b_id") < col("_a_id"))),
        "left_semi")
      .select(col("_a_id").as(idCol))
    withCent.join(dropped.withColumn("_d", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("cent_cos"),
        coalesce(col("_d"), lit(0)).as("drop"))
  }

  /** Drop flags for the SURVIVORS after removing vectors — the takedown
    * twin of [[semanticDedupIncremental]], completing the retraction
    * story across the dedup families (span grams, minhash clusters,
    * semantic cells). Removal can REINSTATE a survivor: a row dropped
    * only because of better same-cell duplicates loses its drop flag
    * once every such better partner is removed. Centroids are part of
    * the trained index and do NOT move on takedown, so stored cluster /
    * cent_cos columns stay valid; only cells containing a removed vector
    * re-run the pair semi-join, restricted to their survivors — cost
    * bounded by affected-cell mass (cell-partitioned state prunes the
    * rest).
    *
    * `storedState`: `(idCol, cluster, cent_cos, drop, embCol)` — the
    * [[semanticDedup]] verdict plus the embedding, i.e. the same
    * cell-partitioned store the incremental probe reads
    * ([[semanticDedupState]] builds it from scratch as scaffolding).
    * Returns the updated `(idCol, cluster, cent_cos, drop)` over
    * survivors.
    */
  def semanticDedupRetract(storedState: DataFrame, removeIds: DataFrame,
                           idCol: String, embCol: String,
                           threshold: Double): DataFrame = {
    val rem = removeIds.select(col(idCol)).distinct()
    val affected = storedState
      .join(broadcast(rem), Seq(idCol), "left_semi")
      .select(col("cluster")).distinct()
    val survivors = storedState.join(broadcast(rem), Seq(idCol), "left_anti")
    val affRows = survivors
      .join(broadcast(affected), Seq("cluster"), "left_semi")
      .withColumn("_nrm", sqrt(dotFixed(embCol, embCol)))
    val a = affRows.select(col("cluster").as("_a_cl"), col(idCol).as("_a_id"),
      col(embCol).as("_a_emb"), col("_nrm").as("_a_nrm"),
      col("cent_cos").as("_a_cc"))
    val b = affRows.select(col("cluster").as("_b_cl"), col(idCol).as("_b_id"),
      col(embCol).as("_b_emb"), col("_nrm").as("_b_nrm"),
      col("cent_cos").as("_b_cc"))
    val dropped = a.join(b,
        col("_a_cl") === col("_b_cl") &&
          col("_a_id") =!= col("_b_id") &&
          (dotFixed("_a_emb", "_b_emb") / (col("_a_nrm") * col("_b_nrm"))
            >= threshold) &&
          (col("_b_cc") < col("_a_cc") ||
            (col("_b_cc") === col("_a_cc") && col("_b_id") < col("_a_id"))),
        "left_semi")
      .select(col("_a_id").as(idCol))
    val recomputed = affRows
      .join(dropped.withColumn("_d", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("cent_cos"),
        coalesce(col("_d"), lit(0)).as("drop"))
    survivors
      .join(broadcast(affected), Seq("cluster"), "left_anti")
      .select(col(idCol), col("cluster"), col("cent_cos"), col("drop"))
      .unionByName(recomputed)
  }

  /** The retraction-capable persisted state: [[semanticDedup]]'s verdict
    * joined with the embeddings — fixture scaffolding for the oracle row;
    * a deploy persists this directly, partitioned by cluster.
    */
  def semanticDedupState(corpus: DataFrame, centroids: DataFrame,
                         idCol: String, embCol: String, cIdCol: String,
                         cEmbCol: String, threshold: Double): DataFrame =
    semanticDedup(corpus, centroids, idCol, embCol, cIdCol, cEmbCol, threshold)
      .join(corpus.select(col(idCol), col(embCol)), Seq(idCol))

  /** Incremental [[semanticDedup]]: which vectors of an incoming BATCH
    * semantically duplicate the stored corpus (or an earlier batch row)?
    * The batch — tiny next to the corpus — is explicitly `broadcast`
    * against the cluster-assigned stored side, so the stored corpus is
    * touched only on the batch's clusters (partition-pruned when the
    * stored assignment is written clustered, the deploy shape) and never
    * self-joins; in-batch keep-first dedup rides the same broadcast.
    * This mirrors [[graft.ops.Dedup.incrementalMinhashDups]]'s topology
    * with cosine-over-centroid-cells in place of band buckets.
    *
    * Returns one row per batch vector: `(idCol, cluster, match_id,
    * is_dup)` — `match_id` the smallest duplicate partner id (stored or
    * earlier-batch), NULL when none.
    */
  def semanticDedupIncremental(stored: DataFrame, batch: DataFrame,
                               centroids: DataFrame, idCol: String,
                               embCol: String, cIdCol: String,
                               cEmbCol: String, threshold: Double): DataFrame = {
    def assigned(df: DataFrame) =
      ivfAssign(df, centroids, idCol, embCol, cIdCol, cEmbCol)
        .withColumn("_nrm", sqrt(dotFixed(embCol, embCol)))
    val b = assigned(batch).select(col("cluster").as("_b_cl"),
      col(idCol).as("_b_id"), col(embCol).as("_b_emb"), col("_nrm").as("_b_nrm"))
    val s = assigned(stored).select(col("cluster").as("_s_cl"),
      col(idCol).as("_s_id"), col(embCol).as("_s_emb"), col("_nrm").as("_s_nrm"))
    val vsStored = s.join(broadcast(b), col("_s_cl") === col("_b_cl") &&
        (dotFixed("_b_emb", "_s_emb") / (col("_b_nrm") * col("_s_nrm"))
          >= threshold))
      .select(col("_b_id"), col("_s_id").as("_m_id"))
    val b2 = b.select(col("_b_cl").as("_p_cl"), col("_b_id").as("_p_id"),
      col("_b_emb").as("_p_emb"), col("_b_nrm").as("_p_nrm"))
    val vsBatch = b.join(broadcast(b2), col("_b_cl") === col("_p_cl") &&
        col("_p_id") < col("_b_id") &&
        (dotFixed("_b_emb", "_p_emb") / (col("_b_nrm") * col("_p_nrm"))
          >= threshold))
      .select(col("_b_id"), col("_p_id").as("_m_id"))
    val matches = vsStored.unionAll(vsBatch)
      .groupBy("_b_id").agg(min(col("_m_id")).as("match_id"))
    b.join(matches, Seq("_b_id"), "left")
      .select(col("_b_id").as(idCol), col("_b_cl").as("cluster"),
        col("match_id"),
        col("match_id").isNotNull.cast("int").as("is_dup"))
  }

  /** One MMR pick (id, 1-based step, score at selection time). */
  final case class MmrPick(id: Long, step: Int, score: Double)

  /** The greedy MMR selection over one query's collected candidate set —
    * deterministic: argmax score, ties to the smaller id (the ascending
    * candidate order makes strict `>` pick the smaller id first).
    * Zero vector math here: rel and pairwise sims arrive precomputed, so
    * the only floats are `lambda·rel` and `lambda·rel − mu·maxSim`,
    * reproducible term-for-term in the SQL oracle's unrolled steps.
    */
  private[graft] def mmrSelect(ids: IndexedSeq[Long], rels: IndexedSeq[Double],
      sims: Map[(Long, Long), Double], k: Int,
      lambda: Double, mu: Double): Seq[MmrPick] = {
    def simOf(x: Long, y: Long): Double =
      sims.getOrElse(if (x < y) (x, y) else (y, x), 0.0)
    val n = ids.length
    val selected = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
    val used = scala.collection.mutable.HashSet.empty[Long]
    var step = 1
    while (step <= k && used.size < n) {
      var bestId = -1L
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        val id = ids(i)
        if (!used(id)) {
          val score =
            if (selected.isEmpty) lambda * rels(i)
            else {
              var maxSim = Double.NegativeInfinity
              selected.foreach { p =>
                val v = simOf(id, p.id); if (v > maxSim) maxSim = v
              }
              lambda * rels(i) - mu * maxSim
            }
          if (score > bestScore) { bestScore = score; bestId = id }
        }
        i += 1
      }
      selected += MmrPick(bestId, step, bestScore)
      used += bestId
      step += 1
    }
    selected.toSeq
  }

  private val mmrUdf = udf((cands: Seq[org.apache.spark.sql.Row],
      sims: Seq[org.apache.spark.sql.Row], k: Int, lambda: Double, mu: Double) => {
    val ids = cands.map(_.getLong(0)).toIndexedSeq
    val rels = cands.map(_.getDouble(1)).toIndexedSeq
    val sm = sims.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    mmrSelect(ids, rels, sm, k, lambda, mu)
  })

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein '98):
    * from each query's relevance-ranked candidate set, greedily select k
    * results trading relevance against redundancy —
    * `score = λ·rel − µ·max_{s∈selected} sim(c, s)` — the diversity
    * stage between first-pass retrieval and the consumer.
    *
    * Scale shape: the quadratic part (candidate pairwise sims) is bounded
    * per query by the candidate count, never corpus-sized — two keyed
    * joins against the corpus fetch the candidate embeddings, and the
    * greedy loop itself is ROW-LOCAL over one query's collected ≤ |cand|²
    * struct array (the right 100 TB layout: re-ranks parallelize
    * per-query with no further shuffle). Pass λ and µ explicitly (µ is
    * NOT derived as 1−λ, so the oracle can quote the identical literal).
    * Returns (qIdCol, cIdCol, step, score).
    */
  def mmrRerank(corpus: DataFrame, cand: DataFrame, idCol: String,
                embCol: String, qIdCol: String, cIdCol: String,
                relCol: String, k: Int, lambda: Double, mu: Double): DataFrame = {
    val e1 = corpus.select(col(idCol).as("_a"), col(embCol).as("_ea"))
    val e2 = corpus.select(col(idCol).as("_b"), col(embCol).as("_eb"))
    val pairs = cand.as("x").join(cand.as("y"),
        col(s"x.$qIdCol") === col(s"y.$qIdCol") &&
          col(s"x.$cIdCol") < col(s"y.$cIdCol"))
      .select(col(s"x.$qIdCol").as(qIdCol),
        col(s"x.$cIdCol").as("_a"), col(s"y.$cIdCol").as("_b"))
      .join(e1, "_a").join(e2, "_b")
      .select(col(qIdCol), col("_a"), col("_b"),
        (dotFixed("_ea", "_eb") /
          (sqrt(dotFixed("_ea", "_ea")) * sqrt(dotFixed("_eb", "_eb")))).as("_sim"))
    val cc = cand.groupBy(qIdCol).agg(
      expr(s"array_sort(collect_list(struct($cIdCol AS id, $relCol AS rel)))")
        .as("_cands"))
    val pp = pairs.groupBy(qIdCol).agg(
      expr("array_sort(collect_list(struct(_a AS a, _b AS b, _sim AS sim)))")
        .as("_sims"))
    cc.join(pp, Seq(qIdCol), "left")
      .select(col(qIdCol), explode(mmrUdf(col("_cands"),
        coalesce(col("_sims"),
          expr("CAST(array() AS ARRAY<STRUCT<a BIGINT, b BIGINT, sim DOUBLE>>)")),
        lit(k), lit(lambda), lit(mu))).as("_r"))
      .select(col(qIdCol), col("_r.id").as(cIdCol),
        col("_r.step").as("step"), col("_r.score").as("score"))
  }
}

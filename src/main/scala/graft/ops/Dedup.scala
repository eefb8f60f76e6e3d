package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All hash functions are md5-derived so every operator is deterministic,
  * engine-independent (mirrorable in the DuckDB oracle), and needs no
  * stored random state. At 100 TB:
  *   - exact dedup is one hash-shuffle on a 16-byte key;
  *   - MinHash/LSH turns the O(n²) pair space into hash-joins on band
  *     keys (candidates only where a full band collides);
  *   - SimHash reduces each document to one 60-bit integer, and near-dup
  *     detection to bucket joins on bit-prefixes.
  */
object Dedup {

  /** First 8 hex chars of md5 as a BIGINT — the engine's portable hash.
    * Native [[graft.functions.Md5Long]] expression (digest bytes → long,
    * no hex-string round trip); bit-identical to DuckDB's
    * `('0x' || substr(md5(x),1,8))::BIGINT`.
    */
  def md5Int(c: Column): Column = call_function("md5_long", c, lit(8))

  /** 60-bit variant (15 hex chars) — fits signed 64-bit on both engines. */
  def md5Int60(c: Column): Column = call_function("md5_long", c, lit(15))

  /** Exact duplicate groups by content hash: one row per distinct content,
    * keeping the smallest id (`keep_id`) and the group size.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Distinct word k-shingles of a text column, via the native
    * [[graft.functions.WordShingles]] expression (one compiled loop per
    * row). Documents with fewer than k tokens get an empty shingle set.
    * Requires `graft.Functions.register` on the session.
    */
  def shingles(text: Column, k: Int = 3): Column =
    call_function("word_shingles", text, lit(k))

  /** Exploded shingle rows: (idCol, n_sh, sh). */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol), shingles(col(textCol), k).as("_shingles"))
      .select(col(idCol), size(col("_shingles")).as("n_sh"),
        explode(col("_shingles")).as("sh"))

  /** MinHash signature with the Kirsch-Mitzenmacher construction:
    * h_i(x) = h1(x) + i·h2(x) from two base md5 hashes — 2 hash
    * evaluations per shingle instead of `numHashes`, same collision
    * guarantees. h1,h2 < 2^32 and i < numHashes keep h_i well inside
    * signed 64-bit.
    */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String,
                       numHashes: Int = 8): DataFrame = {
    val ex = shingleRows(df, textCol, idCol)
      .select(col(idCol),
        md5Int(concat(lit("1:"), col("sh"))).as("h1"),
        md5Int(concat(lit("2:"), col("sh"))).as("h2"))
    val mins = (0 until numHashes).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"s$i"))
    ex.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs from minhash signatures: `bandSize` signature
    * components per band; a pair is a candidate iff some band matches
    * entirely. `est_jaccard` = fraction of matching signature components.
    *
    * Scale shape: explode(bands) → ONE equi-join on (band, key) → filter →
    * distinct — never a cross join; band-key skew is AQE's skew-join case.
    * For the skew split to ENGAGE, feed `sigIn` from a materialized table
    * (persisted frame or stored parquet — the deploy pattern: signatures
    * are computed once and reused). Measured on Spark 4.1: with the band
    * exchange sitting over the full unmaterialized signature pipeline,
    * OptimizeSkewedJoin declines even on a 75%-hot-key corpus; over a
    * materialized input it splits the hot band partitions
    * (SkewJoinSpec pins this with a boilerplate-heavy fixture).
    * The full signature rides along on each band row (numHashes longs,
    * ~64 bytes), so `est_jaccard` is a projection over the joined row and
    * no signature re-join — and therefore no persist of the signature
    * table — is needed. Shuffling 64 extra bytes per band row is far
    * cheaper at 100 TB than re-shuffling the signature table twice and
    * holding it cached across the query.
    */
  /** Band-exploded signature rows: (idCol, band, key, s0..s{n-1}) — the
    * signature rides each band row so candidate scoring never re-joins the
    * signature table (see [[minhashCandidates]] scaladoc).
    */
  private def bandRows(sigIn: DataFrame, idCol: String,
                       numHashes: Int, bandSize: Int): DataFrame = {
    val nBands = numHashes / bandSize
    val bandArr = array((0 until nBands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until bandSize).map(j => col(s"s${b * bandSize + j}")): _*)
          .as("key"))): _*)
    val sigCols = (0 until numHashes).map(i => col(s"s$i"))
    sigIn
      .select(col(idCol) +: sigCols :+ explode(bandArr).as("bk"): _*)
      .select(Seq(col(idCol), col("bk.band").as("band"), col("bk.key").as("key")) ++
        sigCols: _*)
  }

  /** Fraction of matching signature components between `a_s*` and `b_s*`. */
  private def estJaccard(numHashes: Int): Column =
    round((0 until numHashes)
      .map(i => when(col(s"a_s$i") === col(s"b_s$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes, 4)

  /** `band === <index of the FIRST band whose components all match>`.
    * A pair matching in k bands appears k times in the band join; since
    * the full signatures ride both sides, "this row's band is the
    * minimal matching band" is a pure post-join predicate that keeps
    * exactly one row per pair — replacing the `.distinct()` the join
    * used to need (an exchange + hash aggregation over every candidate
    * row; guide-§2.4 shuffle removal, r16). The current row's band
    * always matches (the join key was equal), so the coalesce is total.
    */
  private def firstMatchingBand(numHashes: Int, bandSize: Int): Column = {
    val nBands = numHashes / bandSize
    val bandMatches = (0 until nBands).map { b =>
      (0 until bandSize)
        .map(j => col(s"a_s${b * bandSize + j}") === col(s"b_s${b * bandSize + j}"))
        .reduce(_ && _)
    }
    val first = coalesce(bandMatches.zipWithIndex.map {
      case (m, b) => when(m, lit(b)) }: _*)
    col("band") === first
  }

  def minhashCandidates(sigIn: DataFrame, idCol: String,
                        numHashes: Int = 8, bandSize: Int = 2,
                        threshold: Double = 0.5): DataFrame = {
    val withBands = bandRows(sigIn, idCol, numHashes, bandSize)
    val left = withBands.select(Seq(col(idCol).as("a_id"), col("band"), col("key")) ++
      (0 until numHashes).map(i => col(s"s$i").as(s"a_s$i")): _*)
    val right = withBands.select(Seq(col(idCol).as("b_id"), col("band").as("band_r"),
      col("key").as("key_r")) ++
      (0 until numHashes).map(i => col(s"s$i").as(s"b_s$i")): _*)
    left.join(right,
        col("band") === col("band_r") && col("key") === col("key_r") &&
          col("a_id") < col("b_id"))
      .where(firstMatchingBand(numHashes, bandSize))
      .select(col("a_id"), col("b_id"), estJaccard(numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Incremental near-dup check — which INCOMING docs near-duplicate the
    * STORED corpus? The continuous-ingest workflow: the stored corpus is
    * already deduped and its signature/band table persisted; each new
    * batch is checked against it without any corpus rescan or self-join.
    *
    * Scale shape: the incoming band table is broadcast (a batch is small
    * by construction) against the stored band table, so the stored side
    * is touched only on colliding band keys — and when the stored band
    * table is bucketed/partitioned by band key (the same layout trick as
    * the streaming merge), each probe is a partition-pruned read.
    * Output: one row per (in_id, stored_id) pair with
    * `est_jaccard` ≥ `threshold`.
    */
  def incrementalMinhashDups(storedSig: DataFrame, incomingSig: DataFrame,
                             idCol: String, numHashes: Int = 8, bandSize: Int = 2,
                             threshold: Double = 0.5): DataFrame = {
    val stored = bandRows(storedSig, idCol, numHashes, bandSize)
      .select(Seq(col(idCol).as("b_id"), col("band").as("band_r"),
        col("key").as("key_r")) ++
        (0 until numHashes).map(i => col(s"s$i").as(s"b_s$i")): _*)
    val incoming = bandRows(incomingSig, idCol, numHashes, bandSize)
      .select(Seq(col(idCol).as("a_id"), col("band"), col("key")) ++
        (0 until numHashes).map(i => col(s"s$i").as(s"a_s$i")): _*)
    stored.join(broadcast(incoming),
        col("band") === col("band_r") && col("key") === col("key_r"))
      .where(firstMatchingBand(numHashes, bandSize))
      .select(col("a_id").as("in_id"), col("b_id").as("stored_id"),
        estJaccard(numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Connected components over candidate-pair edges → duplicate clusters:
    * every node gets the minimum id reachable in its component as
    * `cluster_id` (nodes outside any edge are their own cluster and are
    * not emitted — callers union singletons if needed).
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each round
    * REWRITES the edge set toward stars centered at component minima —
    * large-star points every strictly-larger neighbor of u at
    * m(u) = min(Γ(u) ∪ {u}); small-star folds each node and its smaller
    * neighbors onto their minimum. Unlike plain min-label propagation
    * (O(diameter) rounds when ids are scattered, the long-chain near-dup
    * case), star contraction halves chain structure every round —
    * O(log diameter) rounds on any id layout, and the edge set shrinks as
    * components contract, so later rounds are cheaper, not just fewer.
    *
    * One action per round: the edge count + an order-independent xxhash64
    * signature ride the materializing action via `observe()`; the fixed
    * point (a star forest) is detected when both are unchanged. Rounds are
    * lineage-cut and the previous round's storage freed
    * ([[Iterate.materialize]]) — no session-global configuration, memory
    * O(1) in round count. At 100 TB every step is a key-partitioned
    * aggregation or equi-join on node id — AQE handles skew (a hot star
    * center is the skew-join case) and coalesces the contracted tail; a
    * [[LocalEndgame]]-sized remainder finishes as one-task union-find.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIterations: Int = 50): DataFrame = {
    // canonical undirected edges, bigger endpoint first; ids normalized
    // to BIGINT so the distributed and local-endgame paths emit one schema.
    // Only integral id columns are accepted: a silent `.cast("long")` of a
    // string/decimal id would NULL out (and so drop) edges instead of
    // erroring — callers with non-numeric ids must hash them to long
    // (xxhash64) before calling.
    Seq(aCol, bCol).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = pairs.schema(c).dataType
      require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(dt),
        s"connectedComponents: id column '$c' must be integral, got $dt — " +
          "hash non-numeric ids to long (e.g. xxhash64) before calling")
    }
    val init = pairs
      .where(col(aCol) =!= col(bCol))
      .select(greatest(col(aCol), col(bCol)).cast("long").as("src"),
        least(col(aCol), col(bCol)).cast("long").as("dst"))
      .distinct()
    // One alternating round: LARGE-STAR (every node u connects each
    // strictly larger neighbor v to m(u) = min(Γ(u) ∪ {u}); m ≤ u < v
    // keeps the (bigger, smaller) canonical form and forbids self-loops)
    // then SMALL-STAR (every node u folds itself and its smaller
    // neighbors Γ⁻(u) onto min(Γ⁻(u)); canonical form means Γ⁻ is just
    // `dst`). The min aggregations are duplicate-insensitive, so the
    // intermediate edge multisets are never dedup'd — only the LAST
    // chained round pays the distinct (the signature below needs a set).
    def ccRound(edges: DataFrame, dedup: Boolean): DataFrame = {
      val sym = edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))
      val mLarge = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mLarge, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
      val sm = large.select(col("src").as("u"), col("dst").as("v"))
      val mSmall = sm.groupBy("u").agg(min("v").as("m"))
      val next = sm.join(mSmall, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mSmall.select(col("u").as("src"), col("m").as("dst")))
      if (dedup) next.distinct() else next
    }
    // Exactly ONE round per materialization: each round consumes its
    // input TWICE (the symmetric union), so chaining k rounds lazily
    // re-evaluates the input 2^k times — measured 6.4s vs 3.7s at
    // RoundsPerCut = 2 on sf0.1 — and the per-round cut is what keeps
    // round cost flat. Do not raise without a persist per inner round.
    val RoundsPerCut = 1
    var round = graft.ops.Iterate.materialize(init)
    var i = 0
    var converged = false
    var localDone: Option[DataFrame] = None
    var prevCnt = -1L
    var prevSig = 0L
    while (i < maxIterations && !converged && localDone.isEmpty) {
      var e = round.df
      var r = 0
      while (r < RoundsPerCut) { e = ccRound(e, dedup = r == RoundsPerCut - 1); r += 1 }
      val obs = org.apache.spark.sql.Observation()
      // order-independent set signature: bit_xor of per-edge hashes (xor
      // never overflows under ANSI arithmetic, unlike sum)
      val observed = e.observe(obs,
        count(lit(1)).as("cnt"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("sig"))
      val materialized = graft.ops.Iterate.materialize(observed)
      val cnt = obs.get("cnt").asInstanceOf[Long]
      val sig = obs.get("sig").asInstanceOf[Long]
      converged = cnt == prevCnt && sig == prevSig
      prevCnt = cnt
      prevSig = sig
      round.release()
      round = materialized
      i += RoundsPerCut
      // ENDGAME: contraction shrinks the edge set toward the bound (2
      // longs per edge), where log-d more rounds cost more in job overhead
      // than a single-task union-find. The count rides the round's
      // observe (zero extra jobs); the label (component MIN) is the
      // fixpoint's.
      if (!converged && cnt > 0 && LocalEndgame.fits("connectedComponents", cnt, 16)) {
        val spark = round.df.sparkSession
        val session = spark.implicits
        import session._
        localDone = Some(round.df.coalesce(1)
          .select(col("src"), col("dst"))
          .as[(Long, Long)]
          .mapPartitions(it => unionFindMinLabel(it))
          .toDF("node", "cluster_id"))
      }
    }
    // fixed point is a star forest: every edge points leaf → component-min
    // center; centers label themselves. Materialized: multi-consumer
    // callers (cluster stats' two aggregation branches) read the computed
    // result instead of re-running the union+distinct per branch (Spark
    // shares no common subplans), the final round's storage is released
    // here, and the returned root frame is caller-releasable via
    // [[Iterate.releaseCheckpoint]].
    val result = localDone.getOrElse {
      val stars = round.df
      stars.select(col("src").as("node"), col("dst").as("cluster_id"))
        .union(stars.select(col("dst").as("node"), col("dst").as("cluster_id")))
        .distinct()
    }
    val out = graft.ops.Iterate.materialize(result)
    round.release()
    out.df
  }

  /** WARM-START connected components — the daily-ingest shape at 100 TB:
    * yesterday's clustering plus today's new candidate edges, WITHOUT
    * recomputing over yesterday's full edge set. Sound because
    * [[connectedComponents]] labels every node with its component
    * MINIMUM: the prior (node, cluster_id) rows are exactly the
    * component's star edges, which preserve both connectivity and
    * min-reachability, so CC over (prior stars ∪ new edges) produces
    * labels IDENTICAL to a full recompute over (old edges ∪ new edges)
    * — pinned by spec and by the `dedup_clusters_incremental` oracle,
    * whose DuckDB side IS the full recompute. Cost is bounded by
    * |prior nodes| + |new edges|, never by the historical edge count.
    *
    * `prior` must be a min-labeled clustering (what connectedComponents
    * emits); `newPairs` are the new candidate edges (both endpoint
    * columns integral ids, as connectedComponents requires).
    */
  def connectedComponentsIncremental(prior: DataFrame,
      nodeCol: String, clusterCol: String,
      newPairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 50): DataFrame = {
    val stars = prior.select(col(nodeCol).cast("long").as("a"),
      col(clusterCol).cast("long").as("b"))
    val edges = stars.unionAll(newPairs.select(
      col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")))
    connectedComponents(edges, "a", "b", maxIterations)
  }

  /** Cluster labels for the SURVIVORS after removing documents — the
    * takedown twin of [[connectedComponentsIncremental]], and the harder
    * direction: removal can SPLIT a cluster (the removed doc may be its
    * articulation point) and can change labels (the removed doc may be
    * the component minimum), neither of which the star-shaped prior
    * state can express. Prior labels therefore survive verbatim only for
    * clusters containing NO removed doc; each affected cluster re-derives
    * its candidate pairs from the stored SIGNATURE table restricted to
    * its survivors and re-runs CC on that subgraph — cost bounded by the
    * affected-cluster mass, never the corpus. Sound because banded
    * candidate pairs never cross prior cluster boundaries (a pair implies
    * same cluster), so the subgraph recompute and the untouched remainder
    * partition the full recompute exactly (`dedup_retract_clusters`'s
    * oracle IS that full recompute over the survivors).
    *
    * `priorClusters`: (node, cluster_id) as [[connectedComponents]]
    * emits; `storedSig`: the persisted signature table (id + s0..s7) —
    * the same state [[incrementalMinhashDups]] probes for appends, so one
    * stored table serves both directions.
    */
  def dedupClustersRetract(storedSig: DataFrame, removeIds: DataFrame,
      idCol: String, priorClusters: DataFrame,
      numHashes: Int = 8, bandSize: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val rem = removeIds.select(col(idCol)).distinct()
    val affected = priorClusters
      .join(broadcast(rem), priorClusters("node") === rem(idCol), "left_semi")
      .select(col("cluster_id")).distinct()
    val affSurvivors = priorClusters
      .join(broadcast(affected), Seq("cluster_id"), "left_semi")
      .join(broadcast(rem), priorClusters("node") === rem(idCol), "left_anti")
      .select(col("node"))
    val subSig = storedSig
      .join(broadcast(affSurvivors), storedSig(idCol) === affSurvivors("node"),
        "left_semi")
    val recomputed = connectedComponents(
      minhashCandidates(subSig, idCol, numHashes, bandSize, threshold),
      "a_id", "b_id")
    priorClusters
      .join(broadcast(affected), Seq("cluster_id"), "left_anti")
      .select(col("node"), col("cluster_id"))
      .unionByName(recomputed.select(col("node"), col("cluster_id")))
  }

  /** Union-find with path compression over one partition's edges,
    * relabeled so every node maps to its component MINIMUM — the same
    * labeling as the star-forest fixpoint, independent of edge order.
    */
  private[graft] def unionFindMinLabel(
      edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val next = parent.getOrElse(c, c); parent(c) = r; c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      minOf(r) = math.min(minOf.getOrElse(r, n), n)
    }
    parent.keysIterator.map(n => (n, minOf(find(n)))).toList.iterator
  }

  /** Word-k-gram Jaccard near-dup candidates via an inverted shingle-index
    * self-join, with a document-frequency cap: shingles occurring in more
    * than `dfCap` documents are dropped before the self-join. The cap is
    * the standard guard against the quadratic blowup from boilerplate —
    * one hot shingle shared by k documents would otherwise emit k² join
    * rows (the skew cliff at 100 TB) — and it shrinks the shuffle to the
    * discriminative shingles. Jaccard denominators keep the FULL per-doc
    * shingle counts, so the cap only removes candidate-generating power
    * of boilerplate; it never inflates similarity.
    *
    * Shape: the shingle stream is generated ONCE and persisted (the
    * native word_shingles pass over the corpus is the dominant cost, and
    * without the persist AQE's broadcast choices re-ran it per consumer:
    * the round-10 plan audit showed the parquet scanned four times, no
    * exchange ever reused); result checkpointed and the cache released
    * (Iterate.scoped), so nothing outlives the op. The df-cap pass keeps
    * COUNT-only state — a boilerplate shingle in millions of docs costs
    * one counter — and the df-capped self-join probes the cached stream
    * against the rare-shingle set (AQE picks broadcast at test scale,
    * shuffle join at corpus scale), emitting ≤ C(dfCap, 2) rows per
    * shingle. (A grouped posting-list variant — collect_list per
    * shingle + row-local pair explode — measured SLOWER at sf0.1, 2.9 s
    * vs 2.5 s: the full gram-stream exchange + object agg costs more
    * than the broadcast join it replaced. Reverted round 11.)
    */
  def ngramCandidates(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 3, dfCap: Int = 100,
                      threshold: Double = 0.5): DataFrame = {
    // 60-bit hash of the shingle: fixed-width key shrinks the shuffle
    // (collision odds ~1e-8 at this cardinality; oracles hash identically)
    val sh = shingleRows(df, textCol, idCol, k)
      .select(col(idCol), col("n_sh"), md5Int60(col("sh")).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
      .where(col("_df") <= dfCap)
      .select(col("sh"))
    // no forced broadcast: `rare` is ~every distinct shingle — AQE picks
    // broadcast at test scale, shuffle join at corpus scale
    val pruned = sh.join(rare, "sh")
    val a = pruned.select(col(idCol).as("a_id"), col("n_sh").as("a_n"), col("sh"))
    val b = pruned.select(col(idCol).as("b_id"), col("n_sh").as("b_n"), col("sh"))
    val result = a.join(b, Seq("sh"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("inter"))
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / (col("a_n") + col("b_n") - col("inter")), 4)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
    // eager, like prefixJaccardJoin: checkpoint the (small) pair result,
    // release the shingle cache — no storage outlives the op
    Iterate.scoped(result, sh)
  }

  /** [[ngramCandidates]]' exact Jaccard for a GIVEN pair set instead of
    * the full shingle-index self-join: identical semantics (inter counts
    * shared RARE shingles only, denominators keep the full per-doc
    * shingle counts, same 4-dp rounding; pairs sharing zero rare
    * shingles are absent — exactly the pairs the self-join never
    * emits), but the joins are keyed by the pair ids, so cost is
    * bounded by |pairs| × shingles-per-doc, never by per-shingle df².
    * The shape for "score THESE candidates exactly" (calibration,
    * verification) when the candidate set is already known.
    */
  def ngramJaccardFor(pairs: DataFrame, df: DataFrame, textCol: String,
                      idCol: String, k: Int = 3,
                      dfCap: Int = 100): DataFrame = {
    val sh = shingleRows(df, textCol, idCol, k)
      .select(col(idCol), col("n_sh"), md5Int60(col("sh")).as("sh"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
      .where(col("_df") <= dfCap)
      .select(col("sh"))
    val pruned = sh.join(rare, "sh")
    pairs.select("a_id", "b_id")
      .join(pruned.select(col(idCol).as("a_id"), col("n_sh").as("a_n"), col("sh")), "a_id")
      .join(pruned.select(col(idCol).as("b_id"), col("n_sh").as("b_n"), col("sh")),
        Seq("b_id", "sh"))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("inter"))
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / (col("a_n") + col("b_n") - col("inter")), 4)
          .as("jaccard"))
  }

  /** 60-bit SimHash over the token multiset: per token a 60-bit md5 hash;
    * each output bit is the sign of the per-bit vote sum.
    *
    * One shuffle, no row explosion: the 60 bit-votes are 60 independent
    * `sum(...)` columns in a single hash aggregation (partial-agg map-side
    * combines token rows before the shuffle), then the final signature is a
    * pure projection over the 60 vote columns — vs the naive
    * explode(sequence(0,59)) form this is 60× fewer shuffle rows.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol), md5Int60(col("tok")).as("h"))
    val votes = (0 until 60).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"_v$b"))
    val simhashCol = (0 until 60).map(b =>
      when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    toks.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), simhashCol.as("simhash"))
  }

  /** Prefix-filter set-similarity self-join over word-k-shingle sets —
    * the PPJoin family's candidate generation (prefix filtering under a
    * global rare-first element order; Xiao et al., WWW'08), verified by
    * exact set intersection in integer arithmetic.
    *
    * Threshold is the rational `tNum/tDen` so every comparison is exact
    * cross-engine integer math (no float Jaccard anywhere).
    *
    * Why this beats the full inverted-index join ([[ngramCandidates]]) at
    * scale: only each document's PREFIX — its `m − ceil(t·m) + 1` globally
    * rarest shingles — enters the self-join. Pairs with Jaccard ≥ t must
    * share a prefix element (with the size filter `t·max(ma,mb) ≤ min`,
    * which all true pairs satisfy), so the candidate set is lossless, while
    * hot boilerplate shingles sort LAST in the rare-first order and mostly
    * stay out of the join entirely — the k² hot-key blowup the df-cap only
    * bluntly truncates is avoided by construction, with no cap parameter
    * and no approximation.
    *
    * Output: `(id_a, id_b, inter, uni, sim_bp)` for verified pairs —
    * exact intersection / union sizes and basis-point similarity
    * `inter·10000 div uni`, all BIGINT.
    */
  def prefixJaccardJoin(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    import org.apache.spark.storage.StorageLevel
    // (id, m, h): per-doc DISTINCT shingle-hash rows; m = set size.
    // Persisted: consumed by the df aggregation AND the join probe side —
    // their exchanges differ (partial-agg rows vs full rows), so
    // ReuseExchange cannot dedup them and the corpus would re-shingle
    // twice (verified in the plan: two Generate-over-scan subtrees).
    val sh = shingleRows(df, textCol, idCol, k)
      .select(col(idCol).as("id"), col("n_sh").as("m"),
        md5Int60(col("sh")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // global element order = (document frequency asc, hash asc).
    // Tried r7: a count-over-h window in place of this groupBy+join
    // ("one exchange instead of two") showed no win (both formulations
    // measured 9-30 s under heavy host steal; the groupBy's map-side
    // partial agg shrinks tf before it shuffles, the window pays
    // per-tiny-partition buffer setup across millions of h groups).
    // Keeping the join — it is the formulation the r6 record timed.
    val tf = sh.groupBy("h").agg(count(lit(1)).as("_df"))
    // r17 restructure (VERDICT r16 #1 — the op was a chain of EIGHT
    // sequential shuffle stages with no dominant one; the fix is fewer
    // stages, not a faster stage): ONE (id)-keyed aggregation computes
    // BOTH the prefix (slice of the (df, h)-sorted array — exactly the
    // rows the former row_number window kept) AND the full verify set
    // (the h array the former per-candidate collect_list built in a
    // SECOND (id)-keyed pass). The former shape paid: window exchange +
    // sort + row_number over every (id, h) row, then a semi-join + a
    // second (id) exchange + object aggregation for the candidate sets.
    // This shape pays the same (id) exchange once, sorts per-doc arrays
    // in the aggregation, and the verify reads the cached arrays with no
    // further aggregation. Per-doc state is the doc's distinct-shingle
    // array — the same bound the former candidate-set build already
    // accepted for any doc that entered a pair.
    val docsF = sh.join(tf, "h")
      .groupBy("id")
      .agg(max(col("m")).as("m"),
        collect_list(struct(col("_df"), col("h"))).as("_dh"))
      .select(col("id"), col("m"),
        expr(s"transform(slice(array_sort(_dh), 1, " +
          s"int(m - (m * $tNum + ${tDen - 1}) div $tDen + 1)), x -> x.h)").as("_pre"),
        array_sort(expr("transform(_dh, x -> x.h)")).as("_hs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefix = docsF.select(col("id"), col("m"), explode(col("_pre")).as("h"))
    // consumed by the member-id projection AND the verify join — the two
    // consumers share the identical distinct-exchange subtree, which Spark
    // reuses (ReusedExchange), so no persist is needed
    val cand = prefix.select(col("id").as("id_a"), col("m").as("_ma"), col("h"))
      .join(prefix.select(col("id").as("id_b"), col("m").as("_mb"), col("h")), Seq("h"))
      .where(col("id_a") < col("id_b") &&
        least(col("_ma"), col("_mb")) * tDen >= greatest(col("_ma"), col("_mb")) * tNum)
      .select("id_a", "id_b")
      .distinct()
    // exact verify over the PRUNED doc frame: only documents that appear
    // in some candidate pair ride the verify joins (verify shuffle stays
    // bounded by candidate count, not corpus size — the arrays themselves
    // were already built in the shared (id) aggregation above)
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id")))
      .distinct()
    val sets = docsF.join(candIds, Seq("id"), "left_semi")
      .select(col("id"), col("_hs"), col("m"))
    val result = cand
      .join(sets.select(col("id").as("id_a"), col("_hs").as("_ha"), col("m").as("_ma")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("_hs").as("_hb"), col("m").as("_mb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_ha"), col("_hb"))).cast("long").as("inter"),
        (col("_ma") + col("_mb")).as("_msum"))
      .withColumn("uni", col("_msum") - col("inter"))
      .where(col("inter") * tDen >= col("uni") * tNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        expr("(inter * 10000) div uni").as("sim_bp"))
    Iterate.scoped(result, sh, docsF)
  }

  /** Canonical-representative selection after clustering: one row per
    * cluster — the member with the highest `qualityCol` (ties → smallest
    * `idCol`). The curation step that decides WHICH copy of a near-dup
    * cluster survives. One partial-aggregable `max_by` (the tie-break is
    * folded into the order struct, so ties never reach max_by's
    * nondeterminism), never a window sort of the corpus.
    */
  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003, the
    * MOSS local fingerprinting scheme): hash every k-char gram, slide a
    * w-hash window over the positions, keep each window's MINIMUM hash,
    * dedup the selections per document. Guarantees at least one shared
    * fingerprint for any verbatim match of length ≥ w + k − 1 — a
    * detection floor exact dedup lacks and minhash only gives in
    * probability. (The classic rightmost-tie rule only disambiguates
    * which POSITION is selected; the fingerprint SET — all this emits —
    * is identical under any tie rule, so plain `min` suffices.)
    *
    * Output: (idCol, n_fp, fp_xor) — count plus an order-independent XOR
    * digest of the distinct selected fingerprints (two docs with equal
    * (n_fp, fp_xor) are near-certain duplicates; join on exploded
    * fingerprints for containment detection).
    *
    * Scale shape: narrow generators, a per-DOCUMENT window (bounded by
    * document length — never a global frame), one doc-key aggregate;
    * linear in corpus characters.
    */
  /** The distinct winnowing-selected fingerprints per document:
    * (idCol, fp) rows. Shared by [[winnowFingerprints]] (digest) and
    * [[winnowPairs]] (cross-document match candidates).
    *
    * Computed by the native [[graft.functions.WinnowFps]] expression — one
    * compiled pass per document inside whole-stage codegen, then a cheap
    * explode of the per-doc result array. The relational formulation it
    * replaced ([[winnowSelectionsPlan]], kept as the spec cross-check and
    * the oracle's algebra) materialized a row per character and paid an
    * explode → per-doc window sort → distinct pipeline for the same set.
    */
  def winnowSelections(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 8, w: Int = 4): DataFrame =
    df.select(col(idCol),
        explode(call_function("winnow_fps", col(textCol), lit(k), lit(w))).as("fp"))

  /** Relational formulation of [[winnowSelections]] — the DuckDB oracle's
    * algebra (explode positions → window min → distinct), kept for the
    * native-vs-plan equivalence spec. Requires only built-ins + md5_long.
    */
  private[graft] def winnowSelectionsPlan(df: DataFrame, textCol: String, idCol: String,
                                          k: Int = 8, w: Int = 4): DataFrame = {
    val grams = df.where(length(col(textCol)) >= k + w - 1)
      .select(col(idCol), col(textCol),
        explode(expr(s"sequence(1, length($textCol) - ${k - 1})")).as("pos"))
      .select(col(idCol),
        (length(col(textCol)) - (k - 1)).as("n_pos"),
        col("pos"),
        md5Int60(expr(s"substr($textCol, pos, $k)")).as("fp"))
    val win = Window.partitionBy(idCol).orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("_sel", min(col("fp")).over(win))
      // only full windows: starts past n_pos − (w−1) see fewer than w hashes
      .where(col("pos") <= col("n_pos") - (w - 1))
      .select(col(idCol), col("_sel").as("fp"))
      .distinct()
  }

  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    val agg = winnowSelections(df, textCol, idCol, k, w).groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"), expr("bit_xor(fp)").as("fp_xor"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_xor"), lit(0L)).as("fp_xor"))
  }

  /** Cross-document match candidates from shared winnowing fingerprints
    * (the pair-space payoff of [[winnowSelections]]'s guarantee: any
    * verbatim overlap of length ≥ w + k − 1 shares a fingerprint, so
    * substring-level plagiarism/containment — which whole-document
    * minhash dilutes away — lands here). Pairs sharing ≥ `minShared`
    * fingerprints are emitted with a containment score in basis points:
    * shared·10⁴ div min(|fp_a|, |fp_b|), where |fp| is the doc's FULL
    * selection count (the df cap prunes only the join, not the
    * denominator, so the score stays a true containment estimate).
    *
    * Scale shape: fingerprint-key equi-join with the same df-cap bound
    * as [[ngramCandidates]] — a fingerprint in more than `dfCap` docs
    * (boilerplate) is dropped before the join, so each key contributes
    * ≤ dfCap² pairs; never an all-pairs product.
    */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 8, w: Int = 4, dfCap: Int = 50,
                  minShared: Int = 3, minContainBp: Int = 0): DataFrame = {
    // Persisted: the selections feed per-doc counts, the per-fp df agg,
    // and BOTH sides of the candidate join — and the join sides also
    // re-run the df aggregation (a full fp-key shuffle) when uncached.
    // Measured: dropping this persist after the native-winnow_fps rewrite
    // was 2.4× SLOWER (5.7 s vs 2.3 s at sf0.1) — the recompute is not
    // just the codegen scan, it multiplies the dfq shuffle. Cache stays;
    // released via Iterate.scoped once the result is checkpointed.
    val sel = winnowSelections(df, textCol, idCol, k, w)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = sel.groupBy(col(idCol)).agg(count(lit(1)).as("n_fp"))
    val dfq = sel.groupBy("fp").agg(count(lit(1)).as("df"))
    val idx = sel.join(dfq.where(col("df") <= dfCap), "fp")
      .select(col("fp"), col(idCol))
    val a = idx.select(col("fp"), col(idCol).as("a"))
    val b = idx.select(col("fp"), col(idCol).as("b"))
    val result = a.join(b, "fp").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .join(counts.select(col(idCol).as("a"), col("n_fp").as("nfa")), "a")
      .join(counts.select(col(idCol).as("b"), col("n_fp").as("nfb")), "b")
      .withColumn("contain_bp", expr("shared * 10000 div least(nfa, nfb)"))
      .where(col("contain_bp") >= minContainBp)
      .select("a", "b", "shared", "contain_bp")
    Iterate.scoped(result, sel)
  }

  /** Bag-of-words cosine similarity join over an inverted term index:
    * per-doc term frequencies, df-capped discriminative terms (df ≤
    * `dfCap`, the same blowup bound as [[ngramCandidates]]), pair dot
    * products via the term-key equi-join, and an INTEGER similarity:
    * cos²·10⁴ = dot²·10⁴ div (‖a‖²·‖b‖²), where norms are taken in the
    * same capped-term subspace so the score is the exact cosine² of the
    * discriminative-term vectors — nothing floats, nothing drifts.
    *
    * Range contract: dot²·10⁴ must fit int64 — by Cauchy–Schwarz that is
    * ‖v‖² ≤ 3·10⁷ per doc (≈ a 10⁷-token document of distinct terms),
    * far past any real document; chunk first if exceeded.
    *
    * Scale shape: linear inverted-index topology — term-key shuffle, the
    * df cap bounds each term's pair contribution at dfCap², one (a,b)
    * shuffle for the dot aggregate; never an all-pairs product.
    */
  def cosinePairs(df: DataFrame, textCol: String, idCol: String,
                  minCos2Bp: Int = 2500, dfCap: Int = 100): DataFrame = {
    // Persisted: the capped index feeds three consumers (norms + both
    // join sides), each of which would otherwise re-run the corpus
    // explode + two aggregations. Spill-safe cache, released by
    // Iterate.scoped once the result is checkpointed.
    val terms = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val idx = terms.join(dfq.where(col("df") <= dfCap), "term")
      .select(col("term"), col(idCol), col("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val norms = idx.groupBy(col(idCol)).agg(sum(col("tf") * col("tf")).as("n2"))
    val a = idx.select(col("term"), col(idCol).as("a"), col("tf").as("tfa"))
    val b = idx.select(col("term"), col(idCol).as("b"), col("tf").as("tfb"))
    val result = a.join(b, "term").where(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("tfa") * col("tfb")).as("dot"))
      .join(norms.select(col(idCol).as("a"), col("n2").as("na")), "a")
      .join(norms.select(col(idCol).as("b"), col("n2").as("nb")), "b")
      .withColumn("cos2_bp", expr("dot * dot * 10000 div (na * nb)"))
      .where(col("cos2_bp") >= minCos2Bp)
      .select("a", "b", "dot", "cos2_bp")
    Iterate.scoped(result, idx)
  }

  /** SimHash near-dup candidate pairs — the classic web-dedup pipeline
    * (Manku-Jain-Sarma '07): split each 60-bit signature into `bands`
    * contiguous 15-bit bands; by pigeonhole any pair within Hamming
    * distance < `bands` agrees on at least one whole band, so the
    * band-key equi-join is a LOSSLESS candidate generator for
    * `maxHamming` ≤ bands − 1. Candidates verify by exact
    * `bit_count(xor)`.
    *
    * Scale shape: identical to minhash LSH — band-key equi-join, never
    * all-pairs; the signature rides the band row so verification is a
    * projection, no re-join. Identical signatures concentrate in one
    * bucket (AQE's skew-join case). Output: (a, b, hamming).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"banding is lossless only for hamming < bands (got $maxHamming/$bands)")
    val width = 60 / bands
    val mask = (1L << width) - 1
    // persisted: BOTH join sides consume the signature table, and Spark
    // does not reuse the exchange across the broadcast/stream split — the
    // unpersisted form tokenized + 60-vote-aggregated the whole corpus
    // TWICE (r15 plan audit: the full simhash subtree appeared under both
    // the stream side and the BroadcastExchange). The signature table is
    // two longs per doc, the cheapest possible thing to cache.
    val sig = simhash(df, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col(idCol).as("_id"), col("simhash"),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}), b ->
             | struct(b AS band,
             |   shiftright(simhash, b * $width) % ${mask + 1} AS key))"""
            .stripMargin.replace("\n", " "))).as("z"))
      .select(col("_id"), col("simhash"), col("z.band").as("band"), col("z.key").as("key"))
    val a = banded.select(col("band"), col("key"), col("_id").as("a"), col("simhash").as("sa"))
    val b = banded.select(col("band"), col("key"), col("_id").as("b"), col("simhash").as("sb"))
    // a pair may agree on several bands; both signatures ride the joined
    // row, so "this is the FIRST agreeing band" is a pure predicate and
    // each pair survives exactly once — no dedup exchange needed (the
    // minhashCandidates firstMatchingBand trick, r16)
    val firstBand = coalesce((0 until bands).map { bb =>
      when(expr(s"shiftright(sa, ${bb * width}) % ${mask + 1} = " +
        s"shiftright(sb, ${bb * width}) % ${mask + 1}"), lit(bb))
    }: _*)
    val result = a.join(b, Seq("band", "key")).where(col("a") < col("b"))
      .where(col("band") === firstBand)
      .select(col("a"), col("b"), expr("cast(bit_count(sa ^ sb) as int)").as("hamming"))
      .where(col("hamming") <= maxHamming)
    Iterate.scoped(result, sig)
  }

  /** Corpus-wide segment-level dedup, keep-first (the CCNet paragraph
    * dedup step): split each document into fixed non-overlapping
    * `segWords`-word segments (the same segmentation as
    * [[Quality.dropBoilerplate]]), keep only the globally FIRST occurrence
    * of each distinct segment — "first" = smallest (doc id, segment index),
    * a deterministic total order — and reassemble each document's surviving
    * segments in order. Unlike dropBoilerplate (which drops high-df
    * segments from EVERY document), this keeps exactly one copy corpus-wide.
    *
    * Scale shape: one shuffle on the segment text for the winner aggregate
    * (partial-aggregable `min(struct(id, idx))` — no window over segment
    * groups), one shuffle on the doc id to reassemble. Linear; the winner
    * table is bounded by the number of DISTINCT segments.
    *
    * Output: (idCol, n_seg, n_kept, clean_text).
    */
  def dedupSegments(df: DataFrame, textCol: String, idCol: String,
                    segWords: Int = 2): DataFrame = {
    val nSegExpr = s"int(ceil(size(split($textCol, ' ')) / $segWords.0))"
    // split ONCE per doc before the lambda — `slice(split(...), i...)`
    // inside transform re-splits per segment (O(len²)/doc, interpreted)
    val segs = df
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, int(ceil(size(_ws) / $segWords.0)) - 1),
           | i -> array_join(slice(_ws, i * $segWords + 1, $segWords), ' '))"""
          .stripMargin.replace("\n", " ")))
      .as(Seq("seg_idx", "seg")))
    val winners = segs.groupBy("seg")
      .agg(min(struct(col(idCol), col("seg_idx"))).as("_w"))
      .select(col(s"_w.$idCol").as(idCol), col("_w.seg_idx").as("seg_idx"), col("seg"))
    val rebuilt = winners.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(seg_idx, seg))), s -> s.seg)"),
          " ").as("clean_text"))
    df.select(col(idCol), expr(nSegExpr).cast("long").as("n_seg"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_seg"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-wide duplicated-SPAN removal, keep-first — the token-k-gram
    * form of exact-substring dedup (Lee et al. '22, "Deduplicating
    * Training Data Makes Language Models Better"): every occurrence of a
    * token k-gram that appears more than once corpus-wide is removed
    * EXCEPT the globally first ("first" = smallest (doc id, position), a
    * deterministic total order); a token survives iff no losing
    * duplicated-gram occurrence covers it. Any verbatim repeat of ≥ k
    * tokens is caught (every k-gram inside the repeated region
    * duplicates, so the whole span is covered), repeats shorter than k
    * never trigger — the sensitivity knob between [[dedupSegments]]'s
    * fixed non-overlapping segments (alignment-sensitive: a one-token
    * shift defeats it) and a full suffix-array build (which needs a
    * global sort of all suffixes). Removal is per covering gram — the
    * documented approximation of suffix-array span extension.
    *
    * Scale shape: linear in corpus tokens, no pair space anywhere —
    * unlike the candidate-pair ops there is nothing quadratic to cap: the
    * gram aggregate is partial-aggregable `(count, min(struct))` (a hot
    * boilerplate gram map-side-combines; no per-key row list), losing
    * occurrences are ≤ one row per gram occurrence, the covered-position
    * explode is a bounded k× expansion of LOSING occurrences only, and
    * the rebuild is one doc-key aggregation. Two shuffles total (gram
    * key, doc key) plus the duplicated-gram broadcast; covered positions
    * stay un-distinct'd — anti-join builds ignore duplicate rows.
    *
    * Output: (idCol, n_tok, n_kept, clean_text), one row per input doc;
    * fully-duplicated docs keep n_kept = 0 and clean_text = ''.
    */
  def dedupSpans(df: DataFrame, textCol: String, idCol: String,
                 k: Int = 5): DataFrame =
    dedupSpansImpl(df, textCol, idCol, k,
      call_function("word_gram_hashes", col(textCol), lit(k), lit(15)))

  /** [[dedupSpans]] with EXACT string gram keys instead of 60-bit md5 —
    * zero collisions at the price of shuffling ~k·tokenBytes per gram
    * key instead of 8 bytes (the [[graft.functions.WordGrams]] pass is
    * the same zero-copy byte-slice scan as the hash form). Identical
    * output wherever md5 doesn't collide — OpsSpec asserts equality on
    * the fixture, and also cross-validates BOTH against a third
    * machinery: duplicated-k-gram groups recomputed as suffix-array runs
    * with neighbor LCP ≥ k ([[SuffixArray]]), the Lee et al. structure.
    */
  def dedupSpansExact(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 5): DataFrame =
    dedupSpansImpl(df, textCol, idCol, k,
      call_function("word_grams", col(textCol), lit(k)))

  private def dedupSpansImpl(df: DataFrame, textCol: String, idCol: String,
                             k: Int, gramArr: org.apache.spark.sql.Column): DataFrame = {
    // Positional grams in ONE native pass (word_gram_hashes/word_grams
    // slice byte ranges of the text — each space-joined gram IS a byte
    // range of the original string). The interpreted
    // transform/slice/array_join form this replaces was 11.7 s of the
    // query's 11.7 s at sf0.1. The < k-token guard lives inside the
    // expression (empty array).
    val grams = df.select(col(idCol),
      posexplode(gramArr).as(Seq("gpos", "gh")))
      .select(col(idCol), col("gpos").cast("long").as("gpos"), col("gh"))
    // Corpus-global duplicated grams + their first occurrence in ONE
    // partial-aggregable hash aggregation: map-side combine absorbs hot
    // boilerplate grams before the exchange and nothing is ever globally
    // SORTED — this replaced a per-gh window (rn over gh), whose exchange
    // carried every gram row into a per-partition sort. Only grams with
    // ≥ 2 occurrences survive (the dup mass, tiny vs the corpus), so the
    // join marking losing occurrences broadcasts against the gram stream
    // — map-side, no second exchange of the big side.
    //
    // The corpus-sized gram stream is NOT cached (the r11 version cached
    // it for the op's lifetime — a cache that outlived the op, ADVICE
    // r11): it is one codegen'd pass over the text and feeds exactly one
    // materializing job below.
    val firsts = grams.groupBy("gh")
      .agg(count(lit(1)).as("_c"), min(struct(col(idCol), col("gpos"))).as("_m"))
      .where(col("_c") >= 2)
      .select(col("gh"), col("_m").getField(idCol).as("_mid"),
        col("_m.gpos").as("_mpos"))
    val losing = grams.join(firsts, "gh")
      .where(!(col(idCol) === col("_mid") && col("gpos") === col("_mpos")))
    // Covered positions feed both the touched-doc set and the kept-token
    // anti-join. Size is O(duplicated-span positions), the dup mass
    // itself. NOT distinct'd: overlapping losing spans duplicate
    // (id, pos) rows, but an anti-join build ignores duplicates and
    // `touched` dedups on its own — the distinct was a full exchange of
    // the dup mass for nothing.
    //
    // EAGER from here (like the ingest ops): the dup-mass `covered` set
    // materializes ONCE via a lineage-cut checkpoint. Left lazy, each
    // consuming branch re-ran the whole gram aggregation — the branches
    // prune different columns into the subtree, so the plans never
    // canonicalize equal and ReuseExchange cannot fire (measured: 22
    // parquet scans, 0 reused exchanges at sf0.1). Storage is released
    // with the result's lineage (Iterate.releaseCheckpoint / session
    // releaseAll) — no cache outlives the caller's control (OpsSpec leak
    // test covers this op).
    val covered = graft.ops.Iterate.materialize(losing
      .select(col(idCol), explode(expr(s"sequence(gpos, gpos + ${k - 1})")).as("pos"))).df
    rebuildWithoutCovered(df, textCol, idCol, covered)
  }

  /** Span dedup driven by the SUFFIX ARRAY itself — the literal Lee et
    * al. '22 pipeline (build SA → neighbor LCP → drop all but the first
    * copy of every duplicated run), where [[dedupSpans]] /
    * [[dedupSpansExact]] reach the same answer through a k-gram
    * aggregate. Output and semantics are IDENTICAL to
    * [[dedupSpansExact]] at the same k (OpsSpec + the dedup_spans_sa
    * oracle row assert it): a maximal SA run whose consecutive neighbor
    * LCPs are ≥ k is exactly the occurrence set of one duplicated
    * k-gram — every suffix in the run starts with the same k tokens, and
    * every occurrence of a duplicated gram is SA-adjacent to another —
    * so "first copy of the run" = min (id, pos) of the gram group.
    *
    * Scale shape: a `refineTo = k` BOUNDED SA build (one ranking whose
    * shuffle payload is O(suffixes × k), ties past the first k tokens
    * broken (id, pos) instead of by further tokens), one CAPPED LCP pass
    * (`cap = k` and `exact = false` — a threshold test `lcp >= k` never
    * needs tokens past k, so nothing full-length is ever shuffled), then
    * the k-gram winner selection runs over MEMBERS ONLY (the dup mass,
    * not the corpus): gram keys are re-read as the member suffix's first
    * k tokens, one bounded slice join.
    *
    * Why the bounded build is EXACT here (not an approximation): in both
    * the full and the k-bounded ordering, an equal-first-k-tokens class
    * is a contiguous run (the bounded order sorts by exactly those k
    * tokens; the full order refines within the class only). A capped
    * neighbor LCP reaches k iff both suffixes share their first k tokens
    * — i.e. iff the pair lies inside one class (two suffixes of
    * different classes differ within the first k tokens, or one ends
    * before k, capping the LCP below k either way) — so the
    * `lcp >= k`-connected runs are the same classes under either order,
    * and the winner (min (id, pos) per class) is order-independent.
    * Refinement past k can therefore never change the output; the
    * dedup_spans_sa ⇔ dedup_spans_exact oracle identity pins it.
    */
  def dedupSpansSa(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 5, parts: Int = 0): DataFrame = {
    // run members straight off the k-bounded sorted ranking (see
    // SuffixArray.boundedRunMembers for why SA-adjacency membership is
    // a per-row neighbor-key test there) — the bounded build's seed IS
    // k, so there is no seed knob to expose
    val (sorted, members) = SuffixArray.boundedRunMembers(
      df, textCol, idCol, k, parts)
    // winner per duplicated gram = min (id, pos) — a window over the
    // dup mass only (members, not the corpus), no join-back
    val wG = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val losing = members
      .withColumn("_w", min(struct(col(idCol), col("pos"))).over(wG))
      .where(!(col(idCol) === col(s"_w.$idCol") && col("pos") === col("_w.pos")))
    val covered = graft.ops.Iterate.materialize(losing
      .select(col(idCol), col("pos").as("_sp"))
      .select(col(idCol), explode(expr(s"sequence(_sp, _sp + ${k - 1})")).as("pos"))).df
    sorted.release() // members fully consumed into the covered checkpoint
    rebuildWithoutCovered(df, textCol, idCol, covered)
  }

  /** The k-bounded suffix array compressed to its equality-class summary
    * — one row per DISTINCT k-gram: (gram, w_id, w_pos, dup), where
    * (w_id, w_pos) is the gram's first occurrence (min (id, pos)) and
    * `dup` marks ≥ 2 occurrences. This summary is LOSSLESS for span
    * dedup: the bounded build only ever reads runs (= equal-first-k-token
    * classes — the run ⟺ equality-class proof at
    * [[graft.ops.SuffixArray.boundedRunMembers]]), and a run's entire
    * effect on the output is determined by its winner and whether it has
    * ≥ 2 members. It is therefore the STATE an append-only deploy
    * persists between batches (bucketed by gram, so
    * [[dedupSpansSaIncremental]]'s gram joins prune to touched buckets);
    * size is O(distinct grams), and the build is one partial-aggregable
    * hash aggregation — never the corpus-sorting SA topology.
    */
  def spanGramIndex(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 5): DataFrame =
    df.select(col(idCol),
        posexplode(call_function("word_grams", col(textCol), lit(k)))
          .as(Seq("gpos", "gram")))
      .select(col(idCol), col("gpos").cast("long").as("gpos"), col("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("_c"), min(struct(col(idCol), col("gpos"))).as("_m"))
      .select(col("gram"), col("_m").getField(idCol).as("w_id"),
        col("_m.gpos").as("w_pos"), (col("_c") >= 2).as("dup"))

  /** Covered (id, pos) token positions of a corpus under the span-dedup
    * winner rule — the other half of the persisted incremental state
    * (equivalently recoverable from the stored clean output; exposed so
    * a deploy can persist it directly). NOT distinct'd, same contract as
    * the internal covered sets.
    */
  def spanCovered(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 5): DataFrame = {
    val grams = df.select(col(idCol),
        posexplode(call_function("word_grams", col(textCol), lit(k)))
          .as(Seq("gpos", "gram")))
      .select(col(idCol), col("gpos").cast("long").as("gpos"), col("gram"))
    val firsts = grams.groupBy("gram")
      .agg(count(lit(1)).as("_c"), min(struct(col(idCol), col("gpos"))).as("_m"))
      .where(col("_c") >= 2)
      .select(col("gram"), col("_m").getField(idCol).as("_mid"),
        col("_m.gpos").as("_mpos"))
    grams.join(firsts, "gram")
      .where(!(col(idCol) === col("_mid") && col("gpos") === col("_mpos")))
      .select(col(idCol), explode(expr(s"sequence(gpos, gpos + ${k - 1})")).as("pos"))
  }

  /** Warm-start span dedup for an append-only corpus — the incremental
    * twin of [[dedupSpansSa]] (VERDICT r14 #5). A batch append never
    * re-sorts the stored corpus's suffixes: the prior corpus is
    * represented by its persisted state — [[spanGramIndex]] (the
    * k-bounded SA's run summary) plus [[spanCovered]] (its covered
    * positions) — and the batch merges against the index with ONE
    * gram-keyed equi-join over the batch's grams only.
    *
    * Union semantics, derived exactly (the oracle IS the full recompute
    * — `dedup_spans_sa_incremental` hash-equals `dedupSpansSa` over the
    * unioned corpus, the connectedComponentsIncremental soundness
    * pattern):
    *   - a batch gram also present in the index (any multiplicity) or
    *     appearing ≥ 2 times in the batch is duplicated in the union;
    *   - the union winner is min(prior winner, batch min) — computed,
    *     not assumed, so batches with out-of-order ids stay correct;
    *   - batch occurrences of duplicated grams lose unless they ARE the
    *     union winner; a PRIOR winner loses (its k positions join the
    *     covered set — the only way an old doc's output changes) iff
    *     the batch min undercuts it; prior non-winner occurrences were
    *     already covered and stay covered — appends never uncover.
    *
    * Cost: O(batch grams) aggregation + one join against the index on
    * gram + the rebuild of touched docs. The stored corpus is scanned
    * only to re-emit output rows (and a deploy that stores the prior
    * clean output joins the delta instead); nothing old is re-sorted.
    */
  def dedupSpansSaIncremental(stored: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, k: Int,
      priorIndex: DataFrame, priorCovered: DataFrame): DataFrame =
    dedupSpansSaIncrementalWithState(stored, batch, textCol, idCol, k,
      priorIndex, priorCovered).cleaned

  /** Cleaned output PLUS the next round's persisted state — the full
    * production contract of an append (advice r15): a caller that only
    * got the cleaned rows had to hand-roll the index merge or rescan the
    * stored corpus with [[spanGramIndex]] to stay incremental.
    * `nextIndex` / `nextCovered` are exactly what the next append passes
    * as `priorIndex` / `priorCovered`, both computed in O(batch grams)
    * on top of the prior state (`nextCovered` is the materialized union
    * coverage the rebuild itself consumes — no extra job).
    */
  final case class SpanIncrementalResult(cleaned: DataFrame,
      nextIndex: DataFrame, nextCovered: DataFrame)

  def dedupSpansSaIncrementalWithState(stored: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, k: Int,
      priorIndex: DataFrame, priorCovered: DataFrame): SpanIncrementalResult = {
    val bg = batchGramRows(batch, textCol, idCol, k)
    val newCovered = spanNewCoveredFromGrams(bg, idCol, k, priorIndex)
    // union coverage, materialized once — rebuildWithoutCovered consumes
    // it twice (touched-doc set + kept-token marker join), and it doubles
    // as the next round's covered state
    val covered = graft.ops.Iterate.materialize(
      priorCovered.select(col(idCol), col("pos")).unionByName(newCovered)).df
    val union = stored.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    SpanIncrementalResult(
      cleaned = rebuildWithoutCovered(union, textCol, idCol, covered),
      nextIndex = spanIndexMerge(priorIndex,
        spanGramIndex(batch, textCol, idCol, k), idCol),
      nextCovered = covered)
  }

  /** Merge a prior [[spanGramIndex]] with a BATCH's index (the batch's
    * own [[spanGramIndex]]) into the union corpus's index — row-equal to
    * `spanGramIndex(stored ∪ batch)` (OpsSpec pins this), at one
    * gram-keyed merge instead of a corpus rescan. Winner is the min
    * (id, pos) across both sides; a gram is `dup` if either side says so
    * or it appears on both. Scale shape: with the stored index BUCKETED
    * BY GRAM the merge is a per-bucket join that leaves the stored side
    * unshuffled, and only buckets containing batch grams change — a
    * deploy overwrites touched buckets and retains the rest.
    */
  def spanIndexMerge(priorIndex: DataFrame, batchIndex: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    priorIndex
      .join(batchIndex.select(col("gram"), col("w_id").as("_bid"),
        col("w_pos").as("_bpos"), col("dup").as("_bdup")), Seq("gram"), "full")
      .select(col("gram"),
        when(col("w_id").isNull, struct(col("_bid").as("w_id"), col("_bpos").as("w_pos")))
          .when(col("_bid").isNull, struct(col("w_id"), col("w_pos")))
          .otherwise(least(struct(col("w_id"), col("w_pos")),
            struct(col("_bid").as("w_id"), col("_bpos").as("w_pos")))).as("_w"),
        (coalesce(col("dup"), lit(false)) || coalesce(col("_bdup"), lit(false)) ||
          (col("w_id").isNotNull && col("_bid").isNotNull)).as("dup"))
      .select(col("gram"), col("_w.w_id").as("w_id"),
        col("_w.w_pos").as("w_pos"), col("dup"))

  /** The k-gram OCCURRENCE table `(gram, id, gpos)` — the retraction-
    * capable persisted state. [[spanGramIndex]] (winner + dup per gram)
    * is its lossless summary for APPENDS, but a removal can dethrone a
    * winner whose successor the summary never stored — so a deploy that
    * must honor takedowns persists the occurrences themselves, BUCKETED
    * BY GRAM (the retract joins then prune to touched buckets). Size is
    * O(total grams) — the same order as the corpus — and the index stays
    * derivable via [[spanIndexFromOccurrences]], so append batches keep
    * their O(batch) path.
    */
  def spanOccurrences(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 5): DataFrame =
    batchGramRows(df, textCol, idCol, k)
      .select(col("gram"), col(idCol), col("gpos"))

  /** [[spanGramIndex]] recomputed from an occurrence table — one
    * partial-aggregable pass; lets a retract-capable deploy (which
    * stores occurrences) hand [[dedupSpansSaIncremental]] its
    * `priorIndex` without touching the raw corpus.
    */
  def spanIndexFromOccurrences(occ: DataFrame, idCol: String = "doc_id"): DataFrame =
    occ.groupBy("gram")
      .agg(count(lit(1)).as("_c"), min(struct(col(idCol), col("gpos"))).as("_m"))
      .select(col("gram"), col("_m").getField(idCol).as("w_id"),
        col("_m.gpos").as("w_pos"), (col("_c") >= 2).as("dup"))

  /** Cleaned output plus next-round state after RETRACTING documents —
    * the GDPR-takedown twin of [[dedupSpansSaIncrementalWithState]].
    * Removal is the harder direction: grams can become UNIQUE again
    * (their surviving docs regain text — appends never uncover), and a
    * removed winner dethrones to a successor the run summary never
    * stored, hence the occurrence-table state.
    *
    * Derivation, O(removed + touched-docs' grams) against the gram-
    * bucketed occurrence table:
    *   - affected grams = grams the removed docs carried (the only grams
    *     whose count/winner can change);
    *   - touched docs = surviving docs holding an affected gram — the
    *     only docs whose coverage can change;
    *   - their coverage is RECOMPUTED from the surviving occurrences of
    *     their gram set (bucket-pruned probes; a gram's winner/dup comes
    *     from ALL surviving occurrences, not just touched docs');
    *   - everyone else's covered rows carry over; removed docs' rows drop.
    *
    * The one non-pruned step is finding the removed docs' grams — an
    * id-predicate scan of the gram-bucketed table (column-pruned;
    * a deploy retracting often keeps a second id-bucketed copy).
    * Oracle-proved: `dedup_retract` hash-equals the full recompute over
    * the surviving corpus.
    */
  final case class SpanRetractResult(cleaned: DataFrame,
      nextOcc: DataFrame, nextCovered: DataFrame)

  def dedupSpansSaRetractWithState(stored: DataFrame, removeIds: DataFrame,
      textCol: String, idCol: String, k: Int,
      priorOcc: DataFrame, priorCovered: DataFrame): SpanRetractResult = {
    val rem = removeIds.select(col(idCol)).distinct()
    // re-select to the canonical (gram, id, gpos) order — the USING join
    // fronts the key column, and nextOcc is persisted state whose layout
    // must match spanOccurrences
    val occNext = priorOcc.join(broadcast(rem), Seq(idCol), "left_anti")
      .select(col("gram"), col(idCol), col("gpos"))
    val removedGrams = priorOcc.join(broadcast(rem), Seq(idCol), "left_semi")
      .select(col("gram")).distinct()
    val touched = graft.ops.Iterate.materialize(
      occNext.join(removedGrams, Seq("gram"), "left_semi")
        .select(col(idCol)).distinct())
    // every gram of every touched doc (coverage is a union over ALL the
    // doc's grams, so a per-doc rebuild needs the full set)
    val tg = occNext.join(broadcast(touched.df), Seq(idCol))
    val g2 = tg.select(col("gram")).distinct()
    val idx2 = occNext.join(g2, Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(count(lit(1)).as("_c"), min(struct(col(idCol), col("gpos"))).as("_m"))
    val coveredTouched = tg
      .join(idx2.where(col("_c") >= 2)
        .select(col("gram"), col("_m").getField(idCol).as("_mid"),
          col("_m.gpos").as("_mpos")), Seq("gram"))
      .where(!(col(idCol) === col("_mid") && col("gpos") === col("_mpos")))
      .select(col(idCol), explode(expr(s"sequence(gpos, gpos + ${k - 1})")).as("pos"))
    val coveredNext = graft.ops.Iterate.materialize(
      priorCovered.select(col(idCol), col("pos"))
        .join(broadcast(rem), Seq(idCol), "left_anti")
        .join(broadcast(touched.df), Seq(idCol), "left_anti")
        .unionByName(coveredTouched))
    touched.release()
    val remaining = stored.select(col(idCol), col(textCol))
      .join(broadcast(rem), Seq(idCol), "left_anti")
    SpanRetractResult(
      cleaned = rebuildWithoutCovered(remaining, textCol, idCol, coveredNext.df),
      nextOcc = occNext,
      nextCovered = coveredNext.df)
  }

  def dedupSpansSaRetract(stored: DataFrame, removeIds: DataFrame,
      textCol: String, idCol: String, k: Int,
      priorOcc: DataFrame, priorCovered: DataFrame): DataFrame =
    dedupSpansSaRetractWithState(stored, removeIds, textCol, idCol, k,
      priorOcc, priorCovered).cleaned

  private def batchGramRows(batch: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    batch.select(col(idCol),
        posexplode(call_function("word_grams", col(textCol), lit(k)))
          .as(Seq("gpos", "gram")))
      .select(col(idCol), col("gpos").cast("long").as("gpos"), col("gram"))

  /** The coverage DELTA an append adds: batch occurrences of
    * union-duplicated grams that lose to the union winner, plus
    * dethroned prior winners (the single way an OLD doc gains coverage).
    * O(batch grams) against the gram-keyed prior index.
    */
  private def spanNewCoveredFromGrams(bg: DataFrame, idCol: String, k: Int,
      priorIndex: DataFrame): DataFrame = {
    // per-gram batch summary: one partial-aggregable pass over the batch
    val bsum = bg.groupBy("gram")
      .agg(count(lit(1)).as("_bc"), min(struct(col(idCol), col("gpos"))).as("_bm"))
    // merge with the prior index FOR BATCH GRAMS ONLY (left join on the
    // gram key — a bucketed index serves this as a pruned probe)
    val merged = bsum.join(priorIndex, Seq("gram"), "left")
      .select(col("gram"), col("_bc"), col("_bm"),
        col("w_id"), col("w_pos"),
        // union winner: min of prior winner and batch min
        when(col("w_id").isNull, col("_bm"))
          .otherwise(least(struct(col("w_id").as(idCol),
            col("w_pos").as("gpos")), col("_bm"))).as("_uw"),
        // union-duplicated: prior presence (≥1 + batch ≥1) or in-batch dup
        (col("w_id").isNotNull || col("_bc") >= 2).as("_udup"))
    val dupGrams = merged.where(col("_udup"))
      .select(col("gram"), col("_uw").getField(idCol).as("_uid"),
        col("_uw.gpos").as("_upos"), col("w_id"), col("w_pos"))
    // batch losers: occurrences of union-duplicated grams that are not
    // the union winner
    val batchLosers = bg.join(dupGrams.select("gram", "_uid", "_upos"), "gram")
      .where(!(col(idCol) === col("_uid") && col("gpos") === col("_upos")))
      .select(col(idCol), col("gpos"))
    // dethroned prior winners: the single way an OLD doc gains coverage
    val oldLosers = dupGrams
      .where(col("w_id").isNotNull &&
        !(col("w_id") === col("_uid") && col("w_pos") === col("_upos")))
      .select(col("w_id").as(idCol), col("w_pos").as("gpos"))
    batchLosers.unionByName(oldLosers)
      .select(col(idCol), explode(expr(s"sequence(gpos, gpos + ${k - 1})")).as("pos"))
  }

  /** Shared rebuild tail of the span-dedup family: drop every covered
    * (id, pos) token and re-join the survivors per doc. Only TOUCHED
    * docs pay the token explode and regroup (wide collect_list shuffle +
    * per-doc array_sort); untouched docs — the overwhelming majority of
    * a real corpus — pass through verbatim, since split-on-' ' joined
    * with ' ' reconstitutes the original text exactly. The semi-join
    * runs BEFORE posexplode (a semi-join can't push through a Generate,
    * so filtering the doc rows first keeps the untouched majority from
    * ever exploding). Coverage is a LEFT-join marker over the
    * per-(id, pos) distinct of `covered` (the marker join must not
    * multiply token rows) with CASE-gated aggregates, so `rebuilt` emits
    * one row for EVERY touched doc — fully-covered docs keep n_kept = 0
    * / clean_text = '' — and the result is one left join, not a
    * three-branch union re-deriving `touched` per branch. The .tok
    * field-extract on the sorted struct array is a codegen'd
    * GetArrayStructFields — no interpreted per-token lambda. `covered`
    * must be cheap to consume twice (both callers materialize it — the
    * dup mass, O(duplicated-span positions)).
    */
  private def rebuildWithoutCovered(df: DataFrame, textCol: String,
      idCol: String, covered: DataFrame): DataFrame = {
    val touched = covered.select(col(idCol)).distinct()
    val touchedToks = df.select(col(idCol), col(textCol))
      .join(touched, Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("tok"))
    val rebuilt = touchedToks
      .join(covered.distinct().withColumn("_cov", lit(1)),
        Seq(idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(count(when(col("_cov").isNull, 1)).as("n_kept"),
        array_join(expr(
          "array_sort(collect_list(CASE WHEN _cov IS NULL THEN struct(pos, tok) END)).tok"),
          " ").as("clean_text"))
    df.select(col(idCol), col(textCol),
        size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tok"),
        coalesce(col("n_kept"), col("n_tok")).as("n_kept"),
        coalesce(col("clean_text"), col(textCol)).as("clean_text"))
  }

  /** Boundary-stitch dedup candidates: ordered pairs (a, b) where doc a's
    * LAST k tokens equal doc b's FIRST k tokens — the crawl/shard
    * artifact where one logical document was split and re-ingested with
    * an overlapping boundary. One boundary gram per doc per side (never a
    * pair space); a df-cap on each side keeps boilerplate
    * openings/closings (the hot keys) out of the join entirely, the same
    * discipline as [[ngramCandidates]]' dfCap. Joined on the exact gram
    * STRING — no hash, no false positives. Docs with fewer than k tokens
    * are never candidates. Output: (id_a, id_b, boundary).
    */
  def stitchCandidates(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, cap: Int = 100): DataFrame = {
    val ws = split(col(textCol), " ")
    // LAZY persist: four consumers (tails, heads, both cap tables) would
    // otherwise each re-scan the text column — at corpus scale that is
    // 4x the IO for a projection a fraction of the text's size. A lazy
    // persist (not Iterate.materialize) keeps the op lazy at call time and
    // gives the cache a sweepable lifetime: it fills during the caller's
    // first action and is reclaimed by GraftSession.releaseAll / session
    // clearCache — a dropped Materialized handle would pin checkpoint
    // storage until ContextCleaner GC with no deterministic release.
    val d = df.where(size(ws) >= k).select(
        col(idCol),
        array_join(slice(ws, 1, k), " ").as("head_g"),
        // negative start = k-from-the-end (same as DuckDB's len-k+1 slice)
        array_join(slice(ws, -k, k), " ").as("tail_g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tails = d.select(col(idCol).as("id_a"), col("tail_g").as("g"))
    val heads = d.select(col(idCol).as("id_b"), col("head_g").as("g"))
    val tailOk = tails.groupBy("g").agg(count(lit(1)).as("_ct"))
      .where(col("_ct") <= cap).select("g")
    val headOk = heads.groupBy("g").agg(count(lit(1)).as("_ch"))
      .where(col("_ch") <= cap).select("g")
    tails.join(tailOk, "g").join(headOk, "g")
      .join(heads, "g")
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("g").as("boundary"))
  }

  def keepBest(clustered: DataFrame, clusterCol: String, idCol: String,
               qualityCol: String): DataFrame =
    clustered.groupBy(col(clusterCol))
      .agg(max_by(struct(col(idCol), col(qualityCol)),
        struct(col(qualityCol), (-col(idCol)).as("_nid"))).as("_k"))
      .select(col(clusterCol), col(s"_k.$idCol").as("keep_id"),
        col(s"_k.$qualityCol"))
}

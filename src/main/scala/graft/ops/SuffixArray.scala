package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix array over a tokenized document corpus — the exact
  * backbone of suffix-based substring dedup (Lee et al. '22 build one to
  * find duplicated spans; [[Dedup.dedupSpans]] is the k-gram
  * approximation of that pipeline, and this op closes the remaining
  * named-algorithm gap exactly).
  *
  * Construction is Manber–Myers prefix doubling (1990), the standard
  * distributed/external-memory SA skeleton (pSAC, Flick & Aluru '15):
  * suffixes are ranked by their length-h prefix, and one round turns h
  * into 2h by re-ranking on the pair `(rank(p), rank(p + h))`.
  *
  * Ranking topology (round 14 — the seconds at sf0.1 were NOT in the
  * doubling rounds, which never even fire on a corpus whose longest doc
  * fits the seed, but in the per-ranking constant: checkpoint + a
  * window whose `_pid` clustering Spark cannot prove, forcing a phantom
  * hash exchange + a grpKeys groupBy + a join-back — five exchanges and
  * two checkpoints per ranking). A ranking is now ONE range exchange
  * with an in-partition sort, checkpointed with a
  * `monotonically_increasing_id` column assigned in sorted order; a
  * collected per-partition `(min id, row count)` table — at most
  * `parts` rows, a counters-class driver value — turns the per-partition
  * ids into global row numbers as a PURE EXPRESSION (`_mid + adj[pid]`,
  * a literal map lookup: no window, no broadcast join, no second
  * exchange). Only the mid's monotonicity WITHIN a partition scan is
  * relied on, not its bit layout. Group ranks (doubling path only) take
  * one further hash-partitioned window on the group keys — the single
  * exchange that replaces the old groupBy + join-back pair.
  *
  * Suffixes are PER DOCUMENT (no corpus concatenation, so no sentinel
  * tokens): suffix (id, pos) = tokens[pos..end]. Identical suffixes
  * (full duplicates) tie forever and are broken (id, pos) in the emitted
  * row_number. The seed ranking uses the space-joined length-
  * `startPrefix` token slice as its sort key — for a single-space-
  * tokenized corpus (this engine's text contract), string order of the
  * joined slice equals token-sequence order (space sorts below every
  * printable character), which is also what lets a SQL oracle reproduce
  * the order with a plain ORDER BY over suffix strings. The seed length
  * defaults to ADAPTIVE ([[AdaptiveSeed]]): a one-pass max-doc-length
  * probe picks the smallest power of two covering the longest document
  * (up to [[AdaptiveSeedCap]]). When the probe shows the seed covers
  * the longest document, the seed ranking IS the suffix array — the
  * build degenerates to the single sorted ranking above, with no group
  * machinery at all (convergence holds a priori: every suffix is fully
  * ordered by its seed key). When the cap binds — rounds inevitable —
  * the seed drops to the SHORT [[BoundSeed]] instead (measured: a
  * cap-length key fattens the corpus-wide seed exchange for only log₂
  * fewer narrow rounds); rounds-to-fixpoint is then
  * log2(longestRepeatedPrefix / seed) + 1 — corpus size affects round
  * WIDTH (keyed join + range exchange, parallel at any size), never
  * round COUNT.
  *
  * `refineTo` bounds rank refinement at a prefix length: the build stops
  * once suffixes are ordered by their first `refineTo` tokens, leaving
  * ties beyond that broken by (id, pos) instead of by further tokens.
  * Sound for any consumer whose downstream test depends only on
  * ≥/<-refineTo-token prefix equality — [[Dedup.dedupSpansSa]]'s
  * `lcp >= k` threshold with `cap = k ≤ refineTo` is the canonical one
  * (proof at the call site) — and turns the build into a single bounded
  * ranking whose shuffle payload is O(suffixes × refineTo) instead of
  * O(suffixes × longest-doc).
  *
  * Output: one row per suffix — (idCol, pos, sa_rank), sa_rank the
  * 1-based position in (suffix, id, pos) order (first `refineTo` tokens
  * of the suffix when bounded).
  */
object SuffixArray {

  /** One materialized sorted ranking: range-partition `in` on `keys`,
    * sort within partitions, checkpoint with a per-row `_mid`
    * (monotonically increasing within each partition's sorted scan) and
    * the partition id `_pp` STORED alongside the projected `carry`
    * columns. Global row number = `_mid + adj[_pp]` where `adj` is the
    * collected per-partition adjustment — returned as a frame with `rn`
    * attached, plus the Materialized handle to release.
    *
    * `_pp` must be materialized, not re-derived: `spark_partition_id()`
    * reads the live task partition index, so a lazy rn projection keyed
    * on it would silently mis-rank (or null-rank) under any consumer
    * plan that remaps task indices before its first exchange —
    * `coalesce()`, or a union where this frame is a non-first child.
    * With `_pp` stored in the checkpoint the rn expression is a pure
    * function of row data and is correct under ANY downstream plan.
    */
  private[ops] def sortedRanking(in: DataFrame, keys: Seq[Column],
                                 carry: Seq[Column], parts: Int)
      : (Iterate.Materialized, DataFrame) = {
    val sorted = Iterate.materialize(
      in.repartitionByRange(parts, keys: _*)
        .sortWithinPartitions(keys: _*)
        .select(carry ++ Seq(monotonically_increasing_id().as("_mid"),
          spark_partition_id().as("_pp")): _*))
    // per-partition (min mid, count): ≤ `parts` rows, a counters-class
    // driver value — partition order IS key order under range
    // partitioning, so cumulative counts in _pp order are the offsets
    val info = sorted.df
      .groupBy("_pp")
      .agg(min("_mid").as("_m0"), count(lit(1)).as("_c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (info.isEmpty)
      return (sorted, sorted.df.withColumn("rn", lit(0L)).drop("_pp"))
    // rn = _mid - minMid[pid] + offset[pid] + 1  =  _mid + adj[pid]
    val adj = {
      var off = 0L
      info.map { case (pid, m0, c) =>
        val a = off + 1L - m0; off += c; (pid, a)
      }
    }
    val adjExpr = element_at(
      map(adj.flatMap { case (p, a) => Seq(lit(p), lit(a)) }: _*),
      col("_pp"))
    (sorted, sorted.df.withColumn("rn", col("_mid") + adjExpr).drop("_pp"))
  }

  /** One row per suffix: (_id, pos, _p0 = the space-joined first
    * `sliceLen` tokens, [_rem = suffix token length]) — the shared
    * projection under [[build]], [[boundedRunMembers]], and
    * [[neighborLcps]].
    */
  private def suffixes(df: DataFrame, textCol: String, idCol: String,
                       sliceLen: Int, withRem: Boolean): DataFrame = {
    val base = df
      .select(col(idCol).as("_id"), split(col(textCol), " ").as("_ws"))
      .select(col("_id"), col("_ws"),
        explode(expr("sequence(0, size(_ws) - 1)")).as("_p"))
    val cols = Seq(col("_id"), col("_p").cast("long").as("pos"),
      array_join(expr(s"slice(_ws, _p + 1, $sliceLen)"), " ").as("_p0")) ++
      (if (withRem) Seq((size(col("_ws")).cast("long") - col("_p")).as("_rem"))
       else Seq.empty)
    base.select(cols: _*)
  }

  /** One doubling-path ranking round over the 4-long-column state:
    * [[sortedRanking]] for global row numbers, then ONE hash-partitioned
    * window on `grpKeys` for the group rank (min rn), group size, and
    * group max remaining length, materialized as the next round's state
    * (5 long columns). The state's own materializing action fills an
    * observation carrying Σgroup-rank, Σrow-number, an unresolved count,
    * and (when `prevRank` is set) Σprevious-rank — the sums that decide
    * convergence without any extra job:
    *   - Σg == Σprev  ⟺ no group split this round ⟺ E_2h = E_h, the
    *     fixpoint (sums strictly increase on any split: the later
    *     fragment's min row number exceeds the group's);
    *   - Σg == Σrn    ⟺ every group is a singleton — fully resolved,
    *     no future round can change anything;
    *   - unresolved == 0 ⟺ every multi-member group's LONGEST suffix
    *     fits inside the currently resolved prefix (`resolvedLen`, the
    *     `_rem` column carries each suffix's token length): members
    *     share a resolvedLen-prefix, so length ≤ resolvedLen makes the
    *     shared prefix the WHOLE suffix — the group is an
    *     identical-suffix class and can never split. This criterion
    *     retires the otherwise-mandatory no-split CONFIRMATION round:
    *     the fixpoint test needs a round *after* the last split to
    *     observe Σg == Σprev, while this one fires on the converging
    *     round itself (full-duplicate docs keep ties forever, so the
    *     singleton test alone never fires on real corpora).
    */
  private def rankRound(in: DataFrame, keys: Seq[Column], grpKeys: Seq[String],
                        parts: Int, obsName: String, prevRank: Option[String],
                        resolvedLen: Long)
      : (Iterate.Materialized, Long, Option[Long], Long, Long) = {
    val carry = (Seq("_id", "pos", "_rem") ++ grpKeys).distinct.map(col) ++
      prevRank.filterNot(grpKeys.contains).map(col).toSeq
    val (sorted, rn) = sortedRanking(in, keys, carry, parts)
    val wg = Window.partitionBy(grpKeys.map(col): _*)
    val st = rn
      .withColumn("_g", min("rn").over(wg))
      .withColumn("_n", count(lit(1)).over(wg))
      .withColumn("_gmax", max("_rem").over(wg))
    val obs = new Observation(obsName)
    val metrics = Seq(
      coalesce(sum("_g"), lit(0L)).as("s"),
      coalesce(sum("rn"), lit(0L)).as("srn"),
      coalesce(sum(when(col("_n") > 1L && col("_gmax") > resolvedLen, 1L)),
        lit(0L)).as("unresolved")) ++
      prevRank.map(c => coalesce(sum(col(c)), lit(0L)).as("sprev"))
    val state = Iterate.materialize(
      st.observe(obs, metrics.head, metrics.tail: _*)
        .select(col("_id"), col("pos"), col("_g").as("_r"), col("rn"),
          col("_rem")))
    sorted.release()
    (state,
      obs.get("s").asInstanceOf[Long],
      prevRank.map(_ => obs.get("sprev").asInstanceOf[Long]),
      obs.get("srn").asInstanceOf[Long],
      obs.get("unresolved").asInstanceOf[Long])
  }

  /** Duplicated-run MEMBERS of the k-bounded suffix array — the Lee et
    * al. '22 extraction (adjacent suffixes in SA order sharing ≥ k
    * tokens mark a duplicated span) read structurally off the sorted
    * ranking, one row per member suffix: (idCol, pos, gram).
    *
    * The bounded build sorts suffixes by their first-k-token key, so a
    * maximal run of neighbor-LCP ≥ k IS a contiguous block of equal
    * keys (capped LCP reaches k iff both neighbors carry the same
    * full-k-token key — a key of fewer than k tokens is the whole
    * suffix, capping the LCP below k). Membership is therefore decided
    * per row from its SORTED neighbors: `lag`/`lead` of the key within
    * the range partition (one narrow hash exchange on the partition id
    * — nothing resembling the old slice-join + rank self-join), with
    * partition-boundary neighbors supplied as literal maps from the
    * per-partition first/last rows (≤ `parts` entries, collected with
    * the offset info — a counters-class driver value). Runs are
    * homogeneous in key length (equal keys ⟹ equal token count), so
    * `_rem >= k` on both sides is the only other test.
    *
    * Returns the member frame (lazy over the sorted checkpoint) plus
    * the checkpoint handle — the caller releases it once members are
    * consumed.
    */
  /** Scale-adaptive default for the ranking width: `parts = 0` (the
    * public defaults) derives it from `spark.sql.shuffle.partitions` —
    * the knob a cluster deploy already sizes to its data volume, with
    * AQE coalescing the tail. Local sessions set it to the core count
    * (GraftSession: 32), so local plans are bit-identical to the former
    * hard-coded 32; on a real deploy the rankings now scale with the
    * configured shuffle width instead of being pinned to a local-mode
    * constant (optimization guide §2 — scale-adaptive partitioning).
    * Results are partitioning-independent by construction (the global
    * row number is exact for any width), so this is cost-only.
    */
  private[ops] def defaultParts(df: DataFrame, parts: Int): Int =
    if (parts > 0) parts
    else df.sparkSession.sessionState.conf.numShufflePartitions

  private[ops] def boundedRunMembers(df: DataFrame, textCol: String,
      idCol: String, k: Int, parts: Int = 0)
      : (Iterate.Materialized, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nParts = defaultParts(df, parts)
    val sfx = suffixes(df, textCol, idCol, k, withRem = true)
    val keys = Seq(col("_p0"), col("_id"), col("pos"))
    val sorted = Iterate.materialize(
      sfx.repartitionByRange(nParts, keys: _*)
        .sortWithinPartitions(keys: _*)
        .select(col("_id"), col("pos"), col("_p0"), col("_rem"),
          monotonically_increasing_id().as("_mid")))
    // per-partition boundary rows ride the same collected info as the
    // offsets: (pid, first-row key/rem, last-row key/rem)
    val info = sorted.df
      .withColumn("_pp", spark_partition_id())
      .groupBy("_pp")
      .agg(min_by(struct(col("_p0"), col("_rem")), col("_mid")).as("_f"),
        max_by(struct(col("_p0"), col("_rem")), col("_mid")).as("_l"))
      .collect()
      .map(r => (r.getInt(0),
        (r.getStruct(1).getString(0), r.getStruct(1).getLong(1)),
        (r.getStruct(2).getString(0), r.getStruct(2).getLong(1))))
      .sortBy(_._1)
    val empty = sorted.df
      .select(col("_id").as(idCol), col("pos"), col("_p0").as("gram"))
      .where(lit(false))
    if (info.isEmpty) return (sorted, empty)
    // literal neighbor maps: partition p's missing lead is p+1's first
    // row; its missing lag is p-1's last row (dup-eligible only — a
    // boundary neighbor with _rem < k can never complete a ≥k match,
    // so ineligible entries are simply left out of the maps). Keyed on
    // the MATERIALIZED `_pp` column — these expressions evaluate after
    // the window exchange, where spark_partition_id() would name the
    // exchange's partitions, not the checkpoint's.
    def nbrMap(entries: Seq[(Int, String)]): Column =
      if (entries.isEmpty) lit(null).cast("string")
      else element_at(
        map(entries.flatMap { case (p, s) => Seq(lit(p), lit(s)) }: _*),
        col("_pp"))
    val nextOfLast = nbrMap(info.sliding(2).collect {
      case Array((p, _, _), (_, (fk, fr), _)) if fr >= k => (p, fk)
    }.toSeq)
    val prevOfFirst = nbrMap(info.sliding(2).collect {
      case Array((pPrev, _, (lk, lr)), (p, _, _)) if lr >= k => (p, lk)
    }.toSeq)
    val w = Window.partitionBy("_pp").orderBy("_mid")
    val kL = k.toLong
    val members = sorted.df
      .withColumn("_pp", spark_partition_id())
      .withColumn("_nk",
        when(lead(col("_rem"), 1).over(w) >= kL, lead(col("_p0"), 1).over(w)))
      .withColumn("_vk",
        when(lag(col("_rem"), 1).over(w) >= kL, lag(col("_p0"), 1).over(w)))
      .where(col("_rem") >= kL &&
        (col("_p0") === coalesce(col("_nk"), nextOfLast) ||
          col("_p0") === coalesce(col("_vk"), prevOfFirst)))
      .select(col("_id").as(idCol), col("pos"), col("_p0").as("gram"))
    (sorted, members)
  }

  /** Sentinel for [[build]]'s `startPrefix`: probe the corpus max
    * document token length (one cheap projection pass, an observe()
    * metric) and seed at the smallest power of two covering it, capped
    * at [[AdaptiveSeedCap]]. When the cap doesn't bind, the seed key
    * totally orders every suffix and the build is a single sorted
    * ranking — no doubling machinery at all.
    */
  val AdaptiveSeed: Int = -1

  /** Fast-path ceiling for the adaptive seed: up to this prefix length,
    * covering the longest document with the seed key is worth it — the
    * build collapses to ONE sorted ranking with no rounds at all (and
    * the key is the suffix itself, whose bytes any ranking must move
    * at least once anyway).
    */
  val AdaptiveSeedCap: Int = 256

  /** Seed length when the cap BINDS (docs longer than the fast-path
    * ceiling — rounds are inevitable): SHORT, not the cap. Paying a
    * cap-length key buys only log₂(cap/BoundSeed) fewer rounds, but
    * each avoided round is a narrow 5-long-column exchange while the
    * seed key fattens the whole corpus exchange by cap tokens/suffix.
    * Measured (NOTES.md "SA scale smoke", now ScaleCurveSmoke's
    * suffix_array_doubling row: 5M suffixes, 2100-token planted repeats):
    * seed 256 = 56.9 s, 64 = 38.6 s, 32 = 37.9 s, 16 = 42.2 s — flat
    * optimum around 32-64; 64 keeps one more round off skew-prone
    * corpora.
    */
  val BoundSeed: Int = 64

  def build(df: DataFrame, textCol: String, idCol: String,
            startPrefix: Int = AdaptiveSeed, parts: Int = 0,
            maxRounds: Int = 16, refineTo: Int = Int.MaxValue): DataFrame = {
    require(refineTo >= 1, s"refineTo must be >= 1, got $refineTo")
    val nParts = defaultParts(df, parts)
    val adaptive = startPrefix == AdaptiveSeed
    val maxLen: Option[Int] =
      if (!adaptive) None
      else {
        // one-column probe; max token count rides an observe() metric
        val obs = new Observation("sa_probe")
        df.select(size(split(col(textCol), " ")).as("_n"))
          .observe(obs, coalesce(max(col("_n")), lit(0)).as("mx"))
          .foreach(_ => ())
        Some(obs.get("mx").asInstanceOf[Int])
      }
    val seedLen = {
      val base =
        if (!adaptive) startPrefix
        else {
          val pow = math.max(java.lang.Integer.highestOneBit(
            math.max(maxLen.get, 1) * 2 - 1), 1)
          // cap binds ⇒ rounds are inevitable ⇒ seed SHORT (see BoundSeed)
          if (pow <= AdaptiveSeedCap) pow else BoundSeed
        }
      if (refineTo < base) refineTo else base
    }
    val sfx = suffixes(df, textCol, idCol, seedLen, withRem = true)
    val seedKeys = Seq(col("_p0"), col("_id"), col("pos"))
    // FAST PATH — the seed ranking is final, a priori, when (a) the seed
    // covers the longest document (probe-known: the seed key IS the full
    // suffix, totally ordered by (key, id, pos)), or (b) the seed reaches
    // the refinement bound. No group machinery, no convergence metrics,
    // no second checkpoint: one range exchange + in-partition sort +
    // expression-only rank assignment.
    if (maxLen.exists(m => seedLen >= m) || seedLen >= refineTo) {
      val (_, rn) = sortedRanking(sfx, seedKeys,
        Seq(col("_id"), col("pos")), nParts)
      return rn.select(col("_id").as(idCol), col("pos"),
        col("rn").as("sa_rank"))
    }
    var (state, s0, _, srn0, unres0) = rankRound(sfx, seedKeys, Seq("_p0"),
      nParts, "sa_seed", None, seedLen.toLong)
    var h = seedLen.toLong
    var round = 1
    // every seed prefix unique, every tied group already an
    // identical-suffix class (longest member fits inside the seed), or
    // the refinement bound reached by the seed itself
    var done = s0 == srn0 || unres0 == 0L || h >= refineTo
    while (!done && round <= maxRounds) {
      // suffix p extends with the rank of suffix p+h of the SAME doc; a
      // suffix shorter than h+1 tokens has no extension — rank 0 sorts
      // below every real rank (shorter-is-smaller, the prefix rule)
      val b = state.df.select(col("_id").as("_bid"), (col("pos") - h).as("_bpos"),
        col("_r").as("_r2"))
      val paired = state.df.join(b,
          col("_id") === col("_bid") && col("pos") === col("_bpos"), "left")
        .select(col("_id"), col("pos"), col("_r").as("_r1"),
          coalesce(col("_r2"), lit(0L)).as("_r2"), col("_rem"))
      val (next, sG, sPrev, sRn, unres) = rankRound(paired,
        Seq(col("_r1"), col("_r2"), col("_id"), col("pos")),
        Seq("_r1", "_r2"), nParts, s"sa_round_$round", Some("_r1"), h * 2)
      state.release() // consumed into the new round's checkpoint
      state = next
      h *= 2
      // fixpoint (no split), every group singleton, every remaining
      // group an identical-suffix class, or refinement bound reached —
      // all four are final
      done = sPrev.contains(sG) || sG == sRn || unres == 0L || h >= refineTo
      round += 1
    }
    // A silent exit here would return an UNDER-REFINED (wrong) ranking:
    // suffixes still sharing a length-h prefix would keep tied group
    // ranks that the next doubling round would have split. Reachable
    // with a small startPrefix or pathologically long repeats — fail
    // loudly instead of emitting a wrong suffix array.
    require(done,
      s"suffix array did not converge within maxRounds=$maxRounds " +
        s"(reached prefix length $h); raise maxRounds or startPrefix")
    // at the fixpoint rn = row_number over (suffix, id, pos): groups are
    // exactly the identical-suffix classes and rn breaks them by (id, pos)
    state.df.select(col("_id").as(idCol), col("pos"), col("rn").as("sa_rank"))
  }

  /** Neighbor LCPs in one fused pass: build-and-compare without the
    * separate [[build]] → [[lcpNeighbors]] slice-join + rank self-join
    * topology. When the corpus' longest document fits [[AdaptiveSeedCap]]
    * (probe-known), the sorted ranking's key IS the complete suffix, so
    * each consecutive pair is `lead()` within the range partition (one
    * narrow exchange) and the LCP is the codegen common-prefix loop over
    * the two keys — exact, no cap, no escalation. The ≤ parts−1
    * partition-boundary pairs are stitched on the driver from the
    * collected first/last rows (a counters-class value, like the rank
    * offsets). Long-doc corpora fall back to the general pipeline with
    * `fallbackCap` (escalation keeps it exact).
    *
    * Output matches [[lcpNeighbors]]: (idCol, pos, nbr_id, nbr_pos, lcp),
    * one row per consecutive SA pair (suffix count − 1 rows).
    *
    * STORAGE RETENTION (ADVICE r14): the returned frame reads a
    * checkpoint carrying full-suffix string keys — O(suffixes ×
    * longest-doc) bytes — whose handle cannot be released here (the
    * frame's own scan needs the files). It is reclaimed by
    * [[graft.ops.Iterate.releaseCheckpoint]](frame) once the caller has
    * fully consumed the result, by `GraftSession.releaseAll` between
    * harness queries, or with the checkpoint dir at session end. A
    * long-lived session making repeated library calls should release
    * explicitly — same contract as [[build]]'s fast path and
    * [[graft.ops.Rank.globalRowNumber]].
    */
  def neighborLcps(df: DataFrame, textCol: String, idCol: String,
                   parts: Int = 0, fallbackCap: Int = 128): DataFrame = {
    val spark = df.sparkSession
    val nParts = defaultParts(df, parts)
    val obs = new Observation()
    df.select(size(split(col(textCol), " ")).as("_n"))
      .observe(obs, coalesce(max(col("_n")), lit(0)).as("mx"))
      .foreach(_ => ())
    val maxLen = obs.get("mx").asInstanceOf[Int]
    if (maxLen > AdaptiveSeedCap) {
      // the probe already ran here — seed explicitly at what the adaptive
      // path would choose for a binding cap, so build skips its own probe
      val sa = build(df, textCol, idCol, startPrefix = BoundSeed,
        parts = parts)
      return lcpNeighbors(df, textCol, idCol, sa, cap = fallbackCap)
    }
    val seedLen = math.max(
      java.lang.Integer.highestOneBit(math.max(maxLen, 1) * 2 - 1), 1)
    val sfx = suffixes(df, textCol, idCol, seedLen, withRem = false)
    val keys = Seq(col("_p0"), col("_id"), col("pos"))
    val sorted = Iterate.materialize(
      sfx.repartitionByRange(nParts, keys: _*)
        .sortWithinPartitions(keys: _*)
        .select(col("_id"), col("pos"), col("_p0"),
          monotonically_increasing_id().as("_mid")))
    val info = sorted.df
      .withColumn("_pp", spark_partition_id())
      .groupBy("_pp")
      .agg(min("_mid").as("_m0"), max("_mid").as("_m1"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val emptyPairs = sorted.df.where(lit(false))
      .select(col("_id").as(idCol), col("pos"),
        col("_id").as("nbr_id"), col("pos").as("nbr_pos"),
        lit(0L).as("lcp"))
    if (info.isEmpty) return emptyPairs
    // within-partition pairs: lead() in sorted order
    val w = Window.partitionBy("_pp").orderBy("_mid")
    val inner = sorted.df
      .withColumn("_pp", spark_partition_id())
      .withColumn("_nid", lead(col("_id"), 1).over(w))
      .withColumn("_npos", lead(col("pos"), 1).over(w))
      .withColumn("_np0", lead(col("_p0"), 1).over(w))
      .where(col("_nid").isNotNull)
      .select(col("_id").as(idCol), col("pos"),
        col("_nid").as("nbr_id"), col("_npos").as("nbr_pos"),
        call_function("common_prefix_len",
          split(col("_p0"), " "), split(col("_np0"), " "))
          .cast("long").as("lcp"))
    // boundary pairs: last row of partition p with first row of the NEXT
    // nonempty partition. The pid→next-nonempty-pid chain is driver-known
    // (from `info`), so the pairing is a join of two ≤parts-row filtered
    // frames — never a driver collect of data values, which would pin the
    // id column to one runtime type (the r14 review's getLong bug: a
    // String- or Int-id corpus crashed the stitch)
    val stitched = info.sliding(2).collect {
      case Array((p, _, m1), (_, q0, _)) => (m1, q0)
    }.toSeq
    val boundary =
      if (stitched.isEmpty) emptyPairs
      else {
        val lastRows = sorted.df
          .where(col("_mid").isin(stitched.map(_._1): _*))
          .select(col("_mid"), col("_id").as(idCol), col("pos"), col("_p0"))
          // the successor's mid, as a literal map over ≤ parts-1 entries
          .withColumn("_nmid", element_at(
            map(stitched.flatMap { case (m1, q0) => Seq(lit(m1), lit(q0)) }: _*),
            col("_mid")))
        val firstRows = sorted.df
          .where(col("_mid").isin(stitched.map(_._2): _*))
          .select(col("_mid").as("_nmid"), col("_id").as("nbr_id"),
            col("pos").as("nbr_pos"), col("_p0").as("_np0"))
        lastRows.join(firstRows, "_nmid")
          .select(col(idCol), col("pos"), col("nbr_id"), col("nbr_pos"),
            call_function("common_prefix_len",
              split(col("_p0"), " "), split(col("_np0"), " "))
              .cast("long").as("lcp"))
      }
    inner.unionByName(boundary)
  }

  /** LCP between each suffix and its successor in suffix-array order —
    * one row per consecutive pair: (idCol, pos, nbr_id, nbr_pos, lcp).
    * The longest repeated substring in the corpus is the max-LCP pair
    * (a repeat's two occurrences are SA-adjacent at the maximum), and
    * duplicated spans of length ≥ L are exactly the SA runs with
    * neighbor LCP ≥ L — the Lee et al. extraction. The per-pair compare
    * is the native codegen [[graft.functions.CommonPrefixLen]] loop.
    *
    * Scale shape — capped compare with escalation, NOT full-array
    * replication: each SA row carries only its first `cap` suffix
    * tokens into the rank self-join, so the shuffle payload is
    * O(suffixes × cap) instead of O(suffixes × doc_len) (the r12 form
    * attached the COMPLETE document token array to BOTH sides of every
    * pair — O(corpus_tokens × mean_doc_len) at 100 TB). A capped
    * compare is exact unless BOTH suffixes extend past the cap and the
    * compare saturated; only those pairs — repeats ≥ cap tokens, a
    * vanishing fraction of any real corpus — escalate to a second join
    * against the full token arrays, resuming the compare at offset
    * `cap`. With `exact = false` the escalation is skipped and `lcp` is
    * min(true LCP, cap) — all a threshold test `lcp >= L` needs
    * whenever L ≤ cap.
    *
    * Eager: the pair table (narrow: ids, positions, three longs)
    * materializes once and feeds the exact/saturated split — left lazy,
    * both branches would re-run the slice join. Its checkpoint is
    * reclaimed with the result's lineage (session releaseAll / cleaner
    * GC), the [[Dedup.dedupSpansImpl]] discipline.
    */
  def lcpNeighbors(df: DataFrame, textCol: String, idCol: String,
                   sa: DataFrame, cap: Int = 128,
                   exact: Boolean = true): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val ws = df.select(col(idCol).as("_wid"), split(col(textCol), " ").as("_ws"))
    // lazy persist: the slice join feeds both sides of the rank self-join
    // below; the cache fills during the materializing job and is dropped
    // right after it
    val sliced = sa.join(ws, col(idCol) === col("_wid"))
      .select(col(idCol), col("pos"), col("sa_rank"),
        expr(s"slice(_ws, CAST(pos + 1 AS INT), $cap)").as("_sfx"),
        (size(col("_ws")).cast("long") - col("pos")).as("_rem"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nbr = sliced.select((col("sa_rank") - 1).as("_prev"),
      col(idCol).as("nbr_id"), col("pos").as("nbr_pos"),
      col("_sfx").as("_nsfx"), col("_rem").as("_nrem"))
    val base = Iterate.materialize(
      sliced.join(nbr, col("sa_rank") === col("_prev"))
        .select(col(idCol), col("pos"), col("nbr_id"), col("nbr_pos"),
          call_function("common_prefix_len", col("_sfx"), col("_nsfx"))
            .cast("long").as("_lcp0"),
          col("_rem"), col("_nrem")))
    sliced.unpersist()
    val saturated = col("_lcp0") === cap.toLong &&
      col("_rem") > cap.toLong && col("_nrem") > cap.toLong
    val outCols = Seq(col(idCol), col("pos"), col("nbr_id"), col("nbr_pos"))
    if (!exact)
      base.df.select(outCols :+ col("_lcp0").as("lcp"): _*)
    else {
      val done = base.df.where(!saturated)
        .select(outCols :+ col("_lcp0").as("lcp"): _*)
      val esc = base.df.where(saturated)
        .join(ws, col(idCol) === col("_wid"))
        .withColumnRenamed("_ws", "_wsa").drop("_wid")
        .join(ws, col("nbr_id") === col("_wid"))
        .select(outCols :+
          (lit(cap.toLong) + call_function("common_prefix_len",
            expr(s"slice(_wsa, CAST(pos + 1 + $cap AS INT), size(_wsa))"),
            expr(s"slice(_ws, CAST(nbr_pos + 1 + $cap AS INT), size(_ws))"))
            .cast("long")).as("lcp"): _*)
      done.unionByName(esc)
    }
  }
}

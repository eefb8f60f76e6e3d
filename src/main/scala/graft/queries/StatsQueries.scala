package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Dedup

import QueryHelpers.{minhashSigCte, t}

/** Profiles, approximate sketches, sampling, splits, shard layout and
  * statistical summaries.
  */
object StatsQueries {

  val all: Seq[Query] = Seq(

    Query("profile_orders", (s, dir) =>
      graft.ops.Profile.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_totalprice"))
        .orderBy("column"),
      oracle = """WITH s AS (SELECT count(*) AS total,
        |   count(o_custkey) AS c1, count(DISTINCT o_custkey) AS d1,
        |     CAST(min(o_custkey) AS VARCHAR) AS mn1, CAST(max(o_custkey) AS VARCHAR) AS mx1,
        |   count(o_orderstatus) AS c2, count(DISTINCT o_orderstatus) AS d2,
        |     CAST(min(o_orderstatus) AS VARCHAR) AS mn2, CAST(max(o_orderstatus) AS VARCHAR) AS mx2,
        |   count(o_totalprice) AS c3, count(DISTINCT o_totalprice) AS d3,
        |     CAST(min(o_totalprice) AS VARCHAR) AS mn3, CAST(max(o_totalprice) AS VARCHAR) AS mx3
        |   FROM orders)
        | SELECT 'o_custkey' AS "column", total - c1 AS n_null, d1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM s
        | UNION ALL
        | SELECT 'o_orderstatus', total - c2, d2, mn2, mx2 FROM s
        | UNION ALL
        | SELECT 'o_totalprice', total - c3, d3, mn3, mx3 FROM s
        | ORDER BY "column"""".stripMargin.replace("\n", " ")),

    // Fixed-width histogram: the 100 TB histogram moves only n_bins rows
    // per partition through the exchange (map-side combine).
    Query("profile_histogram", (s, dir) =>
      graft.ops.Profile.histogram(t(s, dir, "orders"), "o_totalprice", 1000.0)
        .orderBy("bin"),
      oracle = """SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin, count(*) AS cnt,
        |        min(o_totalprice) AS min_val, max(o_totalprice) AS max_val,
        |        round(sum(o_totalprice), 2) AS sum_r2
        | FROM orders GROUP BY 1 ORDER BY bin""".stripMargin.replace("\n", " ")),

    // ---- approximate sketches (Sketch): the oracle pins the exact value
    // and expects the within-tolerance flag to be 1, so an estimator
    // drifting out of its error bound hash-mismatches.

    // HLL++ distinct estimate (rsd 2%) vs exact, tolerance 3 sigma.
    Query("sketch_distinct", (s, dir) =>
      graft.ops.Sketch.approxDistinct(
          t(s, dir, "lineitem"), "l_orderkey", rsd = 0.02, tol = 0.06, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"), col("approx_ok"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct, 1 AS approx_ok
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    // Mergeable DataSketches HLL: sketch at (flag, status) grain, roll up
    // to flag by unioning sketches — no rescan — and check the rolled-up
    // estimate against the exact flag-level distinct.
    Query("sketch_hll_merge", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val profile = graft.ops.Sketch.hllProfile(
        li, "l_orderkey", lgK = 12, "l_returnflag", "l_linestatus")
      val rolled = graft.ops.Sketch.rollupDistinct(profile, "l_returnflag")
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_orderkey")).as("exact_distinct"))
      exact.join(rolled, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"),
          graft.ops.Sketch.withinTol(col("approx_distinct"), col("exact_distinct"), 0.05)
            .as("merge_ok"))
        .orderBy("l_returnflag")
    },
      oracle = """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct, 1 AS merge_ok
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    // Sequence packing into 512-token context windows, sharded by lang.
    Query("pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tok"))
      graft.ops.Pack.sequential(docs, "n_tok", "doc_id", "lang", ctxLen = 512)
        .orderBy("lang", "doc_id")
    },
      oracle = """WITH d AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
        | s AS (SELECT lang, doc_id, n_tok,
        |        coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
        |        FROM d)
        | SELECT lang, doc_id, n_tok, start_tok,
        |        (start_tok // 512)::BIGINT AS bin_id, (start_tok % 512)::BIGINT AS offset_in_bin
        | FROM s ORDER BY lang, doc_id""".stripMargin.replace("\n", " ")),

    // GK rank-sketch quantiles (accuracy 1000) vs the exact rank-based
    // percentiles of q24; 2% value tolerance.
    Query("sketch_quantiles", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // Exact side via Rank.groupRankPercentiles — the same
      // window-free value-count plan as q24_percentile (no per-flag
      // single-task sort anywhere in this query).
      val exact = graft.ops.Rank.groupRankPercentiles(
        li.select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice",
        Seq("median_price" -> 0.5, "p90_price" -> 0.9))
      val approx = graft.ops.Sketch.approxQuantiles(
          li, "l_extendedprice", Seq(0.5, 0.9), accuracy = 1000, "l_returnflag")
        .select(col("l_returnflag"),
          col("approx_q")(0).as("ap50"), col("approx_q")(1).as("ap90"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("median_price"), col("p90_price"),
          (graft.ops.Sketch.withinTol(col("ap50"), col("median_price"), 0.02) *
            graft.ops.Sketch.withinTol(col("ap90"), col("p90_price"), 0.02)).as("approx_ok"))
        .orderBy("l_returnflag")
    },
      oracle = """WITH r AS (
        |   SELECT l_returnflag, l_extendedprice,
        |          row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |          count(*) OVER (PARTITION BY l_returnflag) AS n
        |   FROM lineitem)
        | SELECT l_returnflag,
        |        max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS median_price,
        |        max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90_price,
        |        1 AS approx_ok
        | FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    // Two-pass EXACT heavy hitters (TopK scaladoc): per-partition
    // Misra-Gries candidates (narrow) → broadcast semi-join → one exact
    // aggregation over candidate rows; threshold in integer arithmetic.
    Query("sketch_frequent_items", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      graft.ops.TopK.frequentItems(toks, "term", k = 50)
        .withColumnRenamed("item", "term")
    },
      oracle = """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        | tt AS (SELECT term, count(*)::BIGINT AS cnt FROM tok WHERE term <> '' GROUP BY term),
        | n AS (SELECT count(*)::BIGINT AS n FROM tok WHERE term <> '')
        | SELECT term, cnt FROM tt, n WHERE cnt * 51 > n
        | ORDER BY cnt DESC, term""".stripMargin.replace("\n", " ")),

    // Equi-depth histogram riding on the scalable global rank: bucket =
    // (rn−1)·k div n — pure integer arithmetic on exact ranks, no
    // interpolated percentiles (which diverge across engines, NOTES.md
    // fact 2).
    Query("profile_equidepth", (s, dir) => {
      val ranked = graft.ops.Rank.globalRowNumber(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice"), col("o_orderkey")))
      val n = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .withColumn("bucket", expr("(rn - 1) * 10 div n + 1"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("bucket")
    },
      oracle = """WITH r AS (SELECT o_totalprice,
        |             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |             count(*) OVER () AS n FROM orders)
        | SELECT ((rn - 1) * 10 // n + 1)::BIGINT AS bucket, count(*) AS cnt,
        |        min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        | FROM r GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " ")),

    // Count-min sketch point estimates for the heavy terms: the oracle
    // pins exact counts and expects both error-bound flags to be 1 —
    // lower_ok (CMS never undercounts) must ALWAYS hold; upper_ok uses
    // the 3N/w integer bound (≥ eN/w), checked here on real data.
    Query("sketch_cms", (s, dir) => {
      // ONE tokenization pass: the exact per-term count table is the only
      // consumer of the raw token explode; the total and the CMS both
      // derive from it (counters are linear, so a weight-summed build is
      // bit-identical to the per-occurrence build — Sketch.cmsBuildWeighted).
      // `exact` is persisted because it feeds three downstream aggregates;
      // it is the DISTINCT-term frame (vocabulary-sized), not the corpus.
      val exact = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = exact.agg(sum("exact_cnt").as("n"))
      val heavy = exact.crossJoin(broadcast(tot))
        .where(col("exact_cnt") * 51 > col("n"))
      val cms = graft.ops.Sketch.cmsBuildWeighted(exact, "term", "exact_cnt",
        w = 16384, d = 4)
      val est = graft.ops.Sketch.cmsEstimate(cms, heavy.select("term"), "term",
        w = 16384, d = 4)
      heavy.join(est, "term")
        .select(col("term"), col("exact_cnt"),
          (col("cms_est") >= col("exact_cnt")).cast("int").as("lower_ok"),
          (col("cms_est") <= col("exact_cnt") + expr("3 * n div 16384"))
            .cast("int").as("upper_ok"))
        .orderBy("term")
    },
      oracle = """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT term FROM tok WHERE term <> ''),
        | tt AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM tnz GROUP BY term),
        | n AS (SELECT count(*)::BIGINT AS n FROM tnz)
        | SELECT term, exact_cnt, 1 AS lower_ok, 1 AS upper_ok
        | FROM tt, n WHERE exact_cnt * 51 > n ORDER BY term""".stripMargin.replace("\n", " ")),

    // Grouped heavy hitters: per-language frequent terms (per-domain
    // profiling — same lossless two-pass shape, sketches per group).
    Query("sketch_frequent_by_lang", (s, dir) => {
      // frequentItemsByGroup is deliberately two-pass (Misra-Gries sketch,
      // then an exact recount of the lossless candidate superset); the
      // re-scan reads the columnar source — caching the exploded tokens
      // measured no faster at sf0.1 (r16 A/B) and would spill at scale.
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      graft.ops.TopK.frequentItemsByGroup(toks, "lang", "term", k = 50)
        .withColumnsRenamed(Map("grp" -> "lang", "item" -> "term"))
    },
      oracle = """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | c AS (SELECT lang, term, count(*)::BIGINT AS cnt FROM tnz GROUP BY lang, term),
        | n AS (SELECT lang, count(*)::BIGINT AS n FROM tnz GROUP BY lang)
        | SELECT c.lang, c.term, c.cnt FROM c JOIN n USING (lang) WHERE c.cnt * 51 > n.n
        | ORDER BY lang, cnt DESC, term""".stripMargin.replace("\n", " ")),

    // Z-order (Morton) value for 2-D layout clustering: bit-interleave
    // custkey and a price bucket. The write-side use is
    // Layout.zOrder(...).write — here the z computation itself is pinned.
    Query("layout_zorder", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.ops.Layout.zValue(
            col("o_custkey").cast("long"),
            floor(col("o_totalprice") / 100).cast("long")).as("z"))
        .orderBy("z", "o_orderkey"),
      oracle = {
        val zTerms = (0 until 16).map(i =>
          s"((((a >> $i) & 1) << ${2 * i}) | (((b >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" | ")
        s"""WITH t AS (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS a,
           |            CAST(floor(o_totalprice / 100) AS BIGINT) AS b FROM orders)
           | SELECT o_orderkey, $zTerms AS z FROM t
           | ORDER BY z, o_orderkey""".stripMargin.replace("\n", " ")
      }),

    // Deterministic training-shard layout: hash-assigned shard + a
    // hash-permuted within-shard position — the reproducible global
    // shuffle a pretraining run wants (epoch order is a pure function of
    // data + shard count; identical on rerun, no RNG state to persist,
    // adjacent source docs decorrelated). The row_number window's
    // partitions are the hash-balanced shards themselves. Write side:
    // partitionBy(shard) + sort by pos (Layout.shardAssignment scaladoc).
    Query("shard_layout", (s, dir) =>
      graft.ops.Layout.shardAssignment(
          t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("pos"), col("n_chars"))
        .orderBy("shard", "pos"),
      oracle = """WITH h AS (SELECT doc_id, n_chars,
        |   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        |   FROM documents)
        | SELECT doc_id, hv % 8 AS shard,
        |        row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos,
        |        n_chars
        | FROM h ORDER BY shard, pos""".stripMargin.replace("\n", " ")),

    // Deterministic hash-based sampling/splitting (no RNG state — same
    // selection at any cluster size; narrow filter, pushdown-friendly).
    Query("sample_deterministic", (s, dir) =>
      graft.ops.Sampling.sample(t(s, dir, "orders"), "o_orderkey", 5)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey, o_totalprice FROM orders
        | WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Query("sample_stratified", (s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 10, "de" -> 50, "fr" -> 50, "es" -> 50, "zh" -> 50))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, lang FROM documents
        | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |       < (CASE lang WHEN 'en' THEN 10 ELSE 50 END)
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    Query("split_train_test", (s, dir) =>
      graft.ops.Sampling.trainValTestSplit(t(s, dir, "documents"), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("cnt"))
        .orderBy("split"),
      oracle = """SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        |        count(*) AS cnt
        | FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
        |       FROM documents)
        | GROUP BY 1 ORDER BY split""".stripMargin.replace("\n", " ")),

    // Per-source cap (no domain may dominate): deterministic hash-rank
    // keeps ≤10 docs per source at any cluster size.
    Query("sample_capped", (s, dir) =>
      graft.ops.Sampling.cappedPerGroup(t(s, dir, "documents"), "source", "doc_id", 10)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      oracle = """WITH r AS (
        |   SELECT doc_id, source,
        |          row_number() OVER (PARTITION BY source
        |            ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                     doc_id) AS rk
        |   FROM documents)
        | SELECT doc_id, source FROM r WHERE rk <= 10
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // exponential race, hash-derived u): longer docs proportionally more
    // likely; one top-k, no global sort, no RNG state.
    Query("sample_weighted", (s, dir) =>
      graft.ops.Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 20)
        .select("doc_id", "n_chars")
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, n_chars FROM (
        |   SELECT doc_id, n_chars,
        |          -ln(((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                + 1)::DOUBLE) / 4294967296.0) / n_chars::DOUBLE AS ekey
        |   FROM documents WHERE n_chars::DOUBLE > 0 ORDER BY ekey, doc_id LIMIT 20)
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Temperature-based source mixing (α = 0.5): per-source keep rate
    // ∝ sqrt(n_min/n_s) — tail domains keep everything, head domains
    // downsample, the standard anti-domination mix step. All arithmetic
    // is IEEE-exact (÷, sqrt, ×, floor on integer-derived doubles), so
    // the rates are engine-identical; selection is the usual hash gate.
    Query("sample_temperature", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val minN = counts.agg(min("n_s").as("n_min"))
      val rates = counts.crossJoin(broadcast(minN))
        .withColumn("keep_bp", least(lit(10000L),
          floor(lit(10000.0) *
            sqrt(col("n_min").cast("double") / col("n_s").cast("double")))
            .cast("long")))
      docs.join(broadcast(rates.select("source", "n_s", "keep_bp")), "source")
        .where(pmod(graft.ops.Dedup.md5Int(
            concat(lit("ts:"), col("doc_id").cast("string"))), lit(10000L))
          < col("keep_bp"))
        .groupBy("source")
        .agg(max("n_s").as("n_s"), max("keep_bp").as("keep_bp"),
          count(lit(1)).as("kept"))
        .orderBy("source")
    },
      oracle = """WITH c AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source),
        | m AS (SELECT min(n_s)::BIGINT AS n_min FROM c),
        | r AS (SELECT source, n_s,
        |        least(10000, floor(10000.0 * sqrt(n_min::DOUBLE / n_s::DOUBLE))::BIGINT)::BIGINT
        |          AS keep_bp
        |        FROM c, m),
        | k AS (SELECT d.source, r.n_s, r.keep_bp
        |       FROM documents d JOIN r USING (source)
        |       WHERE ('0x' || substr(md5('ts:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |             % 10000 < r.keep_bp)
        | SELECT source, max(n_s)::BIGINT AS n_s, max(keep_bp)::BIGINT AS keep_bp,
        |        count(*) AS kept
        | FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")),

    // Deterministic k-fold: hash-assigned folds, stable at any cluster size.
    Query("split_kfold", (s, dir) =>
      graft.ops.Sampling.kFold(t(s, dir, "documents"), "doc_id", 5)
        .select("doc_id", "fold")
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Discrete (element-valued) quantiles via explicit rank index — exact
    // cross-engine parity with no interpolation arithmetic to diverge on.
    // Rank.groupRankPercentiles keeps the plan free of the per-flag
    // single-task window sort (3 groups → 3 tasks sorting 20M+ rows each
    // at 100×): value-count hash agg → range-partitioned cumulative →
    // broadcast per-flag offsets.
    Query("q24_percentile", (s, dir) =>
      graft.ops.Rank.groupRankPercentiles(
        t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice",
        Seq("median_price" -> 0.5, "p90_price" -> 0.9))
      .orderBy("l_returnflag"),
      oracle = """WITH r AS (
        |   SELECT l_returnflag, l_extendedprice,
        |          row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |          count(*) OVER (PARTITION BY l_returnflag) AS n
        |   FROM lineitem)
        | SELECT l_returnflag,
        |        max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS median_price,
        |        max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90_price
        | FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    Query("q25_stats", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, round(avg(l_quantity), 4) AS avg_qty,
        |        round(stddev_samp(l_quantity), 4) AS sd_qty,
        |        round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    // Per-group OLS regression from sufficient statistics — the
    // distributed shape for "fit a line per key" at corpus scale: ONE
    // partial-aggregable pass accumulates (n, Σx, Σy, Σxy, Σx²) per
    // group; slope and intercept leave as exact integer rationals
    // (slope = slope_num/slope_den, intercept = icept_num/slope_den) so
    // the compare is float-free. x = chars, y = whitespace tokens; at
    // 100 TB the products want DECIMAL(38) but the plan shape (one
    // key-local shuffle of five counters) is unchanged.
    Query("stats_regression", (s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        col("n_chars").as("x"),
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long").as("y"))
      d.groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("lang"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icept_num"))
        .orderBy("lang")
    },
      oracle = """WITH d AS (SELECT lang, n_chars AS x,
        |   len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS y
        |   FROM documents),
        | g AS (SELECT lang, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |       sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |       sum(x * x)::BIGINT AS sxx FROM d GROUP BY lang)
        | SELECT lang, n, n * sxy - sx * sy AS slope_num,
        |        n * sxx - sx * sx AS slope_den,
        |        sy * sxx - sx * sxy AS icept_num
        | FROM g ORDER BY lang""".stripMargin.replace("\n", " ")),

    // One-pass-per-column dataset profiler: null count, distinct count,
    // min/max per profiled column. Each branch aggregates its own
    // VALUE-COUNT table (one narrow column-pruned scan + a shuffle
    // bounded by distinct values) — never a multi-count_distinct over
    // the full row stream, which would Expand every input row once per
    // distinct aggregate. The stats a pipeline's schema gate reads.
    Query("profile_colstats", (s, dir) => {
      val li = t(s, dir, "lineitem")
      def prof(c: String) = li
        .groupBy(col(c).as("_v")).agg(count(lit(1)).as("_c"))
        .agg(sum("_c").as("n"),
          coalesce(sum(when(col("_v").isNull, col("_c"))), lit(0L)).as("n_null"),
          count(when(col("_v").isNotNull, lit(1))).as("n_distinct"),
          min(col("_v")).cast("string").as("min_s"),
          max(col("_v")).cast("string").as("max_s"))
        .select(lit(c).as("column_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .map(prof).reduce(_ unionByName _).orderBy("column_name")
    },
      oracle = Seq(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus").map { c =>
        s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n,
           | (count(*) - count($c))::BIGINT AS n_null,
           | count(DISTINCT $c)::BIGINT AS n_distinct,
           | min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
           | FROM lineitem""".stripMargin.replace("\n", " ")
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name")),

    // Theta-sketch set operations: distinct-user overlap/union/difference
    // of two event cohorts from mergeable sketches (HLL can union but
    // never intersect — theta is the set-operation family). Output is the
    // sketch_distinct pattern: exact values + in-tolerance flags; at
    // fixture cardinalities theta runs in exact mode so flags assert
    // estimate == exact.
    Query("sketch_theta_overlap", (s, dir) => {
      val e = t(s, dir, "events")
        .where(col("event_type").isin("click", "view"))
        .select(col("event_type"), col("user_id"))
      val prof = graft.ops.Sketch.thetaProfile(e, "user_id", "event_type")
      val est = prof.where(col("event_type") === "click").select(col("theta").as("ta"))
        .crossJoin(broadcast(
          prof.where(col("event_type") === "view").select(col("theta").as("tb"))))
        .select(
          graft.ops.Sketch.thetaIntersectEst(col("ta"), col("tb")).as("est_i"),
          graft.ops.Sketch.thetaUnionEst(col("ta"), col("tb")).as("est_u"),
          graft.ops.Sketch.thetaDiffEst(col("ta"), col("tb")).as("est_d"))
      val exact = e.groupBy("user_id").agg(
          max((col("event_type") === "click").cast("int")).as("c"),
          max((col("event_type") === "view").cast("int")).as("v"))
        .agg(sum(col("c") * col("v")).cast("long").as("exact_overlap"),
          count(lit(1)).as("exact_union"),
          sum(col("c") * (lit(1) - col("v"))).cast("long").as("exact_diff"))
      exact.crossJoin(broadcast(est)).select(
        col("exact_overlap"),
        graft.ops.Sketch.withinTol(col("est_i"), col("exact_overlap"), 0.02).as("overlap_ok"),
        col("exact_union"),
        graft.ops.Sketch.withinTol(col("est_u"), col("exact_union"), 0.02).as("union_ok"),
        col("exact_diff"),
        graft.ops.Sketch.withinTol(col("est_d"), col("exact_diff"), 0.02).as("diff_ok"))
    },
      oracle = """WITH f AS (SELECT user_id,
        |   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
        |   FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id)
        | SELECT CAST(sum(c * v) AS BIGINT) AS exact_overlap, 1 AS overlap_ok,
        |        count(*) AS exact_union, 1 AS union_ok,
        |        CAST(sum(c * (1 - v)) AS BIGINT) AS exact_diff, 1 AS diff_ok
        | FROM f ORDER BY exact_overlap""".stripMargin.replace("\n", " ")),

    // Keyed pseudonymization (GDPR-style): user ids replaced by a salted
    // SHA-256 token — deterministic (joinable across tables pseudonymized
    // with the same key), irreversible without the salt. Narrow
    // projection, zero shuffles.
    Query("privacy_pseudonymize", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          substring(sha2(concat(lit("k1:"), col("user_id").cast("string")), 256), 1, 16)
            .as("user_pseudo"))
        .orderBy("event_id"),
      oracle = """SELECT event_id,
        |   substr(sha256('k1:' || CAST(user_id AS VARCHAR)), 1, 16) AS user_pseudo
        | FROM events ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // Leakage-safe train/val/test split: hash the near-dup CLUSTER id,
    // not the doc id, so near-duplicates can never straddle train/test
    // (the eval-contamination failure mode of naive splits). Singletons
    // cluster as themselves via the left join + coalesce.
    Query("split_leakage_safe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
      val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
      val withCluster = docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      graft.ops.Sampling.trainValTestSplit(withCluster, "cluster_id")
        .orderBy("doc_id")
    },
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH RECURSIVE $minhashSigCte,
           | pairs AS (
           |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           |   WHERE round(($matches) / 8.0, 4) >= 0.25),
           | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
           |           UNION SELECT b_id, a_id FROM pairs),
           | reach(s, d) AS (
           |   SELECT s, d FROM edges
           |   UNION
           |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
           | cc AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
           |        FROM reach GROUP BY s),
           | wc AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
           |        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
           | SELECT doc_id, cluster_id,
           |   CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
           | FROM (SELECT doc_id, cluster_id,
           |         ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
           |       FROM wc)
           | ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    // DSIR-style data selection (Xie et al. 2023 shape): score each doc
    // by the avg unigram log-likelihood RATIO between a target domain
    // (source = 'src0') and the raw corpus, add-one smoothed. Both
    // models are in-query count tables (vocab-bounded broadcasts); the
    // per-doc fold runs term-sorted so floats are partition-order-free
    // (the text_lm_score pattern). High score = looks like the target.
    Query("sample_dsir", (s, dir) => {
      // toks feeds four consumers; left uncached — exchange reuse shares
      // the tokenization physically and caching measured slower (r16 A/B;
      // re-confirmed r17: persisting the per-doc term aggregate instead
      // of the stream measured ~2.5x slower — the materialization barrier
      // dominates at this size)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val raw = toks.groupBy("term").agg(count(lit(1)).as("rf"))
      val tgt = toks.where(col("source") === "src0")
        .groupBy("term").agg(count(lit(1)).as("tf"))
      val model = raw.join(tgt, Seq("term"), "left")
        .select(col("term"), col("rf"), coalesce(col("tf"), lit(0L)).as("tf"))
      val consts = raw.agg(sum("rf").as("rn"), count(lit(1)).as("v"))
        .crossJoin(toks.where(col("source") === "src0")
          .agg(count(lit(1)).as("tn")))
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .join(broadcast(model), "term")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"),
          expr("""aggregate(array_sort(collect_list(struct(term, c, tf, rf))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) *
                 |   (ln(cast(x.tf as double) + 1.0d) - ln(cast(x.rf as double) + 1.0d)))"""
            .stripMargin.replace("\n", " ")).as("_fold"))
        .crossJoin(broadcast(consts))
        .select(col("doc_id"), col("n_tok"),
          round(col("_fold") / col("n_tok").cast("double")
            + log(col("rn").cast("double") + col("v").cast("double"))
            - log(col("tn").cast("double") + col("v").cast("double")), 3)
            .plus(lit(0.0d)).as("dsir_r3"))  // −0.0 + 0.0 = +0.0 (IEEE), matches oracle
        .orderBy("doc_id")
    },
      oracle = """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | raw AS (SELECT term, count(*)::BIGINT AS rf FROM tnz GROUP BY term),
        | tgt AS (SELECT term, count(*)::BIGINT AS tf FROM tnz WHERE source = 'src0' GROUP BY term),
        | model AS (SELECT raw.term, rf, coalesce(tf, 0)::BIGINT AS tf
        |           FROM raw LEFT JOIN tgt ON raw.term = tgt.term),
        | consts AS (SELECT (SELECT sum(rf) FROM raw)::BIGINT AS rn,
        |                   (SELECT count(*) FROM raw)::BIGINT AS v,
        |                   (SELECT count(*) FROM tnz WHERE source = 'src0')::BIGINT AS tn),
        | cnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tnz GROUP BY doc_id, term),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n_tok,
        |         list_sort(list(struct_pack(term := term, c := c, tf := tf, rf := rf))) AS lst
        |         FROM cnt JOIN model USING (term) GROUP BY doc_id)
        | SELECT doc_id, n_tok,
        |   round(list_reduce(
        |       list_prepend(0.0, [x.c::DOUBLE * (ln(x.tf::DOUBLE + 1.0) - ln(x.rf::DOUBLE + 1.0)) for x in lst]),
        |       (a, b) -> a + b) / n_tok::DOUBLE
        |     + ln(rn::DOUBLE + v::DOUBLE) - ln(tn::DOUBLE + v::DOUBLE), 3) + 0.0 AS dsir_r3
        | FROM per, consts ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Join-key skew report: top-10 heaviest keys with basis-point share —
    // the diagnosis that decides salting/AQE-skew settings. Grouped count,
    // one-row total broadcast, TakeOrderedAndProject for the top-k (never
    // a global sort).
    Query("profile_skew", (s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("_n"))))
        .select(col("user_id"), col("cnt"),
          expr("CAST(cnt * 10000 div _n AS INT)").as("share_bp"))
        .orderBy(col("cnt").desc, col("user_id")).limit(10)
    },
      oracle = """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        | n AS (SELECT count(*) AS _n FROM events)
        | SELECT user_id, cnt, CAST(cnt * 10000 // _n AS INTEGER) AS share_bp
        | FROM c, n ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin.replace("\n", " ")),

    // Deterministic bootstrap confidence interval for a corpus metric
    // (mean order value): 100 hash-weighted replicas (mean-1 weights, the
    // portable stand-in for multinomial resampling), each replica's
    // weighted mean kept as an exact integer rational (micro-cents),
    // CI = element-picked ranks 5/50/95. Zero floats → the resampling
    // distribution reproduces bit-for-bit anywhere. Per-replica weights
    // come from TWO md5 base hashes per row via Kirsch-Mitzenmacher
    // (w_b = (h1 + b·h2) % 3 — the minhash trick), so the row is hashed
    // twice total, not once per replica; the replica explode carries the
    // metric column only, never the full row.
    Query("stats_bootstrap", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("id"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("xc"))
      val reps = o.select(col("xc"),
          Dedup.md5Int(concat(lit("1:"), col("id"))).as("h1"),
          Dedup.md5Int(concat(lit("2:"), col("id"))).as("h2"))
        .select(col("xc"), explode(expr("sequence(0, 99)")).as("b"),
          col("h1"), col("h2"))
        .withColumn("w", pmod(col("h1") + col("b") * col("h2"), lit(3)))
      val means = reps.groupBy("b")
        .agg(expr("(sum(w * xc) * 10000) div sum(w)").as("m"))
      means.select(col("b"), col("m"),
          row_number().over(Window.orderBy(col("m"), col("b"))).as("rn"))
        .agg(count(lit(1)).as("n_replicas"),
          max(when(col("rn") === 5, col("m"))).as("ci_lo"),
          max(when(col("rn") === 50, col("m"))).as("ci_md"),
          max(when(col("rn") === 95, col("m"))).as("ci_hi"))
    },
      oracle = """WITH o AS (SELECT o_orderkey AS id,
        |     CAST(round(o_totalprice * 100) AS BIGINT) AS xc FROM orders),
        | h AS (SELECT xc,
        |     ('0x' || substr(md5('1:' || id), 1, 8))::BIGINT AS h1,
        |     ('0x' || substr(md5('2:' || id), 1, 8))::BIGINT AS h2 FROM o),
        | r AS (SELECT xc, h1, h2, unnest(range(0, 100)) AS b FROM h),
        | wts AS (SELECT b, xc, (h1 + b * h2) % 3 AS w FROM r),
        | m AS (SELECT b, ((sum(w * xc) * 10000) // sum(w))::BIGINT AS m
        |   FROM wts GROUP BY b),
        | rk AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rn FROM m)
        | SELECT count(*) AS n_replicas,
        |   max(CASE WHEN rn = 5 THEN m END) AS ci_lo,
        |   max(CASE WHEN rn = 50 THEN m END) AS ci_md,
        |   max(CASE WHEN rn = 95 THEN m END) AS ci_hi
        | FROM rk""".stripMargin.replace("\n", " ")),

    // Purged time-series split (the finance-CV discipline applied to
    // event data): 5 contiguous time folds by integer range arithmetic,
    // fold 2 is the test fold, and TRAIN rows within the embargo E (2%
    // of the time span) of the test fold's boundaries are PURGED — the
    // rows whose features/labels straddle the boundary and leak. All
    // pure integer arithmetic on a one-row broadcast (t0, t1): role
    // assignment is a narrow map, the report one tiny agg.
    Query("split_purged_time", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("ts"))
      val mm = e.agg(min("ts").as("t0"), max("ts").as("t1"))
      def foldOf(x: String) =
        expr(s"least(4, greatest(0, (($x - t0) * 5) div (t1 - t0 + 1)))")
      e.crossJoin(broadcast(mm))
        .withColumn("_e", expr("(t1 - t0) div 50"))
        .withColumn("_f", foldOf("ts"))
        .withColumn("role",
          when(col("_f") === 2, lit("test"))
            .when(foldOf("ts + _e") === 2 || foldOf("ts - _e") === 2, lit("purged"))
            .otherwise(lit("train")))
        .groupBy("role")
        .agg(count(lit(1)).as("n_events"), min("ts").as("min_ts"),
          max("ts").as("max_ts"))
        .orderBy("role")
    },
      oracle = """WITH e AS (SELECT event_id, epoch_ns(ts) AS ts FROM events),
        | mm AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM e),
        | r AS (SELECT event_id, ts,
        |     least(4, greatest(0, ((ts - t0) * 5) // (t1 - t0 + 1))) AS f,
        |     least(4, greatest(0, ((ts + (t1 - t0) // 50 - t0) * 5) // (t1 - t0 + 1))) AS fp,
        |     least(4, greatest(0, ((ts - (t1 - t0) // 50 - t0) * 5) // (t1 - t0 + 1))) AS fm
        |   FROM e, mm),
        | roles AS (SELECT event_id, ts,
        |     CASE WHEN f = 2 THEN 'test'
        |          WHEN fp = 2 OR fm = 2 THEN 'purged'
        |          ELSE 'train' END AS role FROM r)
        | SELECT role, count(*) AS n_events, min(ts) AS min_ts, max(ts) AS max_ts
        | FROM roles GROUP BY role ORDER BY role""".stripMargin.replace("\n", " ")),

    // Training-data governance: k-anonymity profile across a
    // generalization lattice. Each rollup level drops the rightmost
    // quasi-identifier (nation > segment > balance band); per level the
    // report gives the group count, the k-anonymity (min group size —
    // the worst-case re-identification set), and how many rows sit in
    // groups below k=5. Two key-local aggregations — the rollup's Expand
    // is 4× the input rows, then a 4-row reduce; no windows, no joins.
    Query("governance_kanon", (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      c.rollup(col("nation"), col("segment"), col("bal_band"))
        .agg(count(lit(1)).as("cnt"),
          // grouping() is only legal inside the rollup's agg list
          (grouping(col("nation")) * 4 + grouping(col("segment")) * 2 +
            grouping(col("bal_band"))).cast("long").as("level"))
        .select("level", "cnt")
        .groupBy("level")
        .agg(count(lit(1)).as("n_groups"),
          min("cnt").as("k_anonymity"),
          sum(when(col("cnt") < 5, col("cnt")).otherwise(0L)).as("rows_at_risk"))
        .orderBy("level")
    },
      oracle = """WITH q AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |             floor(c_acctbal / 1000)::BIGINT AS bal_band FROM customer),
        | g AS (SELECT (GROUPING(nation) * 4 + GROUPING(segment) * 2
        |               + GROUPING(bal_band))::BIGINT AS level, count(*) AS cnt
        |       FROM q GROUP BY ROLLUP (nation, segment, bal_band))
        | SELECT level, count(*) AS n_groups, min(cnt) AS k_anonymity,
        |   sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END)::BIGINT AS rows_at_risk
        | FROM g GROUP BY level ORDER BY level""".stripMargin.replace("\n", " ")),

    // l-diversity companion to the k-anonymity profile (Machanavajjhala
    // '06): k-anonymity alone fails on HOMOGENEOUS groups — a
    // quasi-identifier group whose sensitive attribute takes one value
    // leaks it to anyone who can place a person in the group, however
    // large the group is. Per (nation, segment) QI group the sensitive
    // attribute (balance band) must take ≥ l distinct values; the
    // per-nation report carries the group count, the worst-case
    // diversity, and the rows sitting in groups below l = 3. Two
    // key-local aggregations — the same shape as governance_kanon.
    Query("governance_ldiv", (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      c.groupBy("nation", "segment")
        .agg(count(lit(1)).as("cnt"), countDistinct("bal_band").as("l_div"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_groups"),
          min("l_div").as("min_l"),
          sum(when(col("l_div") < 3, col("cnt")).otherwise(0L)).as("rows_at_risk"))
        .orderBy("nation")
    },
      oracle = """WITH q AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |             floor(c_acctbal / 1000)::BIGINT AS bal_band FROM customer),
        | g AS (SELECT nation, segment, count(*)::BIGINT AS cnt,
        |              count(DISTINCT bal_band)::BIGINT AS l_div
        |       FROM q GROUP BY nation, segment)
        | SELECT nation, count(*) AS n_groups, min(l_div) AS min_l,
        |   sum(CASE WHEN l_div < 3 THEN cnt ELSE 0 END)::BIGINT AS rows_at_risk
        | FROM g GROUP BY nation ORDER BY nation""".stripMargin.replace("\n", " "))
  )
}

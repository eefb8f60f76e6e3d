package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

import QueryHelpers.{inList, minhashSigCteFrom, stopEn, t}

/** Corpus curation: quality signals and gates, corpus mixing, drift and
  * novelty, and the end-to-end curation pipelines.
  */
object CurationQueries {

  val all: Seq[Query] = Seq(

    // Capstone composition of the round-5 curation ops — a pretraining
    // data pipeline: quality gate → repetition gate (RELATIVE df: a
    // gram is boilerplate in ≥0.5% of docs — the absolute minDocs
    // saturates as the corpus grows) → exact-dedup keep-first →
    // temperature source mix → per-source token budget. Every stage is
    // an operator with its own green oracle; this proves they COMPOSE.
    Query("pipeline_pretrain", (s, dir) => {
      val docs = t(s, dir, "documents")
      // The r15 audit counted documents x30 in the LOGICAL plan here, but
      // the r16 interleaved A/B showed persisting gated/clean is
      // flat-to-slower: physical exchange reuse already shares the
      // repeated subtrees, and cache materialization serializes stages
      // that otherwise overlap. Left uncached deliberately — the audit
      // lesson is "count physical scans, then measure", not "persist
      // every repeated leaf".
      val gated = docs
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("stop_hits", Functions.wordSetHits(col("text"), stopEn))
        .where(col("n_tok") >= 20 && col("stop_hits") > 0)
      val keepIds = graft.ops.Quality
        .dupGramFractionRelative(gated, "text", "doc_id", minPermille = 5)
        .where(col("keep") === 1).select("doc_id")
      val clean = gated.join(keepIds, "doc_id")
      val firstIds = clean.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val deduped = clean.join(firstIds, "doc_id")
      val counts = deduped.groupBy("source").agg(count(lit(1)).as("n_s"))
      val rates = counts.crossJoin(broadcast(counts.agg(min("n_s").as("n_min"))))
        .withColumn("keep_bp", least(lit(10000L),
          floor(lit(10000.0) *
            sqrt(col("n_min").cast("double") / col("n_s").cast("double")))
            .cast("long")))
      deduped.join(broadcast(rates.select("source", "keep_bp")), "source")
        .where(pmod(graft.ops.Dedup.md5Int(
            concat(lit("ts:"), col("doc_id").cast("string"))), lit(10000L))
          < col("keep_bp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
        .orderBy("source")
    },
      oracle = s"""WITH q AS (SELECT doc_id, text, source,
         |             len(string_split(text, ' ')) AS n_tok,
         |             len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits
         |           FROM documents),
         | g AS (SELECT * FROM q WHERE n_tok >= 20 AND stop_hits > 0),
         | ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM g),
         | shl AS (SELECT doc_id,
         |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
         |         FROM ws),
         | ex AS (SELECT doc_id, len(shl) AS n_sh,
         |        ('0x' || substr(md5(unnest(shl)), 1, 15))::BIGINT AS sh FROM shl),
         | dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
         | nd AS (SELECT count(*) AS nd FROM g),
         | per AS (SELECT ex.doc_id,
         |         sum(CASE WHEN df * 1000 >= nd * 5 THEN 1 ELSE 0 END) * 10000 // max(n_sh) AS bp
         |         FROM ex JOIN dfq USING (sh), nd GROUP BY ex.doc_id),
         | clean AS (SELECT g.* FROM g LEFT JOIN per USING (doc_id)
         |           WHERE coalesce(per.bp, 0) <= 8000),
         | firstids AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
         | dd AS (SELECT c.* FROM clean c JOIN firstids USING (doc_id)),
         | c2 AS (SELECT source, count(*)::BIGINT AS n_s FROM dd GROUP BY source),
         | m AS (SELECT min(n_s)::BIGINT AS n_min FROM c2),
         | r AS (SELECT source,
         |        least(10000, floor(10000.0 * sqrt(n_min::DOUBLE / n_s::DOUBLE))::BIGINT) AS keep_bp
         |        FROM c2, m),
         | k AS (SELECT dd.source, dd.n_tok FROM dd JOIN r USING (source)
         |       WHERE ('0x' || substr(md5('ts:' || CAST(dd.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |             % 10000 < r.keep_bp)
         | SELECT source, count(*) AS n_docs, sum(n_tok)::BIGINT AS tokens
         | FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")),

    // Per-language length outliers by z-score; group stats from integer
    // sums so the doubles are engine-exact (IEEE ops on identical inputs).
    // zMax 1.5: the fixture lengths are near-uniform (|z| ≤ √3), so 2.0
    // would select nothing at any SF.
    Query("quality_outliers", (s, dir) =>
      graft.ops.Quality.zScoreOutliers(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "n_chars", "lang", 1.5)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("z"), 3).as("z_r3"))
        .orderBy("doc_id"),
      oracle = """WITH st AS (SELECT lang, count(*)::DOUBLE AS n, sum(n_chars)::DOUBLE AS s,
        |            sum(n_chars * n_chars)::DOUBLE AS ss FROM documents GROUP BY lang)
        | SELECT doc_id, lang, n_chars,
        |        round((n_chars::DOUBLE - s / n) / sqrt(ss / n - (s / n) * (s / n)), 3) AS z_r3
        | FROM documents JOIN st USING (lang)
        | WHERE ss / n - (s / n) * (s / n) > 0
        |   AND abs((n_chars::DOUBLE - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 1.5
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Robust per-language length stats: lower median + MAD + outlier
    // counts at 1/2/3 MADs, medians selected from value-count tables
    // (aggregate-first — no per-row sort at any scale). The robust twin
    // of quality_outliers' mean/z-score.
    Query("quality_mad", (s, dir) =>
      graft.ops.Quality.madStats(
          t(s, dir, "documents").select("lang", "n_chars"), "n_chars", "lang")
        .orderBy("lang"),
      oracle = """WITH v AS (SELECT lang, n_chars AS v FROM documents),
        | c AS (SELECT lang, v, count(*) AS c FROM v GROUP BY lang, v),
        | cum AS (SELECT lang, v, c,
        |   sum(c) OVER (PARTITION BY lang ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |   sum(c) OVER (PARTITION BY lang) AS n FROM c),
        | med AS (SELECT lang, v::BIGINT AS med FROM cum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm),
        | dev AS (SELECT t.lang, t.v, abs(t.v - m.med) AS d, m.med
        |   FROM v t JOIN med m USING (lang)),
        | dc AS (SELECT lang, d, count(*) AS c FROM dev GROUP BY lang, d),
        | dcum AS (SELECT lang, d, c,
        |   sum(c) OVER (PARTITION BY lang ORDER BY d
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |   sum(c) OVER (PARTITION BY lang) AS n FROM dc),
        | mad AS (SELECT lang, d::BIGINT AS mad FROM dcum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm)
        | SELECT dev.lang, count(*) AS n, max(med)::BIGINT AS med,
        |        max(mad)::BIGINT AS mad,
        |        sum(CASE WHEN d > mad THEN 1 ELSE 0 END)::BIGINT AS out_1mad,
        |        sum(CASE WHEN d > mad * 2 THEN 1 ELSE 0 END)::BIGINT AS out_2mad,
        |        sum(CASE WHEN d > mad * 3 THEN 1 ELSE 0 END)::BIGINT AS out_3mad
        | FROM dev JOIN mad USING (lang)
        | GROUP BY dev.lang ORDER BY dev.lang""".stripMargin.replace("\n", " ")),

    // Corpus drift detection: which terms' relative frequencies moved
    // most between two corpora (here en vs non-en)? Score is the exact
    // integer |a·NB − b·NA| — the difference of relative frequencies
    // cross-multiplied by NA·NB — so there's no division, no floats,
    // and the (drift, term) order is total. One term-key shuffle with
    // partial aggregation; the two corpus totals ride in as a one-row
    // broadcast.
    Query("corpus_drift", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      val cnt = toks.groupBy("term").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("b"))
      val tot = toks.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("na"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nb"))
      cnt.crossJoin(broadcast(tot))
        .select(col("term"), col("a"), col("b"),
          abs(col("a") * col("nb") - col("b") * col("na")).as("drift"))
        .orderBy(col("drift").desc, col("term"))
        .limit(30)
    },
      oracle = """WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
        |                    t -> t <> '')) AS term FROM documents),
        | cnt AS (SELECT term,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS a,
        |         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS b
        |         FROM tok GROUP BY term),
        | tot AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS na,
        |         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS nb FROM tok)
        | SELECT term, a, b, abs(a * nb - b * na) AS drift FROM cnt, tot
        | ORDER BY drift DESC, term LIMIT 30""".stripMargin.replace("\n", " ")),

    // Percentile winsorization: clip per-lang doc lengths at element-valued
    // p05/p95 (rank-index selection — integers end to end, no interpolated
    // floats), then report the clipped mean ×100 as an integer rational.
    // The outlier-robust preprocessing step before any length-based gate.
    // Size-dispatched exact selection (ops/Quality.winsorizedClipMeans):
    // per-lang rank window at test scale, histogram-CDF selection above
    // 10M rows — same values, nothing row-sized sorted in one task
    // (WinsorPathSpec proves path agreement).
    Query("quality_winsorize", (s, dir) =>
      graft.ops.Quality.winsorizedClipMeans(
          t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
          "lang", "n_chars", "doc_id")
        .orderBy("lang"),
      oracle = """WITH ranked AS (SELECT lang, doc_id, n_chars,
        |     row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |     count(*) OVER (PARTITION BY lang) AS n
        |   FROM documents),
        | bounds AS (SELECT lang,
        |     max(CASE WHEN rn = ceil(n * 0.05) THEN n_chars END) AS p05,
        |     max(CASE WHEN rn = ceil(n * 0.95) THEN n_chars END) AS p95,
        |     max(n) AS n FROM ranked GROUP BY lang)
        | SELECT r.lang, max(b.n) AS n_docs, max(b.p05) AS p05, max(b.p95) AS p95,
        |   CAST((100 * sum(greatest(b.p05, least(b.p95, r.n_chars)))) // count(*) AS BIGINT)
        |     AS clip_mean_x100
        | FROM ranked r JOIN bounds b ON r.lang = b.lang
        | GROUP BY r.lang ORDER BY r.lang""".stripMargin.replace("\n", " ")),

    // Dataset-card report: the (metric, dim, value) summary a corpus
    // release ships with — per-source doc/token counts, language mix,
    // exact-dup count, mean length — unioned tagged aggregates, every
    // value an integer. The per-source branch unpivots via stack so
    // docs+tokens ride one scan.
    Query("pipeline_dataset_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bySource = docs.groupBy("source").agg(count(lit(1)).as("n"),
          sum(size(split(col("text"), " "))).as("tok"))
        .select(expr("""stack(2, 'docs', source, CAST(n AS BIGINT),
                       | 'tokens', source, CAST(tok AS BIGINT))
                       | AS (metric, dim, value)""".stripMargin.replace("\n", " ")))
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .select(lit("docs_lang").as("metric"), col("lang").as("dim"),
          col("n").as("value"))
      val dup = docs.agg(
          (count(lit(1)) - countDistinct(md5(col("text")))).as("value"))
        .select(lit("exact_dup_docs").as("metric"), lit("all").as("dim"), col("value"))
      val meanc = docs.agg(
          expr("CAST(100 * sum(n_chars) div count(1) AS BIGINT)").as("value"))
        .select(lit("mean_chars_x100").as("metric"), lit("all").as("dim"), col("value"))
      bySource.unionByName(byLang).unionByName(dup).unionByName(meanc)
        .orderBy("metric", "dim")
    },
      oracle = """WITH bs AS (SELECT source, count(*) AS n,
        |            sum(len(string_split(text, ' '))) AS tok
        |            FROM documents GROUP BY source)
        | SELECT metric, dim, CAST(value AS BIGINT) AS value FROM (
        |   SELECT 'docs' AS metric, source AS dim, n AS value FROM bs
        |   UNION ALL SELECT 'tokens', source, tok FROM bs
        |   UNION ALL SELECT 'docs_lang', lang, count(*) FROM documents GROUP BY lang
        |   UNION ALL SELECT 'exact_dup_docs', 'all',
        |     count(*) - count(DISTINCT md5(text)) FROM documents
        |   UNION ALL SELECT 'mean_chars_x100', 'all',
        |     (100 * sum(n_chars)) // count(*) FROM documents)
        | ORDER BY metric, dim""".stripMargin.replace("\n", " ")),

    // CAPSTONE — the whole curation pipeline as ONE dataflow: Gopher
    // quality gate → exact dedup (keep-first by content hash) → minhash
    // near-dup dedup (higher id drops) → per-lang funnel report with the
    // surviving token budget. Composes gopher_stats (zero-shuffle),
    // exactGroups (one hash agg), and the banded LSH candidates — the
    // end-to-end DAG a user actually runs. At deploy the three kept
    // frames would persist between stages; as a gate query the chain is
    // recomputed lazily (map-only stats, one hash agg, one banded join).
    Query("pipeline_curation", (s, dir) => {
      val docs = t(s, dir, "documents")
      val st = docs.select(col("doc_id"), col("lang"), col("text"),
        Functions.gopherStats(col("text")).as("g"),
        Functions.wordSetHits(col("text"), stopEn).as("stop_hits"))
      val keepPred = col("g.n_tok") >= 10 && col("g.n_tok") <= 200 &&
        col("g.sum_len") >= col("g.n_tok") * 3 &&
        col("g.sum_len") <= col("g.n_tok") * 10 &&
        col("g.max_len") <= 20 && col("stop_hits") >= 2 &&
        col("g.n_uniq") * 2 >= col("g.n_tok") &&
        col("g.top_c") * 5 <= col("g.n_tok")
      // The quality-gated frame feeds the exact-dedup winner agg, the
      // dedup join, and the funnel report; the exact-deduped frame feeds
      // the minhash signature, the final anti-join, and the report. Both
      // persisted (r16 shared-subframe audit): gopherStats runs once per
      // doc instead of five times. MEMORY_AND_DISK — these carry text and
      // spill at scale, which still beats recomputing the stats pass.
      val q = st.where(keepPred).select(col("doc_id"), col("lang"), col("text"),
        col("g.n_tok").as("n_tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exKeep = q.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val ke = q.join(exKeep, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(ke, "text", "doc_id"), "doc_id", threshold = 0.25)
      val dropped = pairs.select(col("b_id").as("doc_id")).distinct()
      val kf = ke.join(dropped, Seq("doc_id"), "left_anti")
      docs.groupBy("lang").agg(count(lit(1)).as("n_in"))
        .join(q.groupBy("lang").agg(count(lit(1)).as("n_quality")), Seq("lang"), "left")
        .join(ke.groupBy("lang").agg(count(lit(1)).as("n_exact")), Seq("lang"), "left")
        .join(kf.groupBy("lang").agg(count(lit(1)).as("n_final"),
          sum("n_tok").as("tokens_final")), Seq("lang"), "left")
        .select(col("lang"), col("n_in"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
        .orderBy("lang")
    },
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           | wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
           | st AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_uniq, max(c) AS top_c,
           |        sum(length(w) * c) AS sum_len, max(length(w)) AS max_len
           |        FROM wc GROUP BY doc_id),
           | shh AS (SELECT doc_id,
           |        len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits
           |        FROM documents),
           | q AS (SELECT d.doc_id, d.lang, d.text, st.n_tok FROM documents d
           |       JOIN st ON st.doc_id = d.doc_id JOIN shh ON shh.doc_id = d.doc_id
           |       WHERE st.n_tok >= 10 AND st.n_tok <= 200 AND st.sum_len >= st.n_tok * 3
           |         AND st.sum_len <= st.n_tok * 10 AND st.max_len <= 20
           |         AND shh.stop_hits >= 2 AND st.n_uniq * 2 >= st.n_tok
           |         AND st.top_c * 5 <= st.n_tok),
           | exk AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
           | ke AS (SELECT q.* FROM q JOIN exk USING (doc_id)),
           | ${minhashSigCteFrom("ke")},
           | pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           |   WHERE round(($matches) / 8.0, 4) >= 0.25),
           | drp AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
           | kf AS (SELECT * FROM ke WHERE doc_id NOT IN (SELECT doc_id FROM drp)),
           | base AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY lang),
           | nq AS (SELECT lang, count(*) AS n_quality FROM q GROUP BY lang),
           | ne AS (SELECT lang, count(*) AS n_exact FROM ke GROUP BY lang),
           | nf AS (SELECT lang, count(*) AS n_final, sum(n_tok)::BIGINT AS tokens_final
           |        FROM kf GROUP BY lang)
           | SELECT base.lang, base.n_in,
           |   coalesce(nq.n_quality, 0) AS n_quality,
           |   coalesce(ne.n_exact, 0) AS n_exact,
           |   coalesce(nf.n_final, 0) AS n_final,
           |   coalesce(nf.tokens_final, 0) AS tokens_final
           | FROM base LEFT JOIN nq ON nq.lang = base.lang
           |   LEFT JOIN ne ON ne.lang = base.lang
           |   LEFT JOIN nf ON nf.lang = base.lang
           | ORDER BY base.lang""".stripMargin.replace("\n", " ")
      }),

    // Curriculum assignment with equal token budgets: rank the corpus by
    // lexical diversity (distinct-token basis points, one gopher_stats
    // pass), then split the cumulative TOKEN mass — not the doc count —
    // into 3 phases, so each curriculum stage feeds the trainer the same
    // token budget. The running sum is the range-partitioned global
    // cumsum (Rank.globalCumSum) — no single-task global window.
    Query("corpus_curriculum", (s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("doc_id"), Functions.gopherStats(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_tok").as("n_tok"),
          expr("g.n_uniq * 10000 div g.n_tok").as("div_bp"))
      graft.ops.Rank.globalCumSum(st,
          Seq(col("div_bp").desc, col("doc_id")), "n_tok", "cum_tok")
        .crossJoin(broadcast(st.agg(sum("n_tok").as("_total"))))
        .select(col("doc_id"), col("n_tok"), col("div_bp"), col("cum_tok"),
          expr("CAST(1 + (cum_tok - 1) * 3 div _total AS INT)").as("phase"))
        .orderBy("doc_id")
    },
      oracle = """WITH s AS (SELECT doc_id,
        |     len(string_split(text, ' '))::BIGINT AS n_tok,
        |     len(list_distinct(string_split(text, ' ')))::BIGINT * 10000
        |       // len(string_split(text, ' '))::BIGINT AS div_bp
        |   FROM documents),
        | c AS (SELECT doc_id, n_tok, div_bp,
        |     sum(n_tok) OVER (ORDER BY div_bp DESC, doc_id
        |       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
        |     sum(n_tok) OVER ()::BIGINT AS total FROM s)
        | SELECT doc_id, n_tok, div_bp, cum AS cum_tok,
        |   (1 + (cum - 1) * 3 // total)::INT AS phase
        | FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Corpus bigram novelty between snapshots (doc_id parity = two crawl
    // halves): per lang, the fraction of the new half's distinct bigrams
    // absent from the old half — the freshness/drift signal deciding
    // whether a re-crawl adds phrases or re-serves the old corpus.
    // Distinct-first per half, then one anti-join on (lang, gram).
    Query("corpus_novelty", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), (col("doc_id") % 2).as("half"),
          explode(expr("word_shingles(text, 2)")).as("g"))
      val old = d.where(col("half") === 0).select("lang", "g").distinct()
      val nw = d.where(col("half") === 1).select("lang", "g").distinct()
      nw.groupBy("lang").agg(count(lit(1)).as("n_new"))
        .join(nw.join(old, Seq("lang", "g"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("n_novel")), Seq("lang"), "left")
        .select(col("lang"), col("n_new"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          expr("coalesce(n_novel, 0) * 10000 div n_new").as("novel_bp"))
        .orderBy("lang")
    },
      oracle = """WITH ws AS (SELECT doc_id % 2 AS half, lang, string_split(text, ' ') AS ws
        |     FROM documents),
        | gg AS (SELECT half, lang, unnest(list_distinct([ws[i] || ' ' || ws[i+1]
        |           for i in range(1, greatest(len(ws), 1))])) AS g FROM ws),
        | g AS (SELECT DISTINCT half, lang, g FROM gg),
        | n AS (SELECT lang, count(*) AS n_new FROM g WHERE half = 1 GROUP BY lang),
        | nov AS (SELECT a.lang, count(*) AS n_novel FROM g a
        |   WHERE a.half = 1 AND NOT EXISTS (SELECT 1 FROM g o
        |     WHERE o.half = 0 AND o.lang = a.lang AND o.g = a.g)
        |   GROUP BY a.lang)
        | SELECT n.lang, n.n_new, coalesce(nov.n_novel, 0) AS n_novel,
        |   coalesce(nov.n_novel, 0) * 10000 // n.n_new AS novel_bp
        | FROM n LEFT JOIN nov ON nov.lang = n.lang
        | ORDER BY n.lang""".stripMargin.replace("\n", " ")),

    // Linear quality classifier with pinned integer weights (the
    // fastText-style "quality filter" inference step, scoring side only):
    // margin = w·x over integer features — stopword basis points, a
    // length-band indicator, punctuation basis points — entirely in
    // BIGINT arithmetic, so the keep/drop decision is bit-identical on
    // any engine. Pure narrow projection: zero exchanges, codegen'd
    // word_set_hits, scales as a map over the corpus.
    Query("quality_logreg", (s, dir) => {
      // `div`, not `/`: the Column `/` operator is DOUBLE division; the
      // classifier contract is BIGINT-exact arithmetic end to end
      val stopBp = expr(s"(word_set_hits(text, '${stopEn.mkString(",")}') * 10000L)" +
        " div size(split(text, ' '))")
      val punctBp = expr("(length(regexp_replace(text, '[a-z0-9 ]', '')) * 10000L)" +
        " div greatest(length(text), 1)")
      val lenBand = when(length(col("text")).between(50, 5000), lit(10000L))
        .otherwise(lit(0L))
      val margin = lit(-30000L) + lit(8L) * stopBp + lenBand - lit(5L) * punctBp
      t(s, dir, "documents").select(
        col("doc_id"),
        stopBp.as("stop_bp"),
        punctBp.as("punct_bp"),
        lenBand.as("len_band"),
        margin.as("margin"),
        (margin > 0L).as("keep"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH f AS (SELECT doc_id,
         |   len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)}))::BIGINT * 10000
         |     // len(string_split(text, ' '))::BIGINT AS stop_bp,
         |   length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::BIGINT * 10000
         |     // greatest(length(text)::BIGINT, 1) AS punct_bp,
         |   CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 10000 ELSE 0 END::BIGINT AS len_band
         | FROM documents)
         | SELECT doc_id, stop_bp, punct_bp, len_band,
         |   -30000 + 8 * stop_bp + len_band - 5 * punct_bp AS margin,
         |   (-30000 + 8 * stop_bp + len_band - 5 * punct_bp) > 0 AS keep
         | FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // CCNet-style perplexity bucketing (Wenzek et al. '19): rank each
    // language's documents by a language-model score and split into
    // head/middle/tail terciles — THE canonical crawl-curation cut. The
    // LM proxy here is integer-quantized unigram surprisal (token rarity
    // class = floor(log2(global_freq)) computed as length(bin(gf))−1 —
    // pure integer/string arithmetic, zero libm involvement, so the
    // within-language ORDER is bit-exact cross-engine, which a
    // double-ln score cannot promise). Terciles via Rank.globalNtile —
    // one range-partitioned rank pass, no per-language single-task
    // window (a language of a 100 TB corpus is not one task's data).
    Query("quality_ppl_buckets", (s, dir) => {
      // r17: two single-pass shapes rejected by A/B — persisting the
      // (doc, lang, term) aggregate and deriving gf from it measured ~2x
      // slower (cache barrier); a term-partitioned window for gf
      // measured flat and loses AQE skew-splitting at scale (§2.5).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val gf = toks.groupBy("term").agg(count(lit(1)).as("gf"))
      val scored = toks.groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("c"))
        .join(gf, "term")
        .groupBy("doc_id", "lang")
        .agg(sum("c").as("n_tok"),
          sum(col("c") * (length(bin(col("gf"))) - 1)).as("s"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("(s * 1000) div n_tok").as("fam_milli"))
      graft.ops.Rank.globalNtile(scored, "lang",
          Seq(col("fam_milli").desc, col("doc_id")), 3)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("fam_milli"),
          when(col("tile") === 1, lit("head"))
            .when(col("tile") === 2, lit("middle"))
            .otherwise(lit("tail")).as("ppl_bucket"))
        .orderBy("doc_id")
    },
      oracle = """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        | tk AS (SELECT doc_id, lang, term FROM tok WHERE term <> ''),
        | gf AS (SELECT term, count(*)::BIGINT AS gf FROM tk GROUP BY term),
        | dt AS (SELECT doc_id, lang, term, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2, 3),
        | sc AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tok,
        |               CAST(sum(c * (length(bin(gf)) - 1)) AS BIGINT) AS s
        |        FROM dt JOIN gf USING (term) GROUP BY 1, 2),
        | s2 AS (SELECT doc_id, lang, n_tok, (s * 1000) // n_tok AS fam_milli FROM sc),
        | r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY fam_milli DESC, doc_id) AS rw,
        |              count(*) OVER (PARTITION BY lang) AS n_l FROM s2)
        | SELECT doc_id, lang, n_tok, fam_milli,
        |        CASE 1 + ((rw - 1) * 3) // n_l WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        | FROM r ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Domain-mixture reweighting (the DoReMi/data-mixing step of a
    // pretraining pipeline, with FIXED target shares): given a literal
    // target token share per language, the per-domain keep rate that
    // realizes the mixture by downsampling — `need_bp` > 10000 marks
    // domains the target can only reach by UPSAMPLING (epoch repeats),
    // which filtering cannot do; `keep_bp` is the clamped realizable
    // rate. All integer basis points — one narrow scan + one 5-row agg.
    Query("corpus_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val target = s.range(1).select(explode(array(
          struct(lit("en").as("lang"), lit(4000L).as("target_bp")),
          struct(lit("de").as("lang"), lit(1500L).as("target_bp")),
          struct(lit("fr").as("lang"), lit(1500L).as("target_bp")),
          struct(lit("es").as("lang"), lit(1500L).as("target_bp")),
          struct(lit("zh").as("lang"), lit(1500L).as("target_bp")))).as("x"))
        .select(col("x.lang"), col("x.target_bp"))
      val per = docs
        .select(col("lang"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("tok"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      val tot = per.agg(sum("tokens").as("total"))
      per.join(broadcast(target), "lang").crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("tokens"),
          expr("(tokens * 10000) div total").as("natural_bp"),
          col("target_bp"),
          expr("(total * target_bp) div tokens").as("need_bp"),
          least(lit(10000L), expr("(total * target_bp) div tokens")).as("keep_bp"),
          expr("(tokens * least(10000, (total * target_bp) div tokens)) div 10000")
            .as("kept_tokens"))
        .orderBy("lang")
    },
      oracle = """WITH tok AS (SELECT lang, len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS tok FROM documents),
        | per AS (SELECT lang, count(*)::BIGINT AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens FROM tok GROUP BY lang),
        | tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per),
        | tgt(lang, target_bp) AS (VALUES ('en', 4000), ('de', 1500), ('fr', 1500), ('es', 1500), ('zh', 1500))
        | SELECT p.lang, p.n_docs, p.tokens,
        |        (p.tokens * 10000) // t.total AS natural_bp,
        |        CAST(g.target_bp AS BIGINT) AS target_bp,
        |        (t.total * g.target_bp) // p.tokens AS need_bp,
        |        least(10000, (t.total * g.target_bp) // p.tokens) AS keep_bp,
        |        (p.tokens * least(10000, (t.total * g.target_bp) // p.tokens)) // 10000 AS kept_tokens
        | FROM per p JOIN tgt g ON p.lang = g.lang CROSS JOIN tot t
        | ORDER BY p.lang""".stripMargin.replace("\n", " ")),

    // Gopher-style quality rule battery (Rae et al. 2021 §A1.1 shape):
    // per-rule pass flags + a keep verdict, all integer-exact. Rules are
    // rationals over per-doc token stats (no float thresholds): word count
    // in [10, 200], mean word length in [3, 10] (sum_len vs 3·n / 10·n),
    // max word length ≤ 20, ≥ 2 stopword hits, ≥ 50% unique words, top
    // word ≤ 20% of tokens. ZERO shuffle: every stat is row-local, computed
    // in one compiled pass by gopher_stats (functions/GopherStats.scala) —
    // at 100 TB this is a map-only scan, vs the explode → groupBy(doc, w)
    // → groupBy(doc) shape that re-shuffles the full token stream twice.
    Query("quality_gopher", (s, dir) => {
      val docs = t(s, dir, "documents")
      val st = docs.select(col("doc_id"),
          Functions.gopherStats(col("text")).as("g"),
          Functions.wordSetHits(col("text"), stopEn).as("stop_hits"))
        .select(col("doc_id"), col("g.n_tok").as("n_tok"),
          col("g.n_uniq").as("n_uniq"), col("g.top_c").as("top_c"),
          col("g.sum_len").as("sum_len"), col("g.max_len").as("max_len"),
          col("stop_hits"))
      val fWords = col("n_tok") >= 10 && col("n_tok") <= 200
      val fMeanLen = col("sum_len") >= col("n_tok") * 3 &&
        col("sum_len") <= col("n_tok") * 10
      val fMaxLen = col("max_len") <= 20
      val fStop = col("stop_hits") >= 2
      val fUniq = col("n_uniq") * 2 >= col("n_tok")
      val fTop = col("top_c") * 5 <= col("n_tok")
      st.select(col("doc_id"), col("n_tok"),
          fWords.cast("int").as("f_words"),
          fMeanLen.cast("int").as("f_meanlen"),
          fMaxLen.cast("int").as("f_maxlen"),
          fStop.cast("int").as("f_stop"),
          fUniq.cast("int").as("f_uniq"),
          fTop.cast("int").as("f_topword"),
          (fWords && fMeanLen && fMaxLen && fStop && fUniq && fTop)
            .cast("int").as("keep"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         | st AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_uniq, max(c) AS top_c,
         |        sum(length(w) * c) AS sum_len, max(length(w)) AS max_len
         |        FROM wc GROUP BY doc_id),
         | sh AS (SELECT doc_id,
         |        len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits
         |        FROM documents)
         | SELECT st.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |   CAST(n_tok >= 10 AND n_tok <= 200 AS INTEGER) AS f_words,
         |   CAST(sum_len >= n_tok * 3 AND sum_len <= n_tok * 10 AS INTEGER) AS f_meanlen,
         |   CAST(max_len <= 20 AS INTEGER) AS f_maxlen,
         |   CAST(stop_hits >= 2 AS INTEGER) AS f_stop,
         |   CAST(n_uniq * 2 >= n_tok AS INTEGER) AS f_uniq,
         |   CAST(top_c * 5 <= n_tok AS INTEGER) AS f_topword,
         |   CAST(n_tok >= 10 AND n_tok <= 200 AND sum_len >= n_tok * 3
         |        AND sum_len <= n_tok * 10 AND max_len <= 20 AND stop_hits >= 2
         |        AND n_uniq * 2 >= n_tok AND top_c * 5 <= n_tok AS INTEGER) AS keep
         | FROM st JOIN sh ON st.doc_id = sh.doc_id ORDER BY st.doc_id""".stripMargin.replace("\n", " ")),

    // Capstone composition — a real curation pipeline: quality gate
    // (stopword ratio + length) → exact-dedup keep-first → deterministic
    // 50% sample → per-language counts. Every stage is one of the
    // verified ops; this checks they compose.
    Query("pipeline_curate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = docs
        .withColumn("stop_hits", Functions.wordSetHits(col("text"), stopEn))
        .withColumn("n_tok", size(split(col("text"), " ")))
        .where(col("n_tok") >= 20 && col("stop_hits") > 0)
      val keep = Dedup.exactGroups(quality, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val kept = quality.join(keep, "doc_id")
      graft.ops.Sampling.sample(kept, "doc_id", 50)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_tok"), 4).as("avg_tokens"))
        .orderBy("lang")
    },
      oracle = s"""WITH quality AS (
         |   SELECT doc_id, lang, text,
         |          len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits,
         |          len(string_split(text, ' ')) AS n_tok
         |   FROM documents),
         | gated AS (SELECT * FROM quality WHERE n_tok >= 20 AND stop_hits > 0),
         | keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         | kept AS (SELECT g.* FROM gated g JOIN keep k USING (doc_id)),
         | sampled AS (SELECT * FROM kept
         |   WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 50)
         | SELECT lang, count(*) AS n_docs, round(avg(n_tok), 4) AS avg_tokens
         | FROM sampled GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")),

    // Quality-gate ablation sweep: docs/tokens retained at each stopword-
    // ratio threshold (basis points, 0..1800 by 200) — the curve that
    // justifies a gate value before a 100 TB filter run. One pass for the
    // per-doc score, a 10-row threshold broadcast, one grouped agg.
    Query("pipeline_quality_sweep", (s, dir) => {
      import s.implicits._
      val stops = stopEn.mkString(",")
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          expr(s"word_set_hits(text, '$stops') * 10000L div size(split(text, ' '))")
            .as("q_bp"))
      val thresholds = (0 to 1800 by 200).toDF("thr_bp")
      scored.join(broadcast(thresholds), col("q_bp") >= col("thr_bp"))
        .groupBy("thr_bp")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("thr_bp")
    },
      oracle = s"""WITH scored AS (SELECT doc_id,
         |     len(string_split(text, ' '))::BIGINT AS n_tok,
         |     (len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) * 10000)
         |       // len(string_split(text, ' ')) AS q_bp
         |   FROM documents),
         | thr AS (SELECT unnest(range(0, 1801, 200)) AS thr_bp)
         | SELECT thr_bp, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
         | FROM scored JOIN thr ON q_bp >= thr_bp
         | GROUP BY thr_bp ORDER BY thr_bp""".stripMargin.replace("\n", " "))
  )
}

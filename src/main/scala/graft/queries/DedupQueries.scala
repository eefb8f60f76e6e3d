package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

import QueryHelpers.{duckCosine, inList, minhashSigCte, minhashSigCteFrom, normSql,
  scratchDir, stagingFingerprint, stopEn, t, widen}

/** Deduplication: exact, minhash/LSH, simhash, n-gram, span, suffix-array,
  * winnowing, incremental and retract variants, and decontamination.
  */
object DedupQueries {

  /** [[spanDedupExactOracle]] restricted to a doc subset — the retract
    * oracle IS the full recompute over the survivors. */
  private def spanDedupExactOracleOver(cond: String): String =
    spanDedupExactOracle.replace("AS ws FROM documents)",
      s"AS ws FROM documents WHERE $cond)")

  // one oracle for the whole exact-span-dedup family: the k-gram
  // aggregate (dedup_spans_exact) and the SA-run pipeline
  // (dedup_spans_sa) must land on the identical table
  private val spanDedupExactOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | g AS (SELECT doc_id,
      |         unnest(range(0, len(ws) - 4)) AS gpos,
      |         unnest(list_transform(range(0, len(ws) - 4),
      |           i -> array_to_string(ws[i + 1:i + 5], ' '))) AS gh
      |       FROM w WHERE len(ws) >= 5),
      | r AS (SELECT doc_id, gpos,
      |         row_number() OVER (PARTITION BY gh ORDER BY doc_id, gpos) AS rn
      |       FROM g),
      | cov AS (SELECT DISTINCT doc_id, gpos + unnest(range(0, 5)) AS pos
      |         FROM r WHERE rn >= 2),
      | t AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, unnest(ws) AS tok FROM w),
      | kept AS (SELECT t.doc_id, t.pos, t.tok FROM t ANTI JOIN cov USING (doc_id, pos)),
      | rb AS (SELECT doc_id, count(*) AS n_kept,
      |          array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
      |        FROM kept GROUP BY doc_id)
      | SELECT w.doc_id, len(ws)::BIGINT AS n_tok,
      |        coalesce(n_kept, 0)::BIGINT AS n_kept,
      |        coalesce(clean_text, '') AS clean_text
      | FROM w LEFT JOIN rb USING (doc_id)
      | ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** DuckDB rebuild of the fused neighbor-LCP pass (SuffixArray
    * .neighborLcps): literal suffix sort, rank-adjacent pairing, LCP via
    * a list comprehension — shared by suffix_repeated_top and
    * suffix_lcp_profile.
    */
  private val saNeighborLcpCte: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | sfx0 AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM t),
      | sfx AS MATERIALIZED (SELECT doc_id, pos, ws,
      |     array_to_string(ws[pos + 1 :], ' ') AS s FROM sfx0),
      | sa AS MATERIALIZED (SELECT doc_id, pos, ws,
      |     row_number() OVER (ORDER BY s, doc_id, pos) AS rk FROM sfx),
      | pairs AS (SELECT a.doc_id, a.pos, b.doc_id AS nbr_id, b.pos AS nbr_pos,
      |     a.ws[a.pos + 1 :] AS wa, b.ws[b.pos + 1 :] AS wb
      |   FROM sa a JOIN sa b ON b.rk = a.rk + 1),
      | lcp AS (SELECT doc_id, pos, nbr_id, nbr_pos, wa,
      |     coalesce(list_min([i for i in range(1, least(len(wa), len(wb)) + 1)
      |                        if wa[i] IS DISTINCT FROM wb[i]]),
      |              least(len(wa), len(wb)) + 1) - 1 AS lcp
      |   FROM pairs)""".stripMargin.replace("\n", " ")

  val all: Seq[Query] = Seq(

    // Benchmark decontamination: docs with doc_id % 7 == 0 play the eval
    // set; every other doc is scored by shared-shingle fraction.
    Query("decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.overlap(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0),
          "text", "doc_id")
        .orderBy("doc_id")
    },
      oracle = """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | sh AS (SELECT doc_id, len(shl) AS n_sh, unnest(shl) AS sh FROM shl),
        | corp AS (SELECT doc_id, n_sh,
        |          ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh WHERE doc_id % 7 <> 0),
        | bench AS (SELECT DISTINCT ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |           FROM sh WHERE doc_id % 7 = 0),
        | hits AS (SELECT c.doc_id, max(c.n_sh) AS n_sh,
        |          sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_shared
        |          FROM corp c LEFT JOIN bench b ON c.h = b.h GROUP BY c.doc_id)
        | SELECT doc_id, n_sh, n_shared, round(n_shared / n_sh, 4) AS overlap_frac,
        |        (n_shared >= n_sh * 0.5)::INT AS contaminated
        | FROM hits ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // SEMANTIC decontamination — the embedding-level sibling of the
    // n-gram `decontaminate`: a paraphrased benchmark item shares no
    // 3-gram but sits next to the eval set in embedding space. Every
    // corpus vector is scored against the broadcast benchmark set
    // (vec_id % 9 == 0 plays "eval"); one corpus scan, top contaminating
    // benchmark per doc by exact cosine, flagged at ≥ 0.45 (thresholds
    // sit inside the fixture's cosine range — a real deploy pins ~0.85
    // for paraphrase-level leakage). At 100 TB
    // this is the hardNegatives broadcast topology — the benchmark side
    // is small by construction, the corpus never self-joins.
    Query("decontaminate_semantic", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.where(col("vec_id") % 9 === 0)
        .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      val corpus = emb.where(col("vec_id") % 9 =!= 0)
        .withColumn("_nrm", sqrt(expr("vec_dot(embedding, embedding)")))
      val scored = corpus.crossJoin(broadcast(
          bench.withColumn("_bnrm", sqrt(expr("vec_dot(b_emb, b_emb)")))))
        .select(col("vec_id"), col("b_id"),
          (expr("vec_dot(embedding, b_emb)") / (col("_nrm") * col("_bnrm")))
            .as("cos"))
      scored.groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("b_id")).as("nb"))).as("m"))
        .select(col("vec_id"), (-col("m.nb")).as("bench_id"),
          round(col("m.cos"), 4).as("cos_r4"),
          (col("m.cos") >= 0.45).cast("int").as("contaminated"))
        .where(col("m.cos") >= 0.40)
        .orderBy("vec_id")
    },
      oracle = s"""WITH b AS (SELECT vec_id AS b_id, embedding AS b_emb FROM embeddings
         |   WHERE vec_id % 9 = 0),
         | c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 9 <> 0),
         | scored AS (SELECT c.vec_id, b.b_id,
         |     ${duckCosine("c.embedding", "b.b_emb")} AS cos
         |   FROM c CROSS JOIN b),
         | best AS (SELECT vec_id, b_id AS bench_id, cos,
         |     row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, b_id) AS rn
         |   FROM scored)
         | SELECT vec_id, bench_id, round(cos, 4) AS cos_r4,
         |   CAST(cos >= 0.45 AS INT) AS contaminated
         | FROM best WHERE rn = 1 AND cos >= 0.40 ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // Which BENCHMARK leaked into which document? The attribution
    // sibling of `decontaminate`: the eval side keeps its benchmark id
    // (doc_id % 3 splits the % 7 == 0 docs into three pseudo-benchmark
    // sets), so each (doc, benchmark) pair reports its own
    // shared-shingle count — the evidence an exclusion decision cites.
    // Same broadcast-bench / probe-in-place topology as Decontaminate:
    // no corpus shingle shuffle; output fans out only to benchmarks
    // actually hit (≥3 shared shingles).
    Query("decontaminate_attrib", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = Dedup.shingleRows(
          docs.where(col("doc_id") % 7 =!= 0), "text", "doc_id")
        .select(col("doc_id"), col("n_sh"), Dedup.md5Int60(col("sh")).as("h"))
      val bench = Dedup.shingleRows(
          docs.where(col("doc_id") % 7 === 0), "text", "doc_id")
        .select((col("doc_id") % 3).as("bench_id"), Dedup.md5Int60(col("sh")).as("h"))
        .distinct()
      corpus.join(broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(max("n_sh").cast("long").as("n_sh"), count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .select(col("doc_id"), col("bench_id"), col("n_sh"), col("n_shared"),
          expr("n_shared * 10000 div n_sh").as("overlap_bp"))
        .orderBy("doc_id", "bench_id")
    },
      oracle = """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | sh AS (SELECT doc_id, len(shl) AS n_sh, unnest(shl) AS sh FROM shl),
        | corp AS (SELECT doc_id, n_sh,
        |          ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh
        |          WHERE doc_id % 7 <> 0),
        | bench AS (SELECT DISTINCT doc_id % 3 AS bench_id,
        |           ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |           FROM sh WHERE doc_id % 7 = 0),
        | hits AS (SELECT c.doc_id, b.bench_id, max(c.n_sh)::BIGINT AS n_sh,
        |          count(*)::BIGINT AS n_shared
        |          FROM corp c JOIN bench b ON c.h = b.h GROUP BY 1, 2)
        | SELECT doc_id, bench_id, n_sh, n_shared,
        |        (n_shared * 10000 // n_sh)::BIGINT AS overlap_bp
        | FROM hits WHERE n_shared >= 3
        | ORDER BY doc_id, bench_id""".stripMargin.replace("\n", " ")),

    // Cluster-size profile after near-dup clustering — "how duplicated
    // is the corpus, and in what cluster sizes?" Composes the
    // dedup_clusters output with two more key-local aggregations; the
    // profile is what sizes a dedup budget/ETA estimate reads.
    Query("dedup_cluster_stats", (s, dir) => {
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
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
           | cl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
           |        FROM reach GROUP BY s),
           | szs AS (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY cluster_id)
           | SELECT sz, count(*)::BIGINT AS n_clusters FROM szs GROUP BY sz
           | ORDER BY sz""".stripMargin.replace("\n", " ")
      }),

    // Sketch-vs-exact calibration: how well does the 8-component minhash
    // estimate track the exact 3-shingle Jaccard on the pairs LSH
    // actually surfaces? The matrix an engineer reads before trusting a
    // dedup threshold: per (est, exact-decile) cell, pair count and
    // total |est−exact| (both at 4 dp → exact integers). exact_dec = −1
    // isolates LSH's false-positive band collisions (candidates with no
    // shared rare shingle at all). Banded candidates ⋈ inverted-index
    // exact pairs — both linear shapes; the matrix is ≤ 8×12 cells.
    Query("dedup_calibration", (s, dir) => {
      val docs = t(s, dir, "documents")
      // est is consumed twice, but unpersisted on purpose: the two
      // consumers' identical signature+banding subtrees share physically
      // (exchange reuse), and caching measured ~50% slower (r16 A/B)
      val est = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id",
        threshold = 0.25)
      // exact Jaccard scored only for the est pairs (pair-keyed joins) —
      // same values/rows as the full ngramCandidates self-join restricted
      // to them, at |pairs|-bounded cost
      val exact = Dedup.ngramJaccardFor(est, docs, "text", "doc_id",
        k = 3, dfCap = 100)
      est.join(exact, Seq("a_id", "b_id"), "left")
        .select(round(col("est_jaccard") * 10000).cast("long").as("est_e4"),
          round(col("jaccard") * 10000).cast("long").as("_x"))
        .select(col("est_e4"),
          when(col("_x").isNull, lit(-1L)).otherwise(expr("_x div 1000")).as("exact_dec"),
          coalesce(col("_x"), lit(0L)).as("_e4c"))
        .groupBy("est_e4", "exact_dec")
        .agg(count(lit(1)).as("n"),
          sum(abs(col("est_e4") - col("_e4c"))).as("abs_err_e4"))
        .orderBy("est_e4", "exact_dec")
    },
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH $minhashSigCte,
           | cand AS (
           |   SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |          round(($matches) / 8.0, 4) AS est_jaccard
           |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           |   WHERE round(($matches) / 8.0, 4) >= 0.25),
           | exsh AS (SELECT doc_id, len(shingles) AS n_sh,
           |        ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh
           |        FROM (SELECT doc_id,
           |              list_distinct([ws2[i] || ' ' || ws2[i+1] || ' ' || ws2[i+2]
           |                             for i in range(1, greatest(len(ws2) - 1, 1))]) AS shingles
           |              FROM (SELECT doc_id, string_split(text, ' ') AS ws2 FROM documents))),
           | rare AS (SELECT sh FROM exsh GROUP BY sh HAVING count(*) <= 100),
           | exr AS (SELECT exsh.* FROM exsh JOIN rare USING (sh)),
           | xj AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        round(count(*)::DOUBLE /
           |              (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) AS jaccard
           |        FROM exr a JOIN exr b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |        GROUP BY a.doc_id, b.doc_id),
           | j AS (SELECT c.a_id, c.b_id, round(c.est_jaccard * 10000)::BIGINT AS est_e4,
           |              round(x.jaccard * 10000)::BIGINT AS exact_e4
           |       FROM cand c LEFT JOIN xj x USING (a_id, b_id))
           | SELECT est_e4,
           |   (CASE WHEN exact_e4 IS NULL THEN -1 ELSE exact_e4 // 1000 END)::BIGINT AS exact_dec,
           |   count(*)::BIGINT AS n,
           |   sum(abs(est_e4 - coalesce(exact_e4, 0)))::BIGINT AS abs_err_e4
           | FROM j GROUP BY 1, 2 ORDER BY est_e4, exact_dec""".stripMargin.replace("\n", " ")
      }),

    // ---- dedup / similarity / text analysis (LLM-pipeline ops) ----
    Query("dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("keep_id"),
      oracle = """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_cnt
        | FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin.replace("\n", " ")),

    Query("dedup_minhash_sig", (s, dir) =>
      Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"),
      oracle = s"WITH $minhashSigCte SELECT * FROM sig ORDER BY doc_id"),

    Query("dedup_minhash_pairs", (s, dir) =>
      Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
        .orderBy("a_id", "b_id"),
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH $minhashSigCte
           | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        round(($matches) / 8.0, 4) AS est_jaccard
           | FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           | WHERE round(($matches) / 8.0, 4) >= 0.25
           | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")
      }),

    // Per-doc nearest near-duplicates: symmetrized LSH candidate pairs →
    // top-3 per doc by estimated Jaccard via the custom two-phase exec
    // (map-side pruned; the ranking window sees ≤ 3 rows per doc) — the
    // "show me this doc's closest copies" review surface.
    Query("dedup_topk_similar", (s, dir) => {
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
      // symmetrize by exploding both directions of each verified pair —
      // a union of two selects over `pairs` would recompute the banded
      // candidate join (the expensive subtree) twice
      val sym = pairs.select(explode(array(
          struct(col("a_id").as("doc_id"), col("b_id").as("neighbor_id"),
            col("est_jaccard")),
          struct(col("b_id").as("doc_id"), col("a_id").as("neighbor_id"),
            col("est_jaccard")))).as("p"))
        .select(col("p.doc_id"), col("p.neighbor_id"), col("p.est_jaccard"))
      graft.ops.TopK.topKPerGroupExecRanked(sym, Seq("doc_id"),
          Seq(("est_jaccard", true), ("neighbor_id", false)), 3, "rank")
        .orderBy("doc_id", "rank")
    },
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH $minhashSigCte,
           | pairs AS (
           |   SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |          round(($matches) / 8.0, 4) AS est_jaccard
           |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           |   WHERE round(($matches) / 8.0, 4) >= 0.25),
           | sym AS (SELECT a_id AS doc_id, b_id AS neighbor_id, est_jaccard FROM pairs
           |         UNION ALL SELECT b_id, a_id, est_jaccard FROM pairs),
           | ranked AS (SELECT doc_id, neighbor_id, est_jaccard,
           |     row_number() OVER (PARTITION BY doc_id
           |                        ORDER BY est_jaccard DESC, neighbor_id) AS rank
           |   FROM sym)
           | SELECT doc_id, neighbor_id, est_jaccard, rank FROM ranked
           | WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin.replace("\n", " ")
      }),

    // Broder CONTAINMENT over LSH-verified candidates — the asymmetric
    // companion of Jaccard: c(A→B) = |A∩B| / |A| finds docs CONTAINED in
    // a larger doc (quotes, partial copies, shard-overlap fragments) that
    // symmetric similarity under-scores exactly when the size ratio is
    // large. Candidates come banded (never all-pairs); the exact
    // intersection is a keyed join on (pair, shingle) — shuffle bounded
    // by candidate pairs × shared shingles, linear in the verified set.
    Query("dedup_containment", (s, dir) => {
      val docs = t(s, dir, "documents")
      // sh/cand feed multiple consumers but stay uncached: persisting both
      // measured 2x slower (r16 A/B) — the repeated subtrees share
      // physically and the cache breaks stage overlap
      val sh = Dedup.shingleRows(docs, "text", "doc_id").select(col("doc_id"), col("sh"))
      val cand = Dedup.minhashCandidates(
          Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
        .select("a_id", "b_id")
      val inter = cand
        .join(sh.withColumnsRenamed(Map("doc_id" -> "a_id")), "a_id")
        .join(sh.withColumnsRenamed(Map("doc_id" -> "b_id")), Seq("b_id", "sh"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      cand
        .join(inter, Seq("a_id", "b_id"), "left")
        .join(cnt.withColumnsRenamed(Map("doc_id" -> "a_id", "n" -> "n_a")), "a_id")
        .join(cnt.withColumnsRenamed(Map("doc_id" -> "b_id", "n" -> "n_b")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
          coalesce(col("inter"), lit(0L)).as("inter_sh"),
          expr("coalesce(inter, 0) * 10000 div n_a").as("cont_a_bp"),
          expr("coalesce(inter, 0) * 10000 div n_b").as("cont_b_bp"))
        .orderBy("a_id", "b_id")
    },
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH $minhashSigCte,
           | pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           |   WHERE round(($matches) / 8.0, 4) >= 0.25),
           | cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           | i AS (SELECT p.a_id, p.b_id, count(*) AS inter FROM pairs p
           |   JOIN sh sa ON sa.doc_id = p.a_id
           |   JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
           |   GROUP BY p.a_id, p.b_id)
           | SELECT p.a_id, p.b_id, ca.n AS n_a, cb.n AS n_b,
           |   coalesce(i.inter, 0) AS inter_sh,
           |   coalesce(i.inter, 0) * 10000 // ca.n AS cont_a_bp,
           |   coalesce(i.inter, 0) * 10000 // cb.n AS cont_b_bp
           | FROM pairs p
           |   LEFT JOIN i ON i.a_id = p.a_id AND i.b_id = p.b_id
           |   JOIN cnt ca ON ca.doc_id = p.a_id
           |   JOIN cnt cb ON cb.doc_id = p.b_id
           | ORDER BY p.a_id, p.b_id""".stripMargin.replace("\n", " ")
      }),

    // Incremental dedup — the continuous-ingest workflow: the stored
    // corpus (even doc ids) is already signature-indexed; the incoming
    // batch (odd ids) is banded and BROADCAST against it, so the stored
    // side is touched only on colliding band keys. No corpus self-join.
    Query("dedup_incremental", (s, dir) => {
      val sig = Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id")
      Dedup.incrementalMinhashDups(
          sig.where(col("doc_id") % 2 === 0), sig.where(col("doc_id") % 2 === 1),
          "doc_id", threshold = 0.25)
        .orderBy("in_id", "stored_id")
    },
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH $minhashSigCte
           | SELECT a.doc_id AS in_id, b.doc_id AS stored_id,
           |        round(($matches) / 8.0, 4) AS est_jaccard
           | FROM sig a JOIN sig b
           |   ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND ($bandsMatch)
           | WHERE round(($matches) / 8.0, 4) >= 0.25
           | ORDER BY in_id, stored_id""".stripMargin.replace("\n", " ")
      }),

    // REAL streaming replay of the incremental-dedup pipeline: the corpus
    // is staged as 8 parquet files and drained 2 per trigger (4
    // micro-batches) through StreamingDedup.foreachBatch — each batch is
    // MinHash-signed, checked against the persisted signature store, and
    // appended to it; the replay-idempotent _batch-partitioned sinks are
    // the claim under test. The FINAL duplicate-pair table, normalized to
    // unordered pairs, must hash-match the batch twin (one LSH self-join
    // over the whole corpus): band collisions are deterministic per pair,
    // so the pair SET is invariant to how the stream happened to split
    // into batches.
    Query("streaming_replay_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      // fresh store + checkpoint per run: the replay WRITES, and a stale
      // signature store would duplicate every cross-batch pair
      val base = scratchDir("graft_stream_dedup").toString
      docs.repartition(8).write.mode("overwrite").parquet(s"$base/in")
      val src = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2).parquet(s"$base/in")
      // 8 state partitions, the streaming_replay_q14 rationale: tiny
      // per-batch frames make 32 shuffle tasks pure overhead here
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.StreamingDedup.start(src, "text", "doc_id",
          s"$base/sig", s"$base/dups", s"$base/ckpt", threshold = 0.25)
        q.awaitTermination() // AvailableNow: returns once drained
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$base/dups")
        .select(least(col("in_id"), col("stored_id")).as("a_id"),
          greatest(col("in_id"), col("stored_id")).as("b_id"),
          col("est_jaccard"))
        .orderBy("a_id", "b_id")
    },
      // batch twin of the streamed replay: one LSH self-join over the
      // whole corpus, unordered pairs
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH $minhashSigCte
           | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        round(($matches) / 8.0, 4) AS est_jaccard
           | FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           | WHERE round(($matches) / 8.0, 4) >= 0.25
           | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")
      },
      informational = true),

    Query("dedup_simhash", (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"),
      // NOTE: the outer sum() of BIGINT is HUGEINT in DuckDB; the driver's
      // pandas bridge coerces HUGEINT to float64, losing exactness above
      // 2^53 — CAST back to BIGINT so 60-bit simhash values survive.
      oracle = """WITH t AS (
        |   SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        | v AS (
        |   SELECT doc_id, r.b AS b, sum(((h >> r.b) & 1) * 2 - 1) AS vote
        |   FROM t CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r GROUP BY doc_id, r.b)
        | SELECT doc_id,
        |        CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        | FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // SimHash PAIR detection (Manku web-dedup): 4×15-bit band join —
    // lossless for Hamming ≤ 3 by pigeonhole — then exact bit_count
    // verification. Completes the simhash story: dedup_simhash emits
    // the signatures, this finds the near-duplicates.
    Query("dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy("a", "b"),
      oracle = """WITH t AS (
        |   SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        | v AS (
        |   SELECT doc_id, r.b AS b, sum(((h >> r.b) & 1) * 2 - 1) AS vote
        |   FROM t CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r GROUP BY doc_id, r.b),
        | s AS (SELECT doc_id,
        |       CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
        |                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |       FROM v GROUP BY doc_id),
        | bd AS (SELECT doc_id, simhash, r.b AS band,
        |        (simhash >> (r.b * 15)) & 32767 AS key
        |        FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS b) r),
        | cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
        |          bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        |          FROM bd a JOIN bd b
        |            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        | SELECT a, b, hamming FROM cand WHERE hamming <= 3
        | ORDER BY a, b""".stripMargin.replace("\n", " ")),

    // Full dedup endgame: LSH candidates → connected components → cluster
    // ids (the doc each duplicate group canonicalizes to).
    Query("dedup_clusters", (s, dir) => {
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"),
        "doc_id", threshold = 0.25)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
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
           |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
           | SELECT s AS doc_id, least(s, min(d)) AS cluster_id
           | FROM reach GROUP BY s ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    // RETRACTION from the cluster state — the takedown twin of the
    // warm-start row, and the direction star-shaped prior state cannot
    // express: removing a doc can SPLIT its cluster (articulation node)
    // or change its label (component minimum). Prior labels survive for
    // untouched clusters; affected clusters re-pair from the stored
    // signature table restricted to their survivors and re-run CC. The
    // oracle is the FULL recompute over the surviving corpus — hash
    // equality proves both the split and relabel paths.
    Query("dedup_retract_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      // r17: materialize the signature table once — the prior-CC build
      // is EAGER (runs at construction, its own jobs), so unlike the
      // lazy-plan persists the r16 A/Bs rejected there is no exchange
      // reuse to lose: without this the corpus minhash pass runs twice
      // (prior build + retract plan).
      val sigM = graft.ops.Iterate.materialize(
        Dedup.minhashSignature(docs, "text", "doc_id"))
      val sig = sigM.df
      val prior = Dedup.connectedComponents(
        Dedup.minhashCandidates(sig, "doc_id", threshold = 0.25), "a_id", "b_id")
      val rem = docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id")
      Dedup.dedupClustersRetract(sig, rem, "doc_id", prior, threshold = 0.25)
        .withColumnsRenamed(Map("node" -> "doc_id"))
        .orderBy("doc_id")
    },
      // retraction must land on the full recompute over SURVIVORS — same
      // CC oracle, signature CTE restricted to the surviving corpus
      oracle = {
        val matches = (0 until 8).map(i => s"(a.s$i = b.s$i)::INT").mkString(" + ")
        val bandsMatch = (0 until 4).map(b =>
          s"(a.s${2 * b} = b.s${2 * b} AND a.s${2 * b + 1} = b.s${2 * b + 1})").mkString(" OR ")
        s"""WITH RECURSIVE ${minhashSigCteFrom(
            "(SELECT * FROM documents WHERE doc_id % 10 <> 3) docs_r")},
           | pairs AS (
           |   SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |   FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandsMatch)
           |   WHERE round(($matches) / 8.0, 4) >= 0.25),
           | edges AS (SELECT a_id AS s, b_id AS d FROM pairs
           |           UNION SELECT b_id, a_id FROM pairs),
           | reach(s, d) AS (
           |   SELECT s, d FROM edges
           |   UNION
           |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
           | SELECT s AS doc_id, least(s, min(d)) AS cluster_id
           | FROM reach GROUP BY s ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    // WARM-START clustering — the daily-ingest topology: yesterday's
    // clusters (docs with id % 10 ≠ 9) + today's batch (the 9s) banded
    // against the stored corpus (incrementalMinhashDups' broadcast band
    // probe) + in-batch pairs, merged by CC over (prior stars ∪ new
    // edges). The oracle is the FULL recompute over all pairs — hash
    // equality IS the warm-start soundness proof (labels are component
    // minima, so prior star edges preserve min-reachability). Cost
    // bounded by |prior nodes| + |new edges|, never historical edges.
    Query("dedup_clusters_incremental", (s, dir) => {
      // r17: same materialize-once as dedup_retract_clusters — the prior
      // CC is eager, and the signature subtree otherwise rebuilds in the
      // prior job, the cross-pair probe and the in-batch candidate plan.
      val sigM = graft.ops.Iterate.materialize(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", "doc_id"))
      val sig = sigM.df
      val oldSig = sig.where(col("doc_id") % 10 =!= 9)
      val newSig = sig.where(col("doc_id") % 10 === 9)
      val prior = Dedup.connectedComponents(
        Dedup.minhashCandidates(oldSig, "doc_id", threshold = 0.25),
        "a_id", "b_id")
      val crossPairs = Dedup
        .incrementalMinhashDups(oldSig, newSig, "doc_id", threshold = 0.25)
        .select(col("in_id").as("a_id"), col("stored_id").as("b_id"))
      val inBatch = Dedup.minhashCandidates(newSig, "doc_id", threshold = 0.25)
        .select("a_id", "b_id")
      Dedup.connectedComponentsIncremental(prior, "node", "cluster_id",
          crossPairs.unionAll(inBatch), "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
        .orderBy("doc_id")
    },
      // the warm-start path must land on the FULL recompute's clustering —
      // the oracle is dedup_clusters' all-pairs CC verbatim
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
           |   SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
           | SELECT s AS doc_id, least(s, min(d)) AS cluster_id
           | FROM reach GROUP BY s ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    // Canonical-copy selection — the step AFTER near-dup clustering:
    // cluster via minhash+LSH+CC, then keep each cluster's best-quality
    // member (stopword basis points; ties → smallest id). Singleton docs
    // (no near-dup) keep themselves via the left join + coalesce.
    Query("dedup_canonical", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
      val clusters = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnsRenamed(Map("node" -> "doc_id"))
      // integer quality: stopword hits per token in basis points — floor
      // of a non-negative exact-integer ratio == integer division on both
      // engines
      val qualBp = floor((Functions.wordSetHits(col("text"), stopEn).cast("long") * lit(10000L))
        .cast("double") / size(split(col("text"), " "))).cast("long")
      val withCluster = docs.select(col("doc_id"), qualBp.as("quality_bp"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      Dedup.keepBest(withCluster, "cluster_id", "doc_id", "quality_bp")
        .orderBy("cluster_id")
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
           | comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
           |          FROM reach GROUP BY s),
           | q AS (SELECT doc_id,
           |         (len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)}))
           |            * 10000) // len(string_split(text, ' ')) AS quality_bp
           |       FROM documents),
           | wc AS (SELECT q.doc_id, coalesce(c.cluster_id, q.doc_id) AS cluster_id,
           |               q.quality_bp
           |        FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id),
           | best AS (SELECT cluster_id, doc_id, quality_bp, row_number() OVER (
           |            PARTITION BY cluster_id ORDER BY quality_bp DESC, doc_id) AS rn
           |          FROM wc)
           | SELECT cluster_id, doc_id AS keep_id, quality_bp
           | FROM best WHERE rn = 1 ORDER BY cluster_id""".stripMargin.replace("\n", " ")
      }),

    // Cross-doc boilerplate removal: 2-word segments appearing in >5% of
    // docs are dropped corpus-wide, docs reassembled from the survivors
    // (relative df threshold — the same query means the same thing at
    // any SF).
    Query("text_boilerplate", (s, dir) =>
      graft.ops.Quality.dropBoilerplate(t(s, dir, "documents"), "text", "doc_id",
          segWords = 2, maxDfPermille = 50)
        .orderBy("doc_id"),
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        | seg AS (SELECT doc_id,
        |           unnest(range(0, (len(ws) + 1) // 2)) AS seg_idx,
        |           unnest(list_transform(range(0, (len(ws) + 1) // 2),
        |             i -> array_to_string(ws[i * 2 + 1:(i + 1) * 2], ' '))) AS seg
        |         FROM w),
        | sdf AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY seg),
        | boiler AS (SELECT seg FROM sdf, nd WHERE seg_df * 1000 > nd * 50),
        | kept AS (SELECT s.doc_id, s.seg_idx, s.seg FROM seg s
        |          ANTI JOIN boiler b USING (seg)),
        | rebuilt AS (SELECT doc_id, count(*) AS n_kept,
        |               array_to_string(list_transform(
        |                 list_sort(list(struct_pack(seg_idx := seg_idx, seg := seg))),
        |                 x -> x.seg), ' ') AS clean_text
        |             FROM kept GROUP BY doc_id)
        | SELECT w.doc_id, (len(ws) + 1) // 2 AS n_seg,
        |        coalesce(n_kept, 0) AS n_kept,
        |        coalesce(clean_text, '') AS clean_text
        | FROM w LEFT JOIN rebuilt USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Within-document repetition (the OTHER Gopher repetition family —
    // text_dupfrac is cross-document): fraction of a doc's characters
    // covered by its single most frequent word bigram. Integer basis
    // points; deterministic (count desc, bigram asc) tie-break as one
    // partial-aggregable min(struct).
    Query("text_repetition", (s, dir) =>
      graft.ops.Quality.topBigramFraction(t(s, dir, "documents"),
          "text", "doc_id", "n_chars")
        .orderBy("doc_id"),
      oracle = """WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents),
        | bg AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 1),
        |          i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
        |        FROM w WHERE len(ws) >= 2),
        | cnt AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
        | rk AS (SELECT doc_id, bg, cnt,
        |          sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n_bigrams,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rn
        |        FROM cnt),
        | top AS (SELECT doc_id, n_bigrams, bg, cnt FROM rk WHERE rn = 1)
        | SELECT w.doc_id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
        |        coalesce(bg, '') AS top_bigram, coalesce(cnt, 0)::BIGINT AS top_cnt,
        |        (CASE WHEN n_chars > 0
        |              THEN coalesce(cnt, 0) * length(coalesce(bg, '')) * 10000 // n_chars
        |              ELSE 0 END)::BIGINT AS rep_bp
        | FROM w LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Corpus-wide segment dedup, keep-first (CCNet paragraph dedup):
    // exactly one copy of every distinct 2-word segment survives,
    // "first" = smallest (doc_id, seg_idx). Complements text_boilerplate
    // (df-threshold drop-everywhere).
    Query("dedup_segments", (s, dir) =>
      graft.ops.Dedup.dedupSegments(t(s, dir, "documents"), "text", "doc_id",
          segWords = 2)
        .orderBy("doc_id"),
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | seg AS (SELECT doc_id,
        |           unnest(range(0, (len(ws) + 1) // 2)) AS seg_idx,
        |           unnest(list_transform(range(0, (len(ws) + 1) // 2),
        |             i -> array_to_string(ws[i * 2 + 1:(i + 1) * 2], ' '))) AS seg
        |         FROM w),
        | win AS (SELECT doc_id, seg_idx, seg,
        |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |         FROM seg),
        | kept AS (SELECT doc_id, seg_idx, seg FROM win WHERE rn = 1),
        | rebuilt AS (SELECT doc_id, count(*) AS n_kept,
        |               array_to_string(list_transform(
        |                 list_sort(list(struct_pack(seg_idx := seg_idx, seg := seg))),
        |                 x -> x.seg), ' ') AS clean_text
        |             FROM kept GROUP BY doc_id)
        | SELECT w.doc_id, (len(ws) + 1) // 2 AS n_seg,
        |        coalesce(n_kept, 0) AS n_kept,
        |        coalesce(clean_text, '') AS clean_text
        | FROM w LEFT JOIN rebuilt USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Exact-substring span dedup, keep-first (Lee et al. '22 at token-
    // 5-gram granularity): any verbatim repeat of ≥ 5 tokens loses every
    // copy but the globally first — alignment-free, unlike
    // dedup_segments' fixed grid. No pair space: count+min gram
    // aggregate, k-bounded covered-position explode, doc-key rebuild.
    Query("dedup_spans", (s, dir) =>
      graft.ops.Dedup.dedupSpans(t(s, dir, "documents"), "text", "doc_id",
          k = 5)
        .orderBy("doc_id"),
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | g AS (SELECT doc_id,
        |         unnest(range(0, len(ws) - 4)) AS gpos,
        |         unnest(list_transform(range(0, len(ws) - 4),
        |           i -> ('0x' || substr(md5(array_to_string(ws[i + 1:i + 5], ' ')), 1, 15))::BIGINT)) AS gh
        |       FROM w WHERE len(ws) >= 5),
        | r AS (SELECT doc_id, gpos,
        |         row_number() OVER (PARTITION BY gh ORDER BY doc_id, gpos) AS rn
        |       FROM g),
        | cov AS (SELECT DISTINCT doc_id, gpos + unnest(range(0, 5)) AS pos
        |         FROM r WHERE rn >= 2),
        | t AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, unnest(ws) AS tok FROM w),
        | kept AS (SELECT t.doc_id, t.pos, t.tok FROM t ANTI JOIN cov USING (doc_id, pos)),
        | rb AS (SELECT doc_id, count(*) AS n_kept,
        |          array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
        |        FROM kept GROUP BY doc_id)
        | SELECT w.doc_id, len(ws)::BIGINT AS n_tok,
        |        coalesce(n_kept, 0)::BIGINT AS n_kept,
        |        coalesce(clean_text, '') AS clean_text
        | FROM w LEFT JOIN rb USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Exact span dedup on the suffix array — the collision-free twin of
    // dedup_spans (duplicated k-gram ⟺ SA run with neighbor LCP ≥ k);
    // its oracle keys on the RAW gram string where dedup_spans' keys on
    // md5, the only difference between the two pipelines.
    Query("dedup_spans_exact", (s, dir) =>
      graft.ops.Dedup.dedupSpansExact(t(s, dir, "documents"), "text",
          "doc_id", k = 5)
        .orderBy("doc_id"),
      oracle = spanDedupExactOracle),

    // The SAME span dedup through the literal Lee et al. pipeline —
    // suffix array + neighbor LCP runs instead of a k-gram aggregate
    // (see Dedup.dedupSpansSa): capped LCP at exactly k (nothing
    // full-length shuffles), winner selection over the dup mass only.
    // Same oracle SQL as dedup_spans_exact — the two pipelines must
    // hash-identically.
    Query("dedup_spans_sa", (s, dir) =>
      graft.ops.Dedup.dedupSpansSa(t(s, dir, "documents"), "text",
          "doc_id", k = 5)
        .orderBy("doc_id"),
      // the SA-run pipeline must land on the identical table — one oracle
      oracle = spanDedupExactOracle),

    // RETRACTION from incremental span-dedup state — the takedown
    // topology (VERDICT r15 gap #3): the corpus is represented by its
    // persisted occurrence table + covered set (computed here as fixture
    // scaffolding), docs with id % 10 == 3 are removed, and surviving
    // docs whose grams became unique (or whose winner was dethroned)
    // regain text. The oracle is the FULL RECOMPUTE over the surviving
    // corpus — hash equality proves retraction soundness the same way
    // the incremental rows prove append soundness.
    Query("dedup_retract", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rem = docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id")
      // r17: materializing spanOccurrences once (± widen) and deriving
      // spanCovered from it measured 20-100% SLOWER in paired same-window
      // A/Bs despite removing ~6 corpus re-explodes — the word_grams
      // explode fuses into each consumer's codegen stage and recompute
      // beats the checkpoint round-trip at this size (the recurring
      // persist-vs-fusion lesson; fast_docs won the same combo only
      // because its per-row regex parse is far heavier).
      graft.ops.Dedup.dedupSpansSaRetract(docs, rem, "text", "doc_id", k = 5,
          priorOcc = graft.ops.Dedup.spanOccurrences(docs, "text", "doc_id", 5),
          priorCovered = graft.ops.Dedup.spanCovered(docs, "text", "doc_id", 5))
        .orderBy("doc_id")
    },
      oracle = spanDedupExactOracleOver("doc_id % 10 <> 3")),

    // WARM-START span dedup — the daily-append topology: yesterday's
    // corpus (ids % 10 ≠ 9) is represented ONLY by its persisted state
    // (spanGramIndex = the k-bounded SA's run summary, spanCovered = its
    // covered positions; both computed here as fixture scaffolding);
    // today's batch (the 9s) merges against the index with one
    // gram-keyed join — nothing old is re-sorted. The oracle is the FULL
    // RECOMPUTE over the union: hash equality IS the warm-start
    // soundness proof (the connectedComponentsIncremental pattern).
    Query("dedup_spans_sa_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val stored = docs.where(col("doc_id") % 10 =!= 9)
      val batch = docs.where(col("doc_id") % 10 === 9)
      // the prior corpus's state is PERSISTED in production (it is the
      // artifact the previous run wrote) — staged once per (sfDir,
      // fingerprint) like the media corpora, so the timed path is what a
      // daily append actually pays: state scan + batch gram merge +
      // rebuild. ScaleCurveSmoke's suffix_array_doubling row stages it
      // bucketed-by-gram for volume.
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_spanstate_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        stagingFingerprint(dir, "documents.parquet")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_DONE"))) {
        graft.ops.Dedup.spanGramIndex(stored, "text", "doc_id", k = 5)
          .write.mode("overwrite").parquet(s"$staged/index")
        graft.ops.Dedup.spanCovered(stored, "text", "doc_id", k = 5)
          .write.mode("overwrite").parquet(s"$staged/covered")
        java.nio.file.Files.createFile(java.nio.file.Paths.get(staged, "_DONE"))
        ()
      }
      graft.ops.Dedup.dedupSpansSaIncremental(stored, batch, "text", "doc_id",
          k = 5,
          priorIndex = s.read.parquet(s"$staged/index"),
          priorCovered = s.read.parquet(s"$staged/covered"))
        .orderBy("doc_id")
    },
      // the warm-start run must equal the full recompute over the union —
      // the oracle IS the full recompute (same SQL as dedup_spans_sa)
      oracle = spanDedupExactOracle),

    // Distributed SUFFIX ARRAY (Manber–Myers prefix doubling — see
    // ops/SuffixArray.scala): the full per-suffix rank table, checked
    // against DuckDB literally sorting every suffix string. Closes the
    // dedupSpans k-gram approximation gap with the exact structure the
    // Lee et al. pipeline builds.
    Query("suffix_array", (s, dir) =>
      graft.ops.SuffixArray.build(widen(t(s, dir, "documents")), "text", "doc_id")
        .orderBy("doc_id", "pos"),
      oracle = """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | sfx0 AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM t),
        | sfx AS (SELECT doc_id, pos, array_to_string(ws[pos + 1 :], ' ') AS s FROM sfx0)
        | SELECT doc_id, pos, row_number() OVER (ORDER BY s, doc_id, pos) AS sa_rank
        | FROM sfx ORDER BY doc_id, pos""".stripMargin.replace("\n", " ")),

    // Longest repeated substrings — the textbook SA application: max-LCP
    // SA-adjacent pairs, top 20 with a 10-token snippet. The trailing
    // rank window runs over the 20 post-limit rows (TakeOrderedAndProject
    // does the global top-k; nothing corpus-sized is sorted in one task).
    // neighborLcps fuses build + neighbor compare into one sorted pass
    // (lead() over the ranking's own checkpoint — no slice join, no rank
    // self-join, exact LCPs); long-doc corpora fall back to the capped
    // escalating pipeline inside the op.
    Query("suffix_repeated_top", (s, dir) => {
      val docs = widen(t(s, dir, "documents"))
      val ord = Seq(col("lcp").desc, col("doc_id").asc, col("pos").asc,
        col("nbr_id").asc, col("nbr_pos").asc)
      val top = graft.ops.SuffixArray.neighborLcps(docs, "text", "doc_id")
        .orderBy(ord: _*)
        .limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
      docs.select(col("doc_id").as("_sid"), split(col("text"), " ").as("_sws"))
        .join(broadcast(top), col("_sid") === col("doc_id"))
        .select(col("doc_id"), col("pos"), col("nbr_id"), col("nbr_pos"),
          col("lcp"),
          array_join(expr(
            "slice(_sws, CAST(pos + 1 AS INT), CAST(least(lcp, 10) AS INT))"),
            " ").as("snippet"),
          col("rank"))
        .orderBy("rank")
    },
      // the oracle SORTS EVERY SUFFIX STRING outright — feasible single-node,
      // which is exactly the contrast with the distributed prefix-doubling
      // build; token-level LCP via the first-mismatch list comprehension
      oracle = s"""WITH $saNeighborLcpCte,
        | top AS (SELECT *, row_number() OVER (ORDER BY lcp DESC, doc_id, pos, nbr_id, nbr_pos) AS rnk
        |   FROM lcp)
        | SELECT doc_id, pos, nbr_id, nbr_pos, CAST(lcp AS BIGINT) AS lcp,
        |   array_to_string(wa[1 : least(lcp, 10)], ' ') AS snippet,
        |   CAST(rnk AS BIGINT) AS rank
        | FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin.replace("\n", " ")),

    // Corpus duplication profile — the Lee et al. diagnostic read off
    // the same fused neighbor-LCP pass as suffix_repeated_top: how many
    // SA-adjacent pairs share >= L tokens, by threshold bucket (a pair
    // with lcp >= L marks a duplicated L-token span). The report a
    // curation run consults to PICK the span-dedup k before running it.
    Query("suffix_lcp_profile", (s, dir) => {
      val lcps = graft.ops.SuffixArray.neighborLcps(
        widen(t(s, dir, "documents")), "text", "doc_id")
      val bucket = when(col("lcp") >= 50, 50L).when(col("lcp") >= 20, 20L)
        .when(col("lcp") >= 10, 10L).when(col("lcp") >= 5, 5L)
        .when(col("lcp") >= 2, 2L).when(col("lcp") >= 1, 1L).otherwise(0L)
      lcps.select(bucket.as("lcp_ge"), col("lcp"))
        .groupBy("lcp_ge")
        .agg(count(lit(1)).as("n_pairs"), max("lcp").as("max_lcp"))
        .orderBy("lcp_ge")
    },
      oracle = s"""WITH $saNeighborLcpCte
        | SELECT CASE WHEN lcp >= 50 THEN 50 WHEN lcp >= 20 THEN 20
        |             WHEN lcp >= 10 THEN 10 WHEN lcp >= 5 THEN 5
        |             WHEN lcp >= 2 THEN 2 WHEN lcp >= 1 THEN 1
        |             ELSE 0 END AS lcp_ge,
        |        count(*) AS n_pairs, CAST(max(lcp) AS BIGINT) AS max_lcp
        | FROM lcp GROUP BY 1 ORDER BY lcp_ge""".stripMargin.replace("\n", " ")),

    // Boundary-stitch dedup candidates (split-document crawl artifact):
    // see Dedup.stitchCandidates.
    Query("dedup_stitch", (s, dir) =>
      graft.ops.Dedup.stitchCandidates(t(s, dir, "documents"),
          "text", "doc_id", k = 3, cap = 100)
        .orderBy("id_a", "id_b"),
      oracle = """WITH d AS (SELECT doc_id,
        |        array_to_string(string_split(text, ' ')[1:3], ' ') AS head_g,
        |        array_to_string(string_split(text, ' ')[len(string_split(text, ' ')) - 2:len(string_split(text, ' '))], ' ') AS tail_g
        |      FROM documents WHERE len(string_split(text, ' ')) >= 3),
        | tails AS (SELECT doc_id AS id_a, tail_g AS g FROM d),
        | heads AS (SELECT doc_id AS id_b, head_g AS g FROM d),
        | tok AS (SELECT g FROM tails GROUP BY g HAVING count(*) <= 100),
        | hok AS (SELECT g FROM heads GROUP BY g HAVING count(*) <= 100)
        | SELECT id_a, id_b, t.g AS boundary
        | FROM tails t JOIN tok USING (g) JOIN hok USING (g) JOIN heads h USING (g)
        | WHERE id_a <> id_b
        | ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),

    // Overlapping document chunking (200-char windows, 150 stride → 50
    // overlap): the corpus-prep step for context-bounded training and
    // retrieval. Pure projection + generator — narrow, no shuffle until
    // the output sort; chunk count derives from length, so skew follows
    // document length, not key distribution.
    Query("text_chunk", (s, dir) =>
      t(s, dir, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(1), length(col("text")), lit(150)))
            .as(Seq("chunk_idx", "chunk_start")))
        .select(col("doc_id"), col("chunk_idx"),
          col("chunk_start").cast("long").as("chunk_start"),
          col("text").substr(col("chunk_start"), lit(200)).as("chunk"))
        .withColumn("chunk_len", length(col("chunk")).cast("long"))
        .orderBy("doc_id", "chunk_idx"),
      oracle = """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
        | c AS (SELECT doc_id, text,
        |        unnest(range(0, ((n - 1) // 150) + 1))::INT AS chunk_idx,
        |        unnest(range(1, n + 1, 150))::BIGINT AS chunk_start FROM d)
        | SELECT doc_id, chunk_idx, chunk_start,
        |        substr(text, chunk_start, 200) AS chunk,
        |        length(substr(text, chunk_start, 200))::BIGINT AS chunk_len
        | FROM c ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " ")),

    Query("text_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(Functions.normalizeLabel(col("text"))).as("fp"))
        .orderBy("doc_id"),
      oracle = s"SELECT doc_id, md5(${normSql("text")}) AS fp FROM documents ORDER BY doc_id"),

    Query("text_fingerprint_rolling", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), expr("rolling_hash(text)").as("rh"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE list_reduce([unicode(ch)::BIGINT for ch in string_split(text, '')],
        |                        (a, b) -> (a * 31 + b) % 999999999999989) END AS rh
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Content-defined chunk dedup (LBFS / rsync / FastCDC — the
    // insertion-ROBUST exact-substring key): `cdc_chunks` (native
    // one-pass codegen expression) cuts each doc where the trailing
    // 8-codepoint polynomial hash lands on a 5-bit zero mask (expected
    // 32-char chunks). Boundaries depend only on local content, so an
    // edit re-chunks its neighborhood and every later chunk RE-ALIGNS —
    // shared chunks survive insertions that shift every fixed-width
    // gram (the property dedup_spans' fixed k-grams lack). Corpus dedup
    // is then the dedup_exact shape on chunk hashes: one generator
    // explode + one key-local aggregation, linear, no pair space.
    Query("dedup_cdc", (s, dir) =>
      t(s, dir, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          expr("cdc_chunks(text, 8, 5)").as("cuts"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(cuts)), i ->
             | substring(text, IF(i = 1, 0, element_at(cuts, i - 1)) + 1,
             |   element_at(cuts, i) - IF(i = 1, 0, element_at(cuts, i - 1))))"""
            .stripMargin.replace("\n", " "))).as("chunk"))
        .select(expr("md5_long(chunk, 15)").as("h"),
          col("doc_id"), length(col("chunk")).as("clen"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct("doc_id").as("n_docs"),
          min("clen").as("clen"))
        .where(col("n_copies") > 1)
        .orderBy(col("n_copies").desc, col("h"))
        .limit(100),
      oracle = """WITH d AS (SELECT doc_id, text, string_split(text, '') AS a
        |           FROM documents WHERE length(text) > 0),
        | cut0 AS (SELECT doc_id, text, len(a) AS n,
        |     [p for p in range(8, len(a) + 1) if
        |        (list_sum([unicode(a[p - j])::BIGINT
        |           * ([1, 31, 961, 29791, 923521, 28629151, 887503681, 512613922])[j + 1]::BIGINT
        |           for j in range(0, 8)]) % 1000000007) % 32 = 0] AS cs
        |   FROM d),
        | cuts AS (SELECT doc_id, text,
        |     CASE WHEN len(cs) = 0 OR cs[-1] <> n THEN list_append(cs, n)
        |          ELSE cs END AS cuts
        |   FROM cut0),
        | chunks AS (SELECT doc_id,
        |     unnest([substr(text,
        |         (CASE WHEN i = 1 THEN 0 ELSE cuts[i - 1] END) + 1,
        |         cuts[i] - (CASE WHEN i = 1 THEN 0 ELSE cuts[i - 1] END))
        |       for i in range(1, len(cuts) + 1)]) AS chunk
        |   FROM cuts),
        | hs AS (SELECT doc_id, ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS h,
        |          length(chunk) AS clen FROM chunks)
        | SELECT h, count(*)::BIGINT AS n_copies,
        |   count(DISTINCT doc_id)::BIGINT AS n_docs, min(clen)::INT AS clen
        | FROM hs GROUP BY h HAVING count(*) > 1
        | ORDER BY n_copies DESC, h LIMIT 100""".stripMargin.replace("\n", " ")),

    // Winnowing (MOSS) fingerprints: every verbatim match of length
    // ≥ w+k−1 = 11 chars is guaranteed a shared fingerprint; output is
    // the per-doc fingerprint count + order-independent XOR digest.
    Query("text_winnowing", (s, dir) =>
      Dedup.winnowFingerprints(widen(t(s, dir, "documents")), "text", "doc_id",
          k = 8, w = 4)
        .orderBy("doc_id"),
      oracle = """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        | g AS (SELECT doc_id, n - 7 AS n_pos, text,
        |         unnest(range(1, n - 7 + 1)) AS pos FROM d WHERE n >= 11),
        | h AS (SELECT doc_id, n_pos, pos,
        |         ('0x' || substr(md5(substr(text, pos, 8)), 1, 15))::BIGINT AS fp
        |       FROM g),
        | w AS (SELECT doc_id, n_pos, pos,
        |         min(fp) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |       FROM h),
        | s AS (SELECT DISTINCT doc_id, sel AS fp FROM w WHERE pos <= n_pos - 3),
        | a AS (SELECT doc_id, count(*) AS n_fp, bit_xor(fp) AS fp_xor
        |       FROM s GROUP BY doc_id)
        | SELECT d.doc_id, coalesce(n_fp, 0) AS n_fp, coalesce(fp_xor, 0) AS fp_xor
        | FROM d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),

    // Shared-winnowing-fingerprint pair candidates: substring-level
    // overlap detection (containment), which whole-document minhash
    // dilutes away. df-capped fp join — same blowup bound as dedup_ngram.
    Query("dedup_winnow_pairs", (s, dir) =>
      Dedup.winnowPairs(widen(t(s, dir, "documents")), "text", "doc_id",
          k = 8, w = 4, dfCap = 20, minShared = 10, minContainBp = 2500)
        .orderBy("a", "b"),
      oracle = """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        | g AS (SELECT doc_id, n - 7 AS n_pos, text,
        |         unnest(range(1, n - 7 + 1)) AS pos FROM d WHERE n >= 11),
        | h AS (SELECT doc_id, n_pos, pos,
        |         ('0x' || substr(md5(substr(text, pos, 8)), 1, 15))::BIGINT AS fp
        |       FROM g),
        | w AS (SELECT doc_id, n_pos, pos,
        |         min(fp) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |       FROM h),
        | s AS (SELECT DISTINCT doc_id, sel AS fp FROM w WHERE pos <= n_pos - 3),
        | cnts AS (SELECT doc_id, count(*) AS n_fp FROM s GROUP BY doc_id),
        | dfq AS (SELECT fp, count(*) AS df FROM s GROUP BY fp),
        | idx AS (SELECT s.fp, s.doc_id FROM s JOIN dfq USING (fp) WHERE df <= 20),
        | pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
        |        FROM idx x JOIN idx y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |        GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 10)
        | SELECT a, b, shared,
        |        (shared * 10000 // least(ca.n_fp, cb.n_fp))::BIGINT AS contain_bp
        | FROM pr JOIN cnts ca ON pr.a = ca.doc_id
        |         JOIN cnts cb ON pr.b = cb.doc_id
        | WHERE shared * 10000 // least(ca.n_fp, cb.n_fp) >= 2500
        | ORDER BY a, b""".stripMargin.replace("\n", " ")),

    // Within-document token dedup, keep-first (the self-repetition
    // cleaning step; dedup_segments is the corpus-wide version). Pure
    // narrow projection — array_distinct preserves first-occurrence
    // order — so the plan has ZERO exchanges before the output sort.
    Query("text_selfdedup", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_kept"),
        array_join(array_distinct(split(col("text"), " ")), " ").as("dedup_text"))
        .orderBy("doc_id"),
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tok AS (SELECT doc_id, unnest(ws) AS tk,
        |           generate_subscripts(ws, 1) AS i FROM w),
        | firsts AS (SELECT doc_id, tk, min(i) AS i FROM tok GROUP BY doc_id, tk),
        | reb AS (SELECT doc_id, count(*) AS n_kept,
        |           array_to_string(list(tk ORDER BY i), ' ') AS dedup_text
        |         FROM firsts GROUP BY doc_id)
        | SELECT w.doc_id, len(ws)::BIGINT AS n_tok,
        |        coalesce(n_kept, 0)::BIGINT AS n_kept,
        |        coalesce(dedup_text, '') AS dedup_text
        | FROM w LEFT JOIN reb USING (doc_id) ORDER BY w.doc_id""".stripMargin.replace("\n", " ")),

    // SemDeDup (Abbas '23): nearest-centroid clustering, then WITHIN each
    // cluster cosine-threshold pruning with the paper's keep-low-centroid-
    // sim rule (id tie-break). The pair space is per-cluster — `cluster`
    // is the self-join's only shuffle key, and K grows with the corpus so
    // the per-cluster quadratic term stays bounded; never all-pairs.
    Query("dedup_semantic", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.semanticDedup(emb, cents, "vec_id", "embedding",
          "c_id", "c_emb", threshold = 0.35)
        .select(col("vec_id"), col("cluster"),
          round(col("cent_cos"), 4).as("cent_cos"), col("drop").as("is_dup"))
        .orderBy("vec_id")
    },
      oracle = s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id, c.c_emb,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster,
         |               ${duckCosine("c_emb", "embedding")} AS cent_cos
         |        FROM assign WHERE rk = 1),
         | drops AS (
         |   SELECT DISTINCT a.vec_id
         |   FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |   WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
         |     AND (b.cent_cos < a.cent_cos
         |          OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id)))
         | SELECT a2.vec_id, a2.cluster, round(a2.cent_cos, 4) AS cent_cos,
         |        CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
         | FROM a2 LEFT JOIN drops d ON a2.vec_id = d.vec_id
         | ORDER BY a2.vec_id""".stripMargin.replace("\n", " ")),

    // RETRACTION from semantic-dedup state (vec_id ≡ 3 mod 10 removed):
    // survivors can be REINSTATED — a drop whose every better same-cell
    // duplicate was removed loses its flag. Centroids are the trained
    // index and do not move on takedown, so stored cluster/cent_cos stay
    // valid and only affected cells re-run the pair semi-join. Oracle =
    // full recompute over survivors with the ORIGINAL centroid set.
    Query("dedup_retract_semantic", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      // NO persist on the state frame, deliberately: a cross-window
      // BenchOne first suggested one helped (2.15 → ~1.5), but the
      // rigorous interleaved same-JVM A/B (4 alternating reps) showed
      // the persist SLOWER (1.64-1.99 unpersisted vs 1.81-2.31
      // persisted) — ReuseExchange already shares the assign+pair
      // subtree across the retract plan's four reads, and the
      // InMemoryRelation round-trip loses to codegen fusion (the
      // persist-vs-exchange-reuse rule, confirmed again).
      val state = Similarity.semanticDedupState(emb, cents, "vec_id",
        "embedding", "c_id", "c_emb", threshold = 0.35)
      val rem = emb.where(pmod(col("vec_id"), lit(10)) === 3).select("vec_id")
      Similarity.semanticDedupRetract(state, rem, "vec_id", "embedding",
          threshold = 0.35)
        .select(col("vec_id"), col("cluster"),
          round(col("cent_cos"), 4).as("cent_cos"), col("drop").as("is_dup"))
        .orderBy("vec_id")
    },
      // full recompute over survivors, centroids from the ORIGINAL corpus
      // (the trained index does not move on takedown)
      oracle = s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | surv AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id, c.c_emb,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM surv e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster,
         |               ${duckCosine("c_emb", "embedding")} AS cent_cos
         |        FROM assign WHERE rk = 1),
         | drops AS (
         |   SELECT DISTINCT a.vec_id
         |   FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |   WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
         |     AND (b.cent_cos < a.cent_cos
         |          OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id)))
         | SELECT a2.vec_id, a2.cluster, round(a2.cent_cos, 4) AS cent_cos,
         |        CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
         | FROM a2 LEFT JOIN drops d ON a2.vec_id = d.vec_id
         | ORDER BY a2.vec_id""".stripMargin.replace("\n", " ")),

    // Incremental SemDeDup: a 10% incoming batch (vec_id ≡ 9 mod 10)
    // against the stored 90% — broadcast batch vs cluster-assigned
    // stored side (stored corpus touched only on the batch's clusters,
    // never self-joined), in-batch keep-first on the same broadcast. The
    // semantic twin of dedup_incremental's band-table topology.
    Query("dedup_semantic_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.semanticDedupIncremental(
          emb.where(col("vec_id") % 10 =!= 9), emb.where(col("vec_id") % 10 === 9),
          cents, "vec_id", "embedding", "c_id", "c_emb", threshold = 0.35)
        .orderBy("vec_id")
    },
      oracle = s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | assign AS (
         |   SELECT e.vec_id, e.embedding, c.c_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${duckCosine("c.c_emb", "e.embedding")} DESC, c.c_id) AS rk
         |   FROM embeddings e CROSS JOIN cents c),
         | a2 AS (SELECT vec_id, embedding, c_id AS cluster FROM assign WHERE rk = 1),
         | b AS (SELECT * FROM a2 WHERE vec_id % 10 = 9),
         | s AS (SELECT * FROM a2 WHERE vec_id % 10 <> 9),
         | m AS (
         |   SELECT b.vec_id, s.vec_id AS m_id FROM b JOIN s ON b.cluster = s.cluster
         |   WHERE ${duckCosine("b.embedding", "s.embedding")} >= 0.35
         |   UNION ALL
         |   SELECT b.vec_id, p.vec_id AS m_id FROM b JOIN b p
         |     ON b.cluster = p.cluster AND p.vec_id < b.vec_id
         |   WHERE ${duckCosine("b.embedding", "p.embedding")} >= 0.35),
         | mm AS (SELECT vec_id, min(m_id) AS match_id FROM m GROUP BY vec_id)
         | SELECT b.vec_id, b.cluster, mm.match_id,
         |        CASE WHEN mm.match_id IS NULL THEN 0 ELSE 1 END AS is_dup
         | FROM b LEFT JOIN mm ON b.vec_id = mm.vec_id
         | ORDER BY b.vec_id""".stripMargin.replace("\n", " ")),

    // Word-3-gram Jaccard near-dup via an inverted shingle index self-join
    // with a document-frequency cap on shingles (see Dedup.ngramCandidates
    // — the guard against the boilerplate-shingle k² blowup).
    Query("dedup_ngram", (s, dir) =>
      Dedup.ngramCandidates(widen(t(s, dir, "documents")), "text", "doc_id",
          k = 3, dfCap = 100, threshold = 0.5)
        .orderBy("a_id", "b_id"),
      oracle = """WITH sh AS (
        |   SELECT doc_id,
        |          list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                         for i in range(1, greatest(len(ws) - 1, 1))]) AS shingles
        |   FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        | ex AS (SELECT doc_id, len(shingles) AS n_sh,
        |        ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh FROM sh),
        | rare AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 100),
        | exr AS (SELECT ex.* FROM ex JOIN rare USING (sh))
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) AS jaccard
        | FROM exr a JOIN exr b ON a.sh = b.sh AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id
        | HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) >= 0.5
        | ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")),

    // Bag-of-words cosine similarity join (integer cos²·10⁴ over the
    // df-capped discriminative-term subspace) — the weighted-vector
    // complement of dedup_ngram's set Jaccard, same linear
    // inverted-index topology.
    Query("dedup_cosine_pairs", (s, dir) =>
      Dedup.cosinePairs(t(s, dir, "documents"), "text", "doc_id",
          minCos2Bp = 2500, dfCap = 100)
        .orderBy("a", "b"),
      oracle = """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |        WHERE term <> '' GROUP BY doc_id, term),
        | dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | idx AS (SELECT tf.term, tf.doc_id, tf.tf FROM tf
        |         JOIN dfq USING (term) WHERE df <= 100),
        | norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM idx GROUP BY doc_id),
        | dot AS (SELECT x.doc_id AS a, y.doc_id AS b, sum(x.tf * y.tf)::BIGINT AS dot
        |         FROM idx x JOIN idx y ON x.term = y.term AND x.doc_id < y.doc_id
        |         GROUP BY x.doc_id, y.doc_id)
        | SELECT a, b, dot,
        |        (dot * dot * 10000 // (na.n2 * nb.n2))::BIGINT AS cos2_bp
        | FROM dot JOIN norms na ON dot.a = na.doc_id
        |          JOIN norms nb ON dot.b = nb.doc_id
        | WHERE dot * dot * 10000 // (na.n2 * nb.n2) >= 2500
        | ORDER BY a, b""".stripMargin.replace("\n", " ")),

    // Prefix-filter set-similarity self-join (PPJoin-style candidate
    // generation under a global rare-first shingle order, exact
    // integer-arithmetic verify — see Dedup.prefixJaccardJoin).
    Query("dedup_ppjoin", (s, dir) =>
      Dedup.prefixJaccardJoin(t(s, dir, "documents"), "text", "doc_id",
          k = 3, tNum = 1, tDen = 2)
        .orderBy("id_a", "id_b"),
      // Brute-force O(n²) reference for the prefix-filtered join — the
      // oracle verifies LOSSLESSNESS of the candidate pruning: every pair
      // with set-Jaccard ≥ 1/2 must appear, with exact inter/union counts.
      oracle = """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | hs AS (SELECT doc_id,
        |        [('0x' || substr(md5(s), 1, 15))::BIGINT for s in shl] AS hs
        |        FROM shl WHERE len(shl) > 0),
        | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
        |        (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::BIGINT AS uni
        |        FROM hs a, hs b WHERE a.doc_id < b.doc_id)
        | SELECT id_a, id_b, inter, uni, (inter * 10000 // uni)::BIGINT AS sim_bp
        | FROM p WHERE inter * 2 >= uni ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))
  )
}

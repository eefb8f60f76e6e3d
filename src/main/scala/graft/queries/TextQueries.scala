package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Dedup

import QueryHelpers.{inList, minhashSigCte, stopEn, t}

/** Text and language models: tokenization, BPE, n-gram LMs, language id
  * and text features.
  */
object TextQueries {

  /** Pinned multilingual sentences for the unicode-segmentation oracle
    * row (text_tokens_unicode) — shapes chosen so JDK BreakIterator and
    * the oracle's RE2 script-run regex provably agree: no mixed-script
    * runs without separators, no combining sequences (precomposed
    * forms), joiners limited to ' - . , _ between alphanumerics.
    */
  private[graft] val multilingualFixture: Seq[String] = Seq(
    "Hello, world! It's 42 meters-long.",
    "naïve café résumé",
    "Ελληνικά κείμενο",
    "русский текст тут",
    "日本語のテキスト",
    "中文文本处理",
    "한국어 텍스트",
    "mixed 中文 and English 1,000")

  /** Kneser-Ney cross-multiplied ppm over the bigram-type columns
    * (c, cv, n1pv, ncw, t) — ONE formula string for both engines so the
    * two Spark rows and their two oracles can never drift (`idiv` is
    * Spark's `div` / DuckDB's `//`). Magnitude bound: BIGINT-safe while
    * T·max(c) < ~2·10¹²; past that the multiply moves to DECIMAL(38,0)
    * (same plan shape) — change it HERE, in one place.
    */
  private def knPpm(idiv: String): String =
    s"(1000000 * (t * greatest(4 * c - 3, 0) + 3 * n1pv * ncw)) $idiv (4 * cv * t)"

  /** 10 BPE merge rounds unrolled as chained DuckDB CTE stages (the merge
    * recurrence is sequential, so recursive SQL can't express it — but a
    * fixed round count needs no recursion). Each stage re-derives pair
    * counts from the current word-frequency table, takes the argmax
    * (count desc, then lexicographic), and applies the merge via the same
    * double-gap literal replace `text_bpe_apply` uses — greedy
    * left-to-right non-overlapping, exactly one engine regex pass.
    */
  private lazy val bpeMergesOracle: String = {
    def stage(r: Int): String = {
      val p = r - 1
      s""" c$r AS (SELECT z[1] AS l, z[2] AS r, sum(freq)::BIGINT AS pf FROM (
         |        SELECT freq, unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS z
         |        FROM (SELECT string_split(syms, ' ') AS arr, freq FROM w$p)
         |        WHERE len(arr) >= 2)
         |      GROUP BY 1, 2),
         | t$r AS (SELECT l, r, pf FROM c$r ORDER BY pf DESC, l, r LIMIT 1),
         | w$r AS (SELECT trim(replace(
         |           replace(' ' || replace(w$p.syms, ' ', '  ') || ' ',
         |                   ' ' || t$r.l || '  ' || t$r.r || ' ',
         |                   ' ' || t$r.l || t$r.r || ' '),
         |           '  ', ' ')) AS syms, w$p.freq
         |         FROM w$p CROSS JOIN t$r),""".stripMargin
    }
    val tail = (1 to 10)
      .map(r => s"""SELECT $r AS "rank", l AS "left", r AS "right", pf AS pair_freq FROM t$r""")
      .mkString(" UNION ALL ")
    ("""WITH w0 AS (
       |  SELECT array_to_string(list_filter(string_split(w, ''), x -> x <> ''), ' ')
       |           || ' </w>' AS syms,
       |         count(*) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |        FROM documents)
       |  GROUP BY 1),""".stripMargin +
      (1 to 10).map(stage).mkString.stripSuffix(",") +
      s""" SELECT * FROM ($tail) ORDER BY "rank"""").replace("\n", " ")
  }

  /** The pinned-merges BPE replace chain (text_bpe_apply / text_fertility):
    * double-gap wire format, 5 merges unrolled, `fin` ends with
    * (doc_id, bpe_syms).
    */
  private def bpeChainCte: String =
    """w AS (SELECT doc_id,
      |         list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      |           w -> ' ' || array_to_string(list_concat(
      |                  list_filter(string_split(w, ''), x -> x <> ''), ['</w>']),
      |                  '  ') || ' ') AS lw
      |       FROM documents),
      | s0 AS (SELECT doc_id, array_to_string(lw, chr(31)) AS s FROM w),
      | s1 AS (SELECT doc_id, replace(s, ' e  r ', ' er ') AS s FROM s0),
      | s2 AS (SELECT doc_id, replace(s, ' er  </w> ', ' er</w> ') AS s FROM s1),
      | s3 AS (SELECT doc_id, replace(s, ' i  n ', ' in ') AS s FROM s2),
      | s4 AS (SELECT doc_id, replace(s, ' o  w ', ' ow ') AS s FROM s3),
      | s5 AS (SELECT doc_id, replace(s, ' s  t ', ' st ') AS s FROM s4),
      | fin AS (SELECT doc_id,
      |         trim(replace(replace(replace(s, '  ', ' '),
      |              ' ' || chr(31), chr(31)), chr(31) || ' ', chr(31))) AS bpe_syms
      |         FROM s5)""".stripMargin.replace("\n", " ")

  private def textLangidOracle: String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(string_split(lower(text), ' '), t -> t IN ${inList(ws)}))"
    val en = hits(stopEn)
    val es = hits(Seq("el", "la", "de", "y", "que"))
    val de = hits(Seq("der", "die", "und", "das", "ist"))
    val fr = hits(Seq("le", "et", "les", "des", "une"))
    s"""SELECT doc_id,
       | CASE WHEN $en > 0 AND $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
       |      WHEN $es > 0 AND $es >= $de AND $es >= $fr THEN 'es'
       |      WHEN $de > 0 AND $de >= $fr THEN 'de'
       |      WHEN $fr > 0 THEN 'fr'
       |      ELSE 'und' END AS lang_pred
       | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  val all: Seq[Query] = Seq(

    // BM25 term ranking (rational idf — see Rank scaladoc): top-3 terms
    // per document; the oracle recomputes the identical IEEE expression
    // tree, so the 4dp-rounded scores hash-match bit-for-bit.
    Query("text_bm25", (s, dir) =>
      graft.ops.Rank.bm25TopTerms(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id", "term"),
      // NB: expression tree (associativity, k1+1 as an ADD, no logs) must
      // mirror Rank.bm25TopTerms exactly — IEEE +,*,/ are deterministic,
      // so the trees match bit-for-bit; a "simplified" 2.2 literal would not.
      oracle = """WITH toks AS (
        |   SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        | t AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term),
        | dl AS (SELECT doc_id, sum(tf) AS dl FROM t GROUP BY doc_id),
        | d AS (SELECT term, count(*) AS doc_freq FROM t GROUP BY term),
        | g AS (SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl),
        | s AS (SELECT t.doc_id, t.term, t.tf, d.doc_freq,
        |        (g.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5) * (t.tf * (1.2 + 1.0)) /
        |          (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / g.avgdl)) AS raw
        |   FROM t JOIN dl USING (doc_id) JOIN d USING (term) CROSS JOIN g),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rn FROM s)
        | SELECT doc_id, term, tf, doc_freq, round(raw, 4) AS score
        | FROM r WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin.replace("\n", " ")),

    // BPE vocabulary induction. The merge recurrence is sequential
    // (merge r+1's pair counts depend on merge r), which recursive SQL
    // can't express — but a FIXED merge count unrolls into 10 chained
    // CTE stages (pair-count + argmax + double-gap literal replace per
    // stage), so the oracle is a full value check; BpeSpec additionally
    // pins the classic golden corpus.
    Query("bpe_merges", (s, dir) =>
      graft.ops.Bpe.learnMerges(t(s, dir, "documents"), "text", 10),
      oracle = bpeMergesOracle),

    // Applying a PINNED tokenizer artifact (the production op — training
    // versions the artifact separately): regex-free literal-replace
    // merge chain over the double-gap wire format, bit-identical strings
    // on both engines (no lookaround — RE2 oracles lack it).
    Query("text_bpe_apply", (s, dir) => {
      val merges = Seq(("e", "r"), ("er", "</w>"), ("i", "n"), ("o", "w"), ("s", "t"))
      graft.ops.Bpe.encode(t(s, dir, "documents"), "text", merges)
        .select(col("doc_id"),
          size(split(regexp_replace(col("bpe_syms"), "\\u001f", " "), " "))
            .as("n_bpe_tokens"),
          col("bpe_syms"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH $bpeChainCte
        | SELECT doc_id,
        |        len(string_split(replace(bpe_syms, chr(31), ' '), ' '))::INT AS n_bpe_tokens,
        |        bpe_syms
        | FROM fin ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Token Shannon entropy per doc (low entropy = repetitive/degenerate
    // text). Float determinism: the c·ln(c) terms fold in TERM-SORTED
    // order on both engines (a plain float sum would be partition-order
    // dependent); per-doc distinct terms are few, so the interpreted
    // fold is off the hot path.
    Query("text_entropy", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
          expr("""aggregate(array_sort(collect_list(struct(term, c))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) * ln(cast(x.c as double)))"""
            .stripMargin.replace("\n", " ")).as("_clogc"))
        .select(col("doc_id"), col("n"), col("n_distinct"),
          round(log(col("n").cast("double")) - col("_clogc") / col("n").cast("double"), 3)
            .as("entropy_r3"))
        .orderBy("doc_id")
    },
      oracle = """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | cnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tnz GROUP BY doc_id, term),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct,
        |         list_sort(list(struct_pack(term := term, c := c))) AS lst
        |         FROM cnt GROUP BY doc_id)
        | SELECT doc_id, n, n_distinct,
        |        round(ln(n::DOUBLE) - list_reduce(
        |          list_prepend(0.0, [x.c::DOUBLE * ln(x.c::DOUBLE) for x in lst]),
        |          (a, b) -> a + b) / n::DOUBLE, 3) AS entropy_r3
        | FROM per ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Unigram LM score (CCNet-style perplexity proxy, honest about being
    // unigram): avg log-prob of each doc under the CORPUS distribution —
    // (Σ c·ln gf)/n_tok − ln N from integer counts, c·ln(gf) folded in
    // term-sorted order (same float-determinism pattern as text_entropy).
    // Low score = tokens the corpus finds improbable (gibberish/OCR
    // noise); distinct from entropy, which is blind to the corpus.
    Query("text_lm_score", (s, dir) => {
      // toks feeds three aggregates, but do NOT persist it: physical
      // exchange reuse already shares the scan+explode here, and a cache
      // materialization measured flat-to-slower (r16 A/B). r17 also
      // rejected two single-pass derivations of `global` from the
      // doc-term aggregate: persisting that aggregate measured ~2x
      // slower (cache barrier), and a term-partitioned window measured
      // flat AND loses AQE skew-splitting at scale (guide §2.5 — a
      // Zipfian term pins its whole partition on one window task, where
      // this join shape skew-splits).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val global = toks.groupBy("term").agg(count(lit(1)).as("gf"))
      val totals = toks.agg(count(lit(1)).as("n"))
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .join(broadcast(global), "term")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"),
          expr("""aggregate(array_sort(collect_list(struct(term, c, gf))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) * ln(cast(x.gf as double)))"""
            .stripMargin.replace("\n", " ")).as("_clngf"))
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("n_tok"),
          round(col("_clngf") / col("n_tok").cast("double")
            - log(col("n").cast("double")), 3).as("avg_logp_r3"))
        .orderBy("doc_id")
    },
      oracle = """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | cnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tnz GROUP BY doc_id, term),
        | gf AS (SELECT term, count(*)::BIGINT AS gf FROM tnz GROUP BY term),
        | n AS (SELECT count(*)::BIGINT AS n FROM tnz),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n_tok,
        |         list_sort(list(struct_pack(term := term, c := c, gf := gf))) AS lst
        |         FROM cnt JOIN gf USING (term) GROUP BY doc_id)
        | SELECT doc_id, n_tok,
        |        round(list_reduce(
        |          list_prepend(0.0, [x.c::DOUBLE * ln(x.gf::DOUBLE) for x in lst]),
        |          (a, b) -> a + b) / n_tok::DOUBLE - ln(n.n::DOUBLE), 3) AS avg_logp_r3
        | FROM per, n ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Bigram LM doc scoring (add-one smoothing): train the corpus bigram
    // model IN the query (bigram + left-context count tables — two hash
    // shuffles bounded by distinct bigrams, the n-gram-LM-at-corpus-scale
    // shape) and score each doc by mean log p(w2|w1). Same float story as
    // text_lm_score: integer counts, term-sorted fold, identical IEEE
    // expression shapes on both engines; smoothing constants ride inside
    // the fold struct so the lambda stays self-contained.
    Query("text_lm_bigram", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bg = docs
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("doc_id"), col("z.l").as("w1"), col("z.r").as("w2"))
      // no persist: the three aggregations share the explode via physical
      // exchange reuse; caching measured ~20% slower (r16 A/B). r17 also
      // rejected deriving bgf/lcf from cnt: persisting cnt measured ~60%
      // slower, and riding them as (w1,w2)/(w1) windows measured flat
      // while losing AQE skew-splitting at scale (§2.5 — hot bigrams pin
      // one window task; these joins skew-split).
      val cnt = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
      val bgf = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bgf"))
      val lcf = bg.groupBy("w1").agg(count(lit(1)).as("lcf"))
      val vocab = docs
        .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("t"))
        .agg(countDistinct(col("t")).as("v"))
      cnt.join(bgf, Seq("w1", "w2")).join(lcf, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"),
          expr("""aggregate(array_sort(collect_list(struct(w1, w2, c, bgf, lcf, v))),
                 | cast(0.0 as double),
                 | (acc, x) -> acc + cast(x.c as double) *
                 |   (ln(cast(x.bgf as double) + 1.0) -
                 |    ln(cast(x.lcf as double) + cast(x.v as double)))"""
            .stripMargin.replace("\n", " ") + ")").as("_s"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("_s") / col("n_bigrams").cast("double"), 3).as("avg_logp_r3"))
        .orderBy("doc_id")
    },
      oracle = """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT doc_id, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | cnt AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2, 3),
        | bgf AS (SELECT w1, w2, count(*)::BIGINT AS bgf FROM bg GROUP BY 1, 2),
        | lcf AS (SELECT w1, count(*)::BIGINT AS lcf FROM bg GROUP BY 1),
        | vv AS (SELECT count(DISTINCT t)::BIGINT AS v
        |        FROM (SELECT unnest(a) AS t FROM w)),
        | per AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |           list_sort(list(struct_pack(w1 := w1, w2 := w2, c := c,
        |             bgf := bgf, lcf := lcf, v := v))) AS lst
        |         FROM cnt JOIN bgf USING (w1, w2) JOIN lcf USING (w1) CROSS JOIN vv
        |         GROUP BY doc_id)
        | SELECT doc_id, n_bigrams,
        |        round(list_reduce(list_prepend(0.0,
        |          [x.c::DOUBLE * (ln(x.bgf::DOUBLE + 1.0)
        |             - ln(x.lcf::DOUBLE + x.v::DOUBLE)) for x in lst]),
        |          (a, b) -> a + b) / n_bigrams::DOUBLE, 3) AS avg_logp_r3
        | FROM per ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Per-document Kneser-Ney quality score — the perplexity-style gate
    // composed from text_lm_kn's machinery with ZERO float anywhere:
    // each doc's mean KN bigram probability in ppm is
    //   Σ_types c_doc(v,w)·kn_ppm(v,w)  div  n_bigrams(doc)
    // (integer: per-TYPE corpus probability × per-doc count — the mean
    // over occurrences without touching a float fold, unlike
    // text_lm_bigram's ln() version). Low-probability docs are the
    // gibberish/boilerplate candidates. Shapes: corpus bigram-type table
    // built once (one keyed agg), per-doc type counts (one keyed agg),
    // one keyed join between them, one doc-keyed reduce.
    Query("text_lm_kn_doc", (s, dir) => {
      // r17: building bt from the per-doc type counts (persist docBt,
      // bt = Σ_docs dc) measured ~25% SLOWER in the interleaved A/B —
      // the cache-materialization barrier beats the saved stream pass
      // at this size; shape kept as shipped.
      val bg = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("doc_id"), col("z.l").as("w1"), col("z.r").as("w2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val heads = bt.groupBy("w1")
        .agg(sum("c").as("cv"), count(lit(1)).as("n1pv"))
      val tails = bt.groupBy("w2").agg(count(lit(1)).as("ncw"))
      val tot = bt.agg(count(lit(1)).as("t"))
      val knTypes = bt
        .join(heads, "w1").join(tails, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"),
          expr(knPpm("div")).as("kn_ppm"))
      bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("dc"))
        .join(knTypes, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum("dc").as("n_bigrams"),
          sum(col("dc") * col("kn_ppm")).as("_s"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("_s div n_bigrams").as("mean_kn_ppm"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT doc_id, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | bt AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
        | heads AS (SELECT w1, sum(c)::BIGINT AS cv, count(*)::BIGINT AS n1pv
        |           FROM bt GROUP BY w1),
        | tails AS (SELECT w2, count(*)::BIGINT AS ncw FROM bt GROUP BY w2),
        | tot AS (SELECT count(*)::BIGINT AS t FROM bt),
        | kn AS (SELECT w1, w2,
        |     (${knPpm("//")})::BIGINT AS kn_ppm
        |   FROM bt JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN tot),
        | dcnt AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS dc
        |          FROM bg GROUP BY 1, 2, 3)
        | SELECT doc_id, sum(dc)::BIGINT AS n_bigrams,
        |   (sum(dc * kn_ppm) // sum(dc))::BIGINT AS mean_kn_ppm
        | FROM dcnt JOIN kn USING (w1, w2)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Interpolated Kneser-Ney bigram probabilities (Chen & Goodman '98)
    // at discount d = 3/4, entirely in exact integer rationals:
    //   P(w|v) = max(c(vw)−d, 0)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/N1+(··)
    // cross-multiplied to
    //   ppm = 10^6·(T·max(4·c(vw)−3, 0) + 3·N1+(v·)·N1+(·w))
    //         div (4·c(v·)·T)
    // — the LM smoothing the perplexity-quality gates build on, with the
    // continuation counts (how many DISTINCT contexts a word follows)
    // that make KN beat add-k on reused phrases. One (w1, w2)-keyed
    // aggregation builds the bigram-type table; heads, tails, and the
    // type total all derive from IT (partial-aggregable, corpus scanned
    // once); the total rides a one-row broadcast. Magnitude bound:
    // num ≤ 10^6·T·4·max(c) — BIGINT-safe while T·max(c) < ~2·10^12;
    // past that the multiply moves to DECIMAL(38,0) (same plan shape).
    Query("text_lm_kn", (s, dir) => {
      val bt = t(s, dir, "documents")
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("z.l").as("w1"), col("z.r").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val heads = bt.groupBy("w1")
        .agg(sum("c").as("cv"), count(lit(1)).as("n1pv"))
      val tails = bt.groupBy("w2").agg(count(lit(1)).as("ncw"))
      val tot = bt.agg(count(lit(1)).as("t"))
      bt.where(col("c") >= 5)
        .join(heads, "w1").join(tails, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c"),
          expr(knPpm("div")).as("kn_ppm"))
        .orderBy(col("kn_ppm").desc, col("w1"), col("w2"))
        .limit(100)
    },
      oracle = s"""WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | bt AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
        | heads AS (SELECT w1, sum(c)::BIGINT AS cv, count(*)::BIGINT AS n1pv
        |           FROM bt GROUP BY w1),
        | tails AS (SELECT w2, count(*)::BIGINT AS ncw FROM bt GROUP BY w2),
        | tot AS (SELECT count(*)::BIGINT AS t FROM bt)
        | SELECT w1, w2, c,
        |   (${knPpm("//")})::BIGINT AS kn_ppm
        | FROM bt JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN tot
        | WHERE c >= 5 ORDER BY kn_ppm DESC, w1, w2 LIMIT 100""".stripMargin.replace("\n", " ")),

    // Duplicate n-gram fraction (Gopher/Dolma repetition signal): phrase-
    // level boilerplate that exact and near dedup both miss. Integer basis
    // points — no float in the verdict.
    Query("text_dupfrac", (s, dir) =>
      graft.ops.Quality.dupGramFraction(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"),
      oracle = """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | shl AS (SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, greatest(len(ws) - 1, 1))]) AS shl
        |         FROM ws),
        | ex AS (SELECT doc_id, len(shl) AS n_sh,
        |        ('0x' || substr(md5(unnest(shl)), 1, 15))::BIGINT AS sh FROM shl),
        | dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
        | per AS (SELECT ex.doc_id, max(n_sh)::BIGINT AS n_grams,
        |         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_grams
        |         FROM ex JOIN dfq USING (sh) GROUP BY ex.doc_id),
        | tot AS (SELECT d.doc_id, coalesce(per.n_grams, 0)::BIGINT AS n_grams,
        |         coalesce(per.dup_grams, 0)::BIGINT AS dup_grams,
        |         CASE WHEN coalesce(per.n_grams, 0) > 0
        |              THEN (per.dup_grams * 10000 // per.n_grams)::BIGINT
        |              ELSE 0::BIGINT END AS dup_frac_bp
        |         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
        | SELECT doc_id, n_grams, dup_grams, dup_frac_bp,
        |        (CASE WHEN dup_frac_bp <= 8000 THEN 1 ELSE 0 END)::INT AS keep
        | FROM tot ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Token-id encoding: vocabulary = top-64 terms by (freq desc, term),
    // dense ids 1..64 (0 = OOV); documents become bounded-vocab id
    // sequences — the corpus→token-ids step before pack_sequences. The
    // vocab is corpus-bounded (not row-bounded), so the global window
    // ranking the aggregated term counts is small at any corpus size,
    // and the encode join is a broadcast.
    Query("text_encode_ids", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .where(col("term") =!= "")
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("tok_id",
          row_number().over(Window.orderBy(col("freq").desc, col("term"))))
        .where(col("tok_id") <= 64)
        .select("term", "tok_id")
      toks.join(broadcast(vocab), Seq("term"), "left")
        .withColumn("tok_id", coalesce(col("tok_id"), lit(0)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum((col("tok_id") === 0).cast("int")).as("n_oov"),
          // JSON string, not a raw ARRAY column: the driver's pandas
          // compare cannot sort ndarray cells (ContractSpec)
          to_json(transform(sort_array(collect_list(struct(col("pos"), col("tok_id")))),
            x => x("tok_id"))).as("ids"))
        .orderBy("doc_id")
    },
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tok AS (SELECT doc_id, unnest(ws) AS term,
        |         unnest(range(1, len(ws) + 1)) AS ord FROM w),
        | tnz AS (SELECT * FROM tok WHERE term <> ''),
        | vocab AS (SELECT term,
        |           row_number() OVER (ORDER BY count(*) DESC, term) AS tok_id
        |           FROM tnz GROUP BY term QUALIFY tok_id <= 64),
        | enc AS (SELECT t.doc_id, t.ord, coalesce(v.tok_id, 0)::INT AS tok_id
        |         FROM tnz t LEFT JOIN vocab v USING (term))
        | SELECT doc_id, count(*)::BIGINT AS n_tok,
        |        sum((tok_id = 0)::INT)::BIGINT AS n_oov,
        |        to_json(list(tok_id ORDER BY ord))::VARCHAR AS ids
        | FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Vocabulary coverage curve: what fraction of corpus tokens do the
    // top-k vocabulary entries cover (tokenizer/vocab sizing input)?
    // The window runs over the AGGREGATED term table — corpus-bounded,
    // the same post-aggregation exemption as text_encode_ids — never
    // over raw tokens. Coverage in exact basis points: cum·10⁴ div
    // total, nonnegative, so truncating div == floor div cross-engine.
    Query("vocab_coverage", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c").desc, col("term"))
      val tot = toks.agg(count(lit(1)).as("n"))
      vocab.select(col("term"), col("c"),
          row_number().over(w).as("k"),
          sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
        .where(col("k").isin(1, 3, 10, 30))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("term"), col("c"), col("cum"),
          expr("cum * 10000 div n").as("coverage_bp"))
        .orderBy("k")
    },
      oracle = """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
        |                    t -> t <> '')) AS term FROM documents),
        | v AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
        | r AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS k,
        |       sum(c) OVER (ORDER BY c DESC, term
        |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM v),
        | n AS (SELECT count(*)::BIGINT AS n FROM tok)
        | SELECT k::INT AS k, term, c, cum, cum * 10000 // n.n AS coverage_bp
        | FROM r, n WHERE k IN (1, 3, 10, 30) ORDER BY k""".stripMargin.replace("\n", " ")),

    // Collocation mining: top word pairs by a linear-scale PMI proxy —
    // cab·N·10⁴ div (c1·c2), the integer cross-multiplication of
    // p(ab)/(p(a)p(b)) — so ordering is exact with no logs or floats
    // (log is monotone: the top-k set is identical to true PMI's).
    // min-count 5 kills the hapax noise, the classic collocation gate.
    // One bigram shuffle; unigram side is vocabulary-bounded (broadcast
    // joins); at 100 TB cab·N·10⁴ wants DECIMAL(38) but the topology
    // stands.
    Query("text_pmi", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("a"))
      val toks = docs.select(explode(col("a")).as("w"))
      val uni = toks.groupBy("w").agg(count(lit(1)).as("cw"))
      val n = toks.agg(count(lit(1)).as("n"))
      val bg = docs.where(size(col("a")) >= 2)
        .select(explode(arrays_zip(
          expr("slice(a, 1, size(a) - 1)").as("l"),
          expr("slice(a, 2, size(a) - 1)").as("r"))).as("z"))
        .select(col("z.l").as("w1"), col("z.r").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      bg.where(col("cab") >= 5)
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("cab"),
          expr("cab * n * 10000 div (c1 * c2)").as("pmi_bp"))
        .orderBy(col("pmi_bp").desc, col("w1"), col("w2"))
        .limit(20)
    },
      oracle = """WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS a
        |           FROM documents),
        | tok AS (SELECT unnest(a) AS w FROM w),
        | uni AS (SELECT w, count(*)::BIGINT AS cw FROM tok GROUP BY w),
        | n AS (SELECT count(*)::BIGINT AS n FROM tok),
        | bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |          SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        |          FROM w WHERE len(a) >= 2)),
        | cab AS (SELECT w1, w2, count(*)::BIGINT AS cab FROM bg GROUP BY 1, 2)
        | SELECT w1, w2, cab, cab * n.n * 10000 // (u1.cw * u2.cw) AS pmi_bp
        | FROM cab JOIN uni u1 ON cab.w1 = u1.w JOIN uni u2 ON cab.w2 = u2.w
        | CROSS JOIN n WHERE cab >= 5
        | ORDER BY pmi_bp DESC, w1, w2 LIMIT 20""".stripMargin.replace("\n", " ")),

    // PII-style scrubbing: pattern redaction + a count of replacements
    // (the audit trail a redaction pipeline must emit).
    Query("text_redact", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_redacted"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
        |        len(regexp_extract_all(text, '[0-9]+')) AS n_redacted
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    Query("text_tokens_bpe", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Tokenizer fertility per language (tokens emitted per word) under
    // the pinned BPE artifact — the compression audit that decides
    // whether a tokenizer punishes a language (high fertility = more
    // sequence length per sentence = less effective context). Integer
    // rational ×100; one native bpe_apply pass, one groupBy(lang).
    Query("text_fertility", (s, dir) => {
      val merges = Seq(("e", "r"), ("er", "</w>"), ("i", "n"), ("o", "w"), ("s", "t"))
      graft.ops.Bpe.encode(t(s, dir, "documents"), "text", merges)
        .select(col("lang"),
          expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)").as("n_w"),
          size(split(regexp_replace(col("bpe_syms"), "\\u001f", " "), " "))
            .cast("long").as("n_t"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_w").as("sum_words"),
          sum("n_t").as("sum_tokens"),
          expr("100 * sum(n_t) div sum(n_w)").as("fertility_x100"))
        .orderBy("lang")
    },
      oracle = s"""WITH $bpeChainCte,
        | t AS (SELECT d.lang,
        |        len(list_filter(string_split(d.text, ' '), w -> w <> ''))::BIGINT AS n_w,
        |        len(string_split(replace(f.bpe_syms, chr(31), ' '), ' '))::BIGINT AS n_t
        |      FROM fin f JOIN documents d ON d.doc_id = f.doc_id)
        | SELECT lang, count(*) AS n_docs, sum(n_w)::BIGINT AS sum_words,
        |        sum(n_t)::BIGINT AS sum_tokens,
        |        (100 * sum(n_t) // sum(n_w))::BIGINT AS fertility_x100
        | FROM t GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")),

    // BLEU-2-style clipped bigram precision between near-dup candidate
    // pairs — the generation-eval metric applied to dedup review: how
    // much of doc a's bigram mass is covered by doc b (and the reverse
    // is just the pair flipped). Counts, not distinct grams (BLEU's
    // modified precision); integer basis points. Pair space comes banded
    // from LSH, never all-pairs. The clip is ROW-LOCAL: each doc carries
    // its bigram histogram as a map column (built in one projection, no
    // gram-stream exchange at all), the pair row joins the two maps by
    // id, and clip = Σ least(cₐ, c_b) folds over map_zip_with in place —
    // the previous shape exploded grams and paid a keyed (pair, gram)
    // join plus its re-aggregation (r9/r10 advice). Map size is bounded
    // by tokens/doc, the same bound the exploded row stream had.
    Query("eval_bleu_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      // bind the gram array to a column FIRST: expressions inside the
      // histogram lambda would otherwise re-evaluate split() per element
      // two codegen'd hash aggregations, not a per-doc interpreted
      // histogram lambda (O(distinct·len) per doc and ~2× slower measured):
      // (doc, gram) counts combine map-side, then one doc-key regroup
      // folds them into the map column
      // NOT candidate-filtered, by measurement (r16 opt round): building
      // the histograms only for pair members (semi-join on the pair ids,
      // the prefixJaccardJoin verify discipline) is strictly less total
      // work, but it chains the bigram aggregation BEHIND the minhash
      // pipeline — the two subtrees run concurrently in this one-job
      // shape, and both the unpersisted (re-planned 3×) and persisted
      // (barrier-serialized) variants measured ~1.7× SLOWER at sf0.1
      // under interleaved same-host A/B. At a corpus scale where
      // candidates ≪ docs the filter wins on bytes; re-evaluate there.
      val gmaps = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
            | (x, y) -> concat(x, ' ', y))""".stripMargin.replace("\n", " ")))
          .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("g"), col("c")))).as("gm"),
          sum("c").as("n_g"))
      val pairs = Dedup.minhashCandidates(
          Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id",
          threshold = 0.25)
        .select("a_id", "b_id")
      pairs
        .join(gmaps.withColumnsRenamed(
          Map("doc_id" -> "a_id", "gm" -> "ga", "n_g" -> "n_a")), "a_id")
        // LEFT join + empty-map coalesce on the b side: a candidate doc
        // with zero bigrams keeps its pairs with clip 0, the oracle's
        // contract — independent of Dedup's shingle width (minhash
        // currently requires >= 3 tokens so every candidate has >= 2
        // bigrams, but that is Dedup's invariant, not this query's)
        .join(gmaps.select(col("doc_id").as("b_id"), col("gm").as("gb")),
          Seq("b_id"), "left")
        // a doc with < 2 tokens has no bigrams: the exploded shape dropped
        // its pairs at the inner totals join — keep that contract
        .where(col("n_a") > 0)
        .select(col("a_id"), col("b_id"), col("n_a"),
          // coalesce BOTH sides: least() skips nulls, so a key present in
          // only one map would otherwise contribute the OTHER side's count
          expr("""aggregate(map_values(map_zip_with(ga,
                 | coalesce(gb, CAST(map() AS MAP<STRING, BIGINT>)),
                 | (k, x, y) -> least(coalesce(x, 0), coalesce(y, 0)))),
                 | CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
            .stripMargin.replace("\n", " ")).as("clip_grams"))
        .select(col("a_id"), col("b_id"), col("n_a"), col("clip_grams"),
          expr("clip_grams * 10000 div n_a").as("bleu2_bp"))
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
           | wsx AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           | gr AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
           |           for i in range(1, greatest(len(w), 1))]) AS g FROM wsx),
           | grams AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY doc_id, g),
           | clip AS (SELECT p.a_id, p.b_id, sum(least(ga.c, gb.c)) AS clip
           |   FROM pairs p JOIN grams ga ON ga.doc_id = p.a_id
           |   JOIN grams gb ON gb.doc_id = p.b_id AND gb.g = ga.g
           |   GROUP BY p.a_id, p.b_id),
           | tot AS (SELECT doc_id, sum(c)::BIGINT AS n_g FROM grams GROUP BY doc_id)
           | SELECT p.a_id, p.b_id, t.n_g AS n_a,
           |   coalesce(clip.clip, 0)::BIGINT AS clip_grams,
           |   (coalesce(clip.clip, 0) * 10000 // t.n_g)::BIGINT AS bleu2_bp
           | FROM pairs p
           |   LEFT JOIN clip ON clip.a_id = p.a_id AND clip.b_id = p.b_id
           |   JOIN tot t ON t.doc_id = p.a_id
           | ORDER BY p.a_id, p.b_id""".stripMargin.replace("\n", " ")
      }),

    Query("text_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |        len(list_distinct(string_split(text, ' '))) AS n_distinct
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Unicode word segmentation (functions/UnicodeWords: BreakIterator
    // boundaries, letter-or-digit segments) over a pinned multilingual
    // fixture cycled across the documents table: Latin with joiners
    // ("It's", "meters-long", "1,000"), precomposed accents, Greek,
    // Cyrillic, Japanese (kanji|hiragana|katakana script runs), Han
    // runs kept whole, Hangul. The oracle re-segments the same strings
    // with an RE2 script-run regex that provably agrees on this
    // fixture's shapes (UnicodeWordsSpec pins the per-sentence goldens
    // on the Spark side). array_join(unicode_words(x), ' ') is the
    // canonicalization that feeds the engine's single-space token
    // contract — the downstream-composition half is TextSpec-pinned.
    Query("text_tokens_unicode", (s, dir) => {
      val raw = element_at(
        array(multilingualFixture.map(lit): _*),
        (col("doc_id") % multilingualFixture.size).cast("int") + 1)
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("_raw"))
        .select(col("doc_id"),
          array_join(expr("unicode_words(_raw)"), " ").as("tokens"),
          size(expr("unicode_words(_raw)")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      // RE2 script-run rebuild of the BreakIterator segmentation on the
      // pinned fixture (see multilingualFixture for the shapes that make
      // the two provably agree): per-script CJK runs, then a joiner-aware
      // alphanumeric run over the space-separated scripts.
      oracle = {
        val cases = multilingualFixture.zipWithIndex
          .map { case (s, i) => s"WHEN $i THEN '${s.replace("'", "''")}'" }
          .mkString(" ")
        val pat = """[\p{Han}]+|[\p{Hiragana}]+|[\p{Katakana}]+|[\p{Hangul}]+""" +
          """|[\p{Latin}\p{Greek}\p{Cyrillic}\p{Nd}]+""" +
          """([''\-.,_][\p{Latin}\p{Greek}\p{Cyrillic}\p{Nd}]+)*"""
        s"""SELECT doc_id,
           | array_to_string(regexp_extract_all(raw, '$pat'), ' ') AS tokens,
           | len(regexp_extract_all(raw, '$pat'))::BIGINT AS n_tokens
           | FROM (SELECT doc_id,
           |   CASE doc_id % ${multilingualFixture.size} $cases END AS raw
           |   FROM documents)
           | ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    Query("text_quality", (s, dir) => {
      val tokens = split(col("text"), " ")
      // native word_set_hits: one compiled loop per row vs two interpreted
      // lambdas per token (same result as the filter/IN form)
      val stopHits = Functions.wordSetHits(col("text"), stopEn)
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_char"),
        size(tokens).as("n_tok"),
        stopHits.as("stop_hits"),
        round(stopHits.cast("double") / size(tokens), 4).as("stop_ratio"))
        .orderBy("doc_id")
    },
      oracle = s"""SELECT doc_id, length(text) AS n_char, len(string_split(text, ' ')) AS n_tok,
         | len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS stop_hits,
         | round(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)}))::DOUBLE
         |       / len(string_split(text, ' ')), 4) AS stop_ratio
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Hashing-trick featurization (Weinberger et al. '09 — the fixed-dim
    // sparse text features a linear classifier at scale trains on, no
    // vocabulary pass needed): feature id = md5(token) mod D. Emitted as
    // (doc_id, feat, cnt) rows — the sparse COO layout — so values stay
    // scalar; one narrow generator + one key-local aggregation.
    Query("text_feature_hash", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr("md5_long(tok, 15) % 64").as("feat"))
        .groupBy("doc_id", "feat")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "feat"),
      oracle = """SELECT doc_id,
        |   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS feat,
        |   count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY doc_id, feat
        | ORDER BY doc_id, feat""".stripMargin.replace("\n", " ")),

    // Character-bigram language ID (the n-gram heuristic variant of
    // text_langid): score = frequency of language-typical bigrams.
    Query("text_langid_ngram", (s, dir) => {
      def hits(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      val en = hits("th|he|er|an")
      val es = hits("qu|ci|os|la")
      val de = hits("ch|ei|un|ge")
      t(s, dir, "documents").select(
        col("doc_id"),
        when(en > 0 && en >= es && en >= de, "en")
          .when(es > 0 && es >= de, "es")
          .when(de > 0, "de")
          .otherwise("und").as("lang_pred"))
        .orderBy("doc_id")
    },
      oracle = {
        def hits(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
        val en = hits("th|he|er|an")
        val es = hits("qu|ci|os|la")
        val de = hits("ch|ei|un|ge")
        s"""SELECT doc_id,
           | CASE WHEN $en > 0 AND $en >= $es AND $en >= $de THEN 'en'
           |      WHEN $es > 0 AND $es >= $de THEN 'es'
           |      WHEN $de > 0 THEN 'de'
           |      ELSE 'und' END AS lang_pred
           | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    Query("text_langid", (s, dir) => {
      def hits(ws: Seq[String]) =
        Functions.wordSetHits(lower(col("text")), ws)
      val en = hits(stopEn)
      val es = hits(Seq("el", "la", "de", "y", "que"))
      val de = hits(Seq("der", "die", "und", "das", "ist"))
      val fr = hits(Seq("le", "et", "les", "des", "une"))
      t(s, dir, "documents").select(
        col("doc_id"),
        when(en > 0 && en >= es && en >= de && en >= fr, "en")
          .when(es > 0 && es >= de && es >= fr, "es")
          .when(de > 0 && de >= fr, "de")
          .when(fr > 0, "fr")
          .otherwise("und").as("lang_pred"))
        .orderBy("doc_id")
    },
      oracle = textLangidOracle),

    // Unicode canonicalization (NFC) — the first step of corpus text
    // cleaning: precomposed vs combining-mark encodings of the same
    // visible string defeat every exact-match op (dedup hashes, shingles,
    // blocklists) until canonicalized. Native codegen `unicode_norm`
    // expression; per-doc strings carry combining acute/diaeresis (folded
    // by NFC) and the fi-ligature U+FB01 (NOT folded by NFC — proving the
    // form matters; NFKC folding is spec'd in NormalizeSpec, DuckDB has
    // no NFKC). Oracle mirrors via nfc_normalize.
    Query("text_nfc", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("w"), col("doc_id").cast("string"),
            lit(" e\u0301 o\u0308 \uFB01")).as("_raw"))
        .select(col("doc_id"),
          expr("unicode_norm(_raw, 'NFC')").as("nfc"),
          length(col("_raw")).cast("long").as("n_raw"),
          length(expr("unicode_norm(_raw, 'NFC')")).cast("long").as("n_nfc"))
        .orderBy("doc_id"),
      oracle = """WITH p AS (SELECT doc_id,
        |     'w' || doc_id || ' e' || chr(769) || ' o' || chr(776) || ' ' || chr(64257) AS raw
        |   FROM documents)
        | SELECT doc_id, nfc_normalize(raw) AS nfc,
        |        length(raw)::BIGINT AS n_raw,
        |        length(nfc_normalize(raw))::BIGINT AS n_nfc
        | FROM p ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Safety blocklist gate: per-doc hits against a term blocklist (the
    // word-filter stage every release pipeline runs) — native
    // word_set_hits loop, narrow projection; flags + hit counts.
    Query("text_blocklist", (s, dir) => {
      val blocked = Seq("error", "slow", "dup", "spill", "skew")
      t(s, dir, "documents").select(col("doc_id"),
          Functions.wordSetHits(col("text"), blocked).as("block_hits"))
        .select(col("doc_id"), col("block_hits"),
          (col("block_hits") > 0).cast("int").as("flagged"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id,
        |   len(list_filter(string_split(text, ' '),
        |       t -> t IN ('error', 'slow', 'dup', 'spill', 'skew'))) AS block_hits,
        |   CASE WHEN len(list_filter(string_split(text, ' '),
        |       t -> t IN ('error', 'slow', 'dup', 'spill', 'skew'))) > 0
        |     THEN 1 ELSE 0 END AS flagged
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))
  )
}

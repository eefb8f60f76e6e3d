package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. '16) as
  * DataFrame rounds — the step that turns a curated corpus into the
  * tokenizer artifact, not just applies one.
  *
  * Shape: the corpus collapses ONCE to the word-frequency table (the only
  * corpus-sized pass; everything after is vocabulary-sized, which is why
  * BPE training scales — 100 TB of text is still a few million distinct
  * words). Each merge round is (1) a pair-count aggregation over the
  * vocab, (2) a `limit(1)` argmax — a one-row frame, never a driver
  * value — broadcast into (3) a `regexp_replace` applying the merge to
  * every word's symbol string. Rounds are inherently sequential (merge
  * r+1's counts depend on merge r — the algorithm, not the
  * implementation), so each round materializes through [[Iterate]] to
  * keep plans O(1); the per-round `isEmpty` convergence probe on the
  * one-row argmax is the driver's only data contact.
  *
  * Learned symbols are regex-quoted before being spliced into the merge
  * pattern (and `\`/`$` escaped in the replacement), so corpora containing
  * regex metacharacters (`.`, `*`, `(`, `$`, …) merge correctly instead
  * of mis-merging or throwing PatternSyntaxException.
  */
object Bpe {

  /** Escape every Java-regex metacharacter in a symbol column so it can be
    * spliced into a pattern as a literal. */
  private def rxQuote(c: Column): Column =
    regexp_replace(c, "([.*+?^$(){}\\[\\]|\\\\])", "\\\\$1")

  /** Escape `\` and `$` (special in Java replacement strings). */
  private def replQuote(c: Column): Column =
    regexp_replace(c, "([\\\\$])", "\\\\$1")

  /** UTF8-byte comparison — Spark's binary string ordering, which the
    * argmax tie-break below must reproduce exactly (Java's compareTo is
    * UTF-16 code-unit order, which differs beyond the BMP). */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Learn up to `numMerges` merge rules. Output: `(rank, left, right,
    * pair_freq)`, rank-ordered — merge r was the most frequent adjacent
    * symbol pair (ties broken lexicographically) after merges 1..r−1.
    * Stops early when no adjacent pair remains.
    *
    * Per-round cost shape (r17, guide §1.2 "per-task work" at the
    * scheduling level): each round materializes ONCE — the argmax rides
    * the merge application as a broadcast subplan and its three columns
    * are carried on every word row into the round's checkpoint, so the
    * former three actions per round (argmax checkpoint, isEmpty probe,
    * apply checkpoint) collapse to one materializing job plus a
    * first-partition `limit(1)` read of the carried argmax — a
    * counters-class driver value (one row), exactly the driver contact
    * the old isEmpty probe already made. Rounds stay inherently
    * sequential (the algorithm); only the fixed per-round job count
    * changes, which is the dominant cost at vocabulary scale.
    */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    val words0 = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat_ws(" ",
        concat(expr("filter(split(w, ''), x -> x <> '')"), array(lit("</w>")))).as("syms"),
        col("freq"))
    var words = Iterate.materialize(words0)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // LOCAL ENDGAME (r17): everything after the corpus→vocabulary
    // aggregation is vocabulary-sized, and the merge rounds are
    // inherently sequential — distributed, each round is a fixed
    // scheduling + checkpoint cost on a tiny frame. Under the bound the
    // rounds run on the driver over the collected vocab: identical
    // semantics (same adjacency counts, argmax ordered by freq desc then
    // UTF8-byte-lexicographic (left, right), same greedy left-to-right
    // non-overlapping merge the lookaround regexp_replace applies), so
    // the learned table is bit-identical (BpeSpec pins local ==
    // distributed). A multi-million-word vocabulary, or a fat-symbol one,
    // runs the distributed rounds below.
    val probe = LocalEndgame.collect("learnMerges",
      words.df.select("syms", "freq"),
      minRowBytes = 8 + LocalEndgame.RowOverhead,
      (r: org.apache.spark.sql.Row) =>
        8 + LocalEndgame.RowOverhead + 2L * r.getString(0).length)
    if (probe.isDefined) {
      val vocab = probe.get
      words.release()
      val syms = vocab.map(_.getString(0).split(" "))
      val freq = vocab.map(_.getLong(1))
      var r = 1
      var done = false
      while (r <= numMerges && !done) {
        val cnt = new java.util.HashMap[String, Array[AnyRef]]()
        var wi = 0
        while (wi < syms.length) {
          val t = syms(wi)
          var i = 0
          while (i + 1 < t.length) {
            // tokens never contain spaces, so "L R" is an injective key
            val key = t(i) + " " + t(i + 1)
            val got = cnt.get(key)
            if (got == null)
              cnt.put(key, Array(t(i), t(i + 1), java.lang.Long.valueOf(freq(wi))))
            else got(2) = java.lang.Long.valueOf(
              got(2).asInstanceOf[java.lang.Long].longValue + freq(wi))
            i += 1
          }
          wi += 1
        }
        if (cnt.isEmpty) done = true
        else {
          var bl: String = null; var br: String = null; var bf = 0L
          val it = cnt.values().iterator()
          while (it.hasNext) {
            val e = it.next()
            val l = e(0).asInstanceOf[String]
            val rt = e(1).asInstanceOf[String]
            val f = e(2).asInstanceOf[java.lang.Long].longValue
            val better = bl == null || f > bf || (f == bf && {
              val dl = utf8Cmp(l, bl)
              dl < 0 || (dl == 0 && utf8Cmp(rt, br) < 0)
            })
            if (better) { bl = l; br = rt; bf = f }
          }
          learned += ((r, bl, br, bf))
          wi = 0
          while (wi < syms.length) {
            val t = syms(wi)
            var i = 0
            var hit = false
            while (!hit && i + 1 < t.length) {
              hit = t(i) == bl && t(i + 1) == br; i += 1
            }
            if (hit) {
              val out = new scala.collection.mutable.ArrayBuffer[String](t.length)
              i = 0
              while (i < t.length) {
                if (i + 1 < t.length && t(i) == bl && t(i + 1) == br) {
                  out += bl + br; i += 2
                } else { out += t(i); i += 1 }
              }
              syms(wi) = out.toArray
            }
            wi += 1
          }
          r += 1
        }
      }
      return mergesFrame(spark, learned)
    }
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      // rounds ≥ 2 carry the previous argmax columns — prune before this
      // round's crossJoin re-introduces the same names
      val wbase = words.df.select("syms", "freq")
      val arr = split(col("syms"), " ")
      val pairs = wbase
        .select(col("freq"), arr.as("arr"))
        .where(size(col("arr")) >= 2)
        .select(col("freq"), explode(arrays_zip(
          slice(col("arr"), lit(1), size(col("arr")) - 1).as("l"),
          slice(col("arr"), lit(2), size(col("arr")) - 1).as("r"))).as("pz"))
        .select(col("pz.l").as("left"), col("pz.r").as("right"), col("freq"))
      val top = pairs.groupBy("left", "right").agg(sum("freq").as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("left"), col("right"))
        .limit(1)
      // one job: broadcast-build runs the pair aggregation + argmax, the
      // probe side applies the merge, the checkpoint cuts the round
      val merged = wbase.crossJoin(broadcast(top))
        .select(regexp_replace(col("syms"),
          concat(lit("(?<=^| )"), rxQuote(col("left")), lit(" "),
            rxQuote(col("right")), lit("(?=$| )")),
          concat(replQuote(col("left")), replQuote(col("right")))).as("syms"),
          col("freq"), col("left"), col("right"), col("pair_freq"))
      val next = Iterate.materialize(merged)
      // carried argmax columns are identical on every row — read one
      val head = next.df.select(col("left"), col("right"), col("pair_freq"))
        .head(1)
      if (head.isEmpty) { next.release(); done = true }
      else {
        learned += ((r, head(0).getString(0), head(0).getString(1), head(0).getLong(2)))
        words.release()
        words = next
        r += 1
      }
    }
    words.release()
    mergesFrame(spark, learned)
  }

  private def mergesFrame(spark: org.apache.spark.sql.SparkSession,
      learned: scala.collection.Seq[(Int, String, String, Long)]): DataFrame =
    if (learned.isEmpty) spark.emptyDataFrame
      .select(lit(0).as("rank"), lit("").as("left"), lit("").as("right"),
        lit(0L).as("pair_freq")).limit(0)
    else learned.map { case (rank, l, rt, f) =>
      spark.range(1).select(lit(rank).as("rank"), lit(l).as("left"),
        lit(rt).as("right"), lit(f).as("pair_freq"))
    }.reduce(_ unionAll _).orderBy("rank")

  /** Apply merges (a tiny driver-side artifact, like a broadcast
    * dictionary) to tokenize a text column: each doc's words become
    * space-joined BPE symbol strings in `bpe_syms`, words separated by a
    * unit-separator char (U+001F) so merges never cross word boundaries.
    *
    * Wire format is regex-free and engine-portable: symbols are padded
    * to DOUBLE internal gaps with single-space edges, so a literal
    * `replace(" l  r ", " lr ")` is exactly one greedy left-to-right
    * non-overlapping merge pass — consuming one space of each
    * neighboring gap leaves the single space the adjacent pair needs,
    * and the invariant (edges 1, gaps 2) is restored by the
    * replacement's own edge spaces. A SQL oracle mirrors the chain with
    * the same literal `replace`, no lookaround (which RE2 engines lack).
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    // native one-pass expression (graft.functions.BpeApply) — byte-equal
    // to encodeViaReplaceChain (BpeSpec pins the equivalence on the real
    // corpus), without the chain's O(merges) intermediate strings per row
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty &&
        !s"$l$r".contains(",") && !s"$l$r".contains(" ")
    }, "bpe_apply merge symbols must be non-empty and contain no space/comma")
    df.withColumn("bpe_syms", call_function("bpe_apply", col(textCol),
      lit(merges.map { case (l, r) => s"$l $r" }.mkString(","))))
  }

  /** The SQL-spelled reference implementation of [[encode]]: the double-gap
    * literal-replace chain (the same algebra the DuckDB oracle runs). Kept
    * as the equivalence baseline — BpeSpec asserts byte-identical output
    * against the native expression on the fixture corpus.
    */
  def encodeViaReplaceChain(df: DataFrame, textCol: String,
                            merges: Seq[(String, String)]): DataFrame = {
    val sep = "\u001f"
    // " c1  c2  ...  </w> " per word, words joined by U+001F
    val start = concat_ws(sep, expr(
      s"""transform(filter(split($textCol, ' '), w -> w <> ''),
         | w -> concat(' ', concat_ws('  ',
         |   concat(filter(split(w, ''), x -> x <> ''), array('</w>'))), ' '))"""
        .stripMargin.replace("\n", " ")))
    val encoded = merges.foldLeft(start) { case (acc, (l, r)) =>
      expr_replace(acc, s" $l  $r ", s" ${l}${r} ")
    }
    val singleSpaced = expr_replace(encoded, "  ", " ")
    val clean = trim(expr_replace(expr_replace(singleSpaced, s" $sep", sep), s"$sep ", sep))
    df.withColumn("bpe_syms", clean)
  }

  /** Literal (non-regex) global replace via the SQL `replace` function. */
  private def expr_replace(c: Column, find: String, repl: String): Column =
    call_function("replace", c, lit(find), lit(repl))
}

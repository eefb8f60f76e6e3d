package graft

import graft.ops.Bpe

/** BPE vocabulary induction: the classic golden corpus, monotonic merge
  * frequencies, and round-trip encoding with learned merges.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges: golden corpus learns the expected first merges") {
    // Sennrich-style fixture: {low ×5, lowest ×2, newer ×6, wider ×3}
    val corpus = Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lowest"),
      Seq.fill(6)("newer"), Seq.fill(3)("wider")
    ).flatten.mkString(" ")
    val merges = Bpe.learnMerges(Seq(corpus).toDF("text"), "text", 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length === 4)
    // "er" (in newer ×6 + wider ×3 = 9) is the most frequent first pair
    // (e appears before r in newer/wider; "e r" count 9 beats "l o" 7,
    // "w e" ... compute: pairs in 'n e w e r </w>' ×6: (n,e),(e,w),(w,e),(e,r),(r,</w>)
    // 'w i d e r </w>' ×3: (w,i),(i,d),(d,e),(e,r),(r,</w>)
    // so (e,r)=9, (r,</w>)=9 — tie broken lexicographically: "e" < "r"
    assert((merges(0)._2, merges(0)._3, merges(0)._4) === (("e", "r", 9L)))
    // after merging "er", (er,</w>)=9 is top
    assert((merges(1)._2, merges(1)._3, merges(1)._4) === (("er", "</w>", 9L)))
    // merge frequencies never increase within this fixture's run
    assert(merges.map(_._4).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("learnMerges stops early when the corpus is exhausted") {
    // single 2-char word: pairs (a,b), then (ab,</w>), then nothing
    val merges = Bpe.learnMerges(Seq("ab ab").toDF("text"), "text", 10)
      .collect()
    assert(merges.length === 2)
  }

  test("learnMerges is regex-metacharacter-safe") {
    // '.' in the pattern position would match ANY char unquoted; '$' and
    // '\' in the replacement position would throw or drop chars unquoted
    val corpus = (Seq.fill(5)("a.b") ++ Seq.fill(3)("$$x")).mkString(" ")
    val merges = Bpe.learnMerges(Seq(corpus).toDF("text"), "text", 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // "a . b </w>" fully merges in 3 rounds, then "$ $ x </w>" in 3 more
    assert(merges.length === 6, merges.mkString(", "))
    assert((merges(0)._2, merges(0)._3, merges(0)._4) === ((".", "b", 5L)))
    assert((merges(3)._2, merges(3)._3, merges(3)._4) === (("$", "$", 3L)))
  }

  test("learnMerges quotes backslashes in pattern and replacement") {
    val corpus = Seq.fill(4)("a\\b").mkString(" ")
    val merges = Bpe.learnMerges(Seq(corpus).toDF("text"), "text", 10)
      .collect().map(r => (r.getString(1), r.getString(2)))
    // "a \ b </w>" fully merges in 3 rounds, backslash intact throughout
    assert(merges.length === 3, merges.mkString(", "))
    assert(merges(0) === (("\\", "b")))
    assert(merges(2) === (("a", "\\b</w>")))
  }

  test("learnMerges local endgame matches the distributed rounds") {
    // the default path learns on the driver below the bound; withBound(0)
    // forces the distributed rounds on the SAME corpus — covers argmax
    // tie-breaks, greedy merge application, early stop and regex
    // metacharacters (the graph-endgame twin law)
    val corpora = Seq(
      Seq(Seq.fill(5)("low"), Seq.fill(2)("lowest"),
        Seq.fill(6)("newer"), Seq.fill(3)("wider")).flatten.mkString(" "),
      (Seq.fill(5)("a.b") ++ Seq.fill(3)("$$x")).mkString(" "),
      "ab ab",
      Seq.fill(4)("a\\b").mkString(" "))
    for (corpus <- corpora) {
      val df = Seq(corpus).toDF("text")
      Endgame.agree("learnMerges")(
        Bpe.learnMerges(df, "text", 6).collect().map(_.toSeq).toSeq)
    }
    // the real fixture corpus at 10 merges (the bpe_merges query shape)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    Endgame.agree("learnMerges")(
      Bpe.learnMerges(docs, "text", 10).collect().map(_.toSeq).toSeq)
  }

  test("encode applies merges greedily and never crosses word boundaries") {
    val corpus = Seq.fill(4)("abab").mkString(" ") + " " + Seq.fill(2)("ab").mkString(" ")
    val mergesDf = Bpe.learnMerges(Seq(corpus).toDF("text"), "text", 2)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val out = Bpe.encode(Seq("abab ab ba").toDF("text"), "text", mergesDf)
      .select("bpe_syms").as[String].collect().head
    val words = out.split("\u001f")
    assert(words.length === 3)
    // learned merges: (a,b) then (ab,</w>)
    assert(words(0) === "ab ab</w>")
    assert(words(1) === "ab</w>")
    assert(words(2) === "b a </w>") // "ba" must NOT merge - (b,a) was never learned
  }

  test("native bpe_apply is byte-identical to the replace-chain form on the corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val merges = Seq(("e", "r"), ("er", "</w>"), ("i", "n"), ("o", "w"), ("s", "t"))
    val native = Bpe.encode(docs, "text", merges)
      .select("doc_id", "bpe_syms")
    val chain = Bpe.encodeViaReplaceChain(docs, "text", merges)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("bpe_syms").as("chain_syms"))
    val diff = native.join(chain, "doc_id")
      .where(org.apache.spark.sql.functions.col("bpe_syms") =!=
        org.apache.spark.sql.functions.col("chain_syms"))
      .count()
    assert(diff === 0L)
    // degenerate inputs agree too (empty / whitespace-only / multi-space)
    val edge = Seq("", "   ", "a  b", "x").toDF("text")
    val n = Bpe.encode(edge, "text", merges).select("bpe_syms").as[String].collect()
    val c = Bpe.encodeViaReplaceChain(edge, "text", merges)
      .select("bpe_syms").as[String].collect()
    assert(n.toSeq === c.toSeq)
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomMightContain, BpeApply, Md5Long, NormalizeLabelExpr, NormalizeSingularExpr, NtUnescape, ParseNt, ProjectNt, RollingHash, VecDot, VecDotD, VecSignBits, WinnowFps, WordGramHashes, WordSetHits, WordShingles}

/** Injectable extensions: makes the engine's native expressions available
  * in ANY session via `spark.sql.extensions=graft.GraftExtensions` (e.g.
  * spark-submit / thrift server / notebooks), without calling
  * [[Functions.register]] programmatically.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two ARRAY<FLOAT> in double precision"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_dot_d"),
      info("vec_dot_d", "vec_dot_d(a, b) - dot product of two ARRAY<DOUBLE> (exact for integer-valued centroids)"),
      (exprs: Seq[Expression]) => VecDotD(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, k) - distinct word k-shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs(0), exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("parse_nt"),
      info("parse_nt", "parse_nt(line) - N-Triples line to STRUCT<subject,predicate,obj>"),
      (exprs: Seq[Expression]) => ParseNt(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("project_nt"),
      info("project_nt", "project_nt(subject, predicate, obj) - FAST predicate projection of a triple: 0 or 1 rows"),
      (exprs: Seq[Expression]) => ProjectNt(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("normalize_label"),
      info("normalize_label", "normalize_label(s) - lowercase, fold accents, strip punctuation"),
      (exprs: Seq[Expression]) => NormalizeLabelExpr(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("normalize_singular"),
      info("normalize_singular", "normalize_singular(s) - normalize_label + singularize final token"),
      (exprs: Seq[Expression]) => NormalizeSingularExpr(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(s) - polynomial rolling hash over code points"),
      (exprs: Seq[Expression]) => RollingHash(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("vec_sign_bits"),
      info("vec_sign_bits", "vec_sign_bits(v) - 1-bit sign quantization of ARRAY<FLOAT> (60 bits)"),
      (exprs: Seq[Expression]) => VecSignBits(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("md5_long"),
      info("md5_long", "md5_long(s, nibbles) - first hex digits of md5 as BIGINT"),
      (exprs: Seq[Expression]) => Md5Long(exprs(0), exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("nt_unescape"),
      info("nt_unescape", "nt_unescape(s) - decode N-Triples ECHAR/UCHAR escapes"),
      (exprs: Seq[Expression]) => NtUnescape(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("word_set_hits"),
      info("word_set_hits", "word_set_hits(text, csv) - count whitespace tokens present in the csv word set"),
      (exprs: Seq[Expression]) => WordSetHits(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain",
        "bloom_might_contain(bits, h1, h2, k) - k-probe Bloom bit test over an ARRAY<BIGINT>"),
      (exprs: Seq[Expression]) => BloomMightContain(exprs(0), exprs(1), exprs(2), exprs(3))))
    ext.injectFunction((
      FunctionIdentifier("bpe_apply"),
      info("bpe_apply", "bpe_apply(text, 'l r,l r,...') - apply a pinned BPE merge list (double-gap chain semantics)"),
      (exprs: Seq[Expression]) => BpeApply(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      info("winnow_fps", "winnow_fps(text, k, w) - distinct winnowing-selected k-gram fingerprints"),
      (exprs: Seq[Expression]) => WinnowFps(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("word_gram_hashes"),
      info("word_gram_hashes",
        "word_gram_hashes(text, k, nibbles) - positional word-k-gram md5-prefix hashes"),
      (exprs: Seq[Expression]) => WordGramHashes(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(text, w, maskBits) - content-defined chunk end positions (FastCDC-style)"),
      (exprs: Seq[Expression]) => graft.functions.CdcChunks(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int])))
    // analysis-time scale guardrails (opt-in via spark.graft.forbid*)
    ext.injectCheckRule(s => graft.plans.GlobalWindowCheck(s))
    ext.injectCheckRule(s => graft.plans.PartitionIdWindowCheck(s))
    // whole-operator extension: bounded per-group top-k with a map-side
    // partial phase (graft.plans.TopKPerGroup)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

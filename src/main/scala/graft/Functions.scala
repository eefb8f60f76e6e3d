package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** SQL-function surface of the engine: registration of the custom scalar
  * functions plus Column-level helpers usable from the DataFrame API.
  */
object Functions {

  /** Register every custom scalar function on a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("singularize", (s: String) => Normalize.singularize(s))
    // native codegen expressions — usable from SQL / expr()
    def native(name: String, builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    native("vec_dot", exprs => graft.functions.VecDot(exprs(0), exprs(1)))
    native("vec_dot_d", exprs => graft.functions.VecDotD(exprs(0), exprs(1)))
    native("jaro_winkler", exprs => graft.functions.JaroWinkler(exprs(0), exprs(1)))
    native("word_shingles", exprs => graft.functions.WordShingles(
      exprs(0), exprs(1).eval().asInstanceOf[Int]))
    native("parse_nt", exprs => graft.functions.ParseNt(exprs(0)))
    native("project_nt", exprs => graft.functions.ProjectNt(exprs(0), exprs(1), exprs(2)))
    native("normalize_label", exprs => graft.functions.NormalizeLabelExpr(exprs(0)))
    native("normalize_singular", exprs => graft.functions.NormalizeSingularExpr(exprs(0)))
    native("rolling_hash", exprs => graft.functions.RollingHash(exprs(0)))
    native("vec_sign_bits", exprs => graft.functions.VecSignBits(exprs(0)))
    native("vec_top_cells", exprs => graft.functions.VecTopCells(
      exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Int]))
    native("common_prefix_len", exprs => graft.functions.CommonPrefixLen(
      exprs(0), exprs(1)))
    native("md5_long", exprs => graft.functions.Md5Long(
      exprs(0), exprs(1).eval().asInstanceOf[Int]))
    native("nt_unescape", exprs => graft.functions.NtUnescape(exprs(0)))
    native("word_set_hits", exprs => graft.functions.WordSetHits(exprs(0), exprs(1)))
    native("bloom_might_contain", exprs => graft.functions.BloomMightContain(
      exprs(0), exprs(1), exprs(2), exprs(3)))
    native("bpe_apply", exprs => graft.functions.BpeApply(exprs(0), exprs(1)))
    native("winnow_fps", exprs => graft.functions.WinnowFps(
      exprs(0), exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]))
    native("word_gram_hashes", exprs => graft.functions.WordGramHashes(
      exprs(0), exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]))
    native("word_grams", exprs => graft.functions.WordGrams(
      exprs(0), exprs(1).eval().asInstanceOf[Int]))
    native("gopher_stats", exprs => graft.functions.GopherStatsExpr(exprs(0)))
    native("cdc_chunks", exprs => graft.functions.CdcChunks(
      exprs(0), exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]))
    native("unicode_words", exprs => graft.functions.UnicodeWords(exprs(0)))
    native("unicode_norm", exprs => graft.functions.UnicodeNormalize(
      exprs(0), graft.functions.UnicodeNormalize.formOf(
        exprs(1).eval().toString)))
  }

  /** `normalize_label` as a Column op — pure built-ins (codegen'd, no UDF):
    * lowercase → strip punctuation to spaces → collapse runs → trim.
    * Identical to [[Normalize.normalize]] for ASCII input; non-ASCII input
    * additionally needs accent folding, which built-ins can't express — use
    * [[normalizeLabel]] (UDF) when the corpus may carry diacritics.
    */
  def normalizeLabelAscii(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  private val singularizeUdf = udf((s: String) => Normalize.singularize(s))

  /** `word_set_hits` via the Column API: the word list travels as a bound
    * literal (nothing is spliced into SQL text, so quotes in words are
    * safe). Members must not contain commas — the CSV wire format of
    * [[graft.functions.WordSetHits]] cannot represent them.
    */
  def wordSetHits(text: Column, words: Seq[String]): Column = {
    require(words.forall(!_.contains(",")),
      "word_set_hits set members must not contain commas (CSV wire format)")
    call_function("word_set_hits", text, lit(words.mkString(",")))
  }

  /** One-pass per-doc token stats (graft.functions.GopherStatsExpr):
    * `STRUCT<n_tok, n_uniq, top_c, sum_len, max_len>` — zero-shuffle
    * replacement for explode→groupBy token statistics.
    */
  def gopherStats(text: Column): Column = call_function("gopher_stats", text)

  /** Native codegen expressions (see graft.functions.TextExprs). */
  def normalizeLabel(c: Column): Column = call_function("normalize_label", c)
  def normalizeSingular(c: Column): Column = call_function("normalize_singular", c)
  def singularize(c: Column): Column = singularizeUdf(c)
}

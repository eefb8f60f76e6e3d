package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** P2/P3 — the predicate-driven projection of one parsed triple
  * (`lib/fast_parse.js:17-55`) in one forward pass:
  * `project_nt(subject, predicate, obj)` emits one row
  * `(kind, id, prefLabel, altLabel, label, sameAsLc, sameAsViaf, normSource)`
  * for a kept triple and none for a dropped one (`kind` would be NULL).
  * `normSource` is the one string `normalize_singular` runs on.
  *
  * A generator rather than a struct-valued expression: the keep decision
  * is made by the same call that builds the row. A `where` over a
  * projected struct is pushed below the projection by the optimizer and
  * evaluates the whole projection a second time.
  *
  * Semantics are those of the column-expression projection it replaces
  * (kept as the reference in ProjectNtSpec), SQL three-valued logic
  * included: a NULL subject drops the triple, and a fast subject with a
  * NULL object is dropped because its `/fast/NaN` test is unknown. An id
  * that does not fit in INT is NULL, like a non-numeric one.
  */
case class ProjectNt(subject: Expression, predicate: Expression, obj: Expression)
    extends Generator with TernaryLike[Expression] {

  override def first: Expression = subject
  override def second: Expression = predicate
  override def third: Expression = obj

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != StringType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"project_nt expects STRING arguments, got ${c.dataType.simpleString}")
    }

  override def elementSchema: StructType = ProjectNt.Schema

  override def prettyName: String = "project_nt"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ProjectNt.rows(
      subject.eval(input).asInstanceOf[UTF8String],
      predicate.eval(input).asInstanceOf[UTF8String],
      obj.eval(input).asInstanceOf[UTF8String])

  // GenerateExec iterates `${ev.value}.iterator()`
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val argList = args.map(a => s"${a.isNull} ? null : ${a.value}").mkString(", ")
    ev.copy(code = code"""
      |${args.map(_.code.toString).mkString("\n")}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.ProjectNt.rows($argList);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(subject = newFirst, predicate = newSecond, obj = newThird)
}

object ProjectNt {

  private val Schema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("id", IntegerType),
    StructField("prefLabel", StringType),
    StructField("altLabel", StringType),
    StructField("label", StringType),
    StructField("sameAsLc", StringType),
    StructField("sameAsViaf", StringType),
    StructField("normSource", StringType)))

  private def utf8(s: String) = UTF8String.fromString(s)
  private val PrefLabel = utf8("http://www.w3.org/2004/02/skos/core#prefLabel")
  private val AltLabel = utf8("http://www.w3.org/2004/02/skos/core#altLabel")
  private val RdfsLabel = utf8("http://www.w3.org/2000/01/rdf-schema#label")
  private val SameAs = utf8("http://schema.org/sameAs")
  private val FastSegment = utf8("/fast/")
  private val FastNaN = utf8("/fast/NaN")
  private val KindFast = utf8("fast")
  private val KindSameAsLabel = utf8("sameAsLabel")

  /** Called from generated code: zero or one output row. */
  def rows(s: UTF8String, p: UTF8String, o: UTF8String): Iterator[InternalRow] = {
    val row = project(s, p, o)
    if (row == null) Iterator.empty else Iterator.single(row)
  }

  /** The projected row, or null when the triple is dropped. */
  private def project(s: UTF8String, p: UTF8String, o: UTF8String): InternalRow = {
    if (s == null) return null
    val out = new Array[Any](Schema.length)
    if (s.contains(FastSegment)) {
      if (s.contains(FastNaN) || o == null || o.contains(FastNaN)) return null
      out(0) = KindFast
      out(1) = fastId(s.toString)
      val slot = // output column of a label predicate
        if (p == PrefLabel) 2 else if (p == AltLabel) 3 else if (p == RdfsLabel) 4 else -1
      if (slot > 0) {
        val kept = keptLiteral(literal(o.toString))
        out(slot) = kept
        out(7) = kept
      } else if (p == SameAs) {
        val uri = objectUri(o.toString)
        if (uri != null) {
          if (uri.contains("id.loc.gov")) out(5) = utf8(uri)
          if (uri.contains("viaf.org")) out(6) = utf8(uri)
        }
      }
    } else {
      // a non-fast subject is kept only as an external label
      if (o == null || p != RdfsLabel) return null
      val lit = literal(o.toString)
      if (lit == null) return null
      out(0) = KindSameAsLabel
      out(4) = keptLiteral(lit)
      out(7) = utf8(lit)
    }
    new GenericInternalRow(out)
  }

  /** Length guard (`lib/fast_parse.js:33`): literals of fewer than two
    * characters (code points, as Spark's `length`) are dropped.
    */
  private def keptLiteral(lit: String): UTF8String =
    if (lit != null && lit.codePointCount(0, lit.length) >= 2) utf8(lit) else null

  /** parseInt of the digits after the first `/fast/` that is followed by
    * one (`lib/fast_parse.js:23`, regex `/fast/([0-9]+)`); NULL when there
    * are none or the value does not fit in INT.
    */
  private def fastId(s: String): Integer = {
    var at = s.indexOf("/fast/")
    while (at >= 0) {
      val d0 = at + 6
      var i = d0
      var v = 0L
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        if (v <= Int.MaxValue) v = v * 10 + (s.charAt(i) - '0')
        i += 1
      }
      if (i > d0) return if (v <= Int.MaxValue) Int.box(v.toInt) else null
      at = s.indexOf("/fast/", at + 1)
    }
    null
  }

  /** IRI objects: `<x>` → `x` (up to the first `>`); NULL for literals,
    * unclosed IRIs and `<>`.
    */
  private def objectUri(o: String): String =
    if (!o.startsWith("<")) null
    else {
      val g = o.indexOf('>')
      if (g > 1) o.substring(1, g) else null
    }

  /** Literal objects: the decoded value of `"v"`, `"v"@lang` or `"v"^^<t>`
    * (`N3Util.getLiteralValue`, `lib/fast_parse.js:31,46`); NULL when the
    * object is not a literal, "" when it starts with a quote but has no
    * well-formed literal shape. Matches the regex
    * `^"(.*)"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?$` group 1: the value ends at
    * the LAST quote before the optional suffix, so escaped interior
    * quotes survive, and it cannot span a line terminator.
    */
  private def literal(o: String): String = {
    if (!o.startsWith("\"")) return null
    var lim = 1
    while (lim < o.length && !ParseNt.lineTerm(o.charAt(lim))) lim += 1
    var q = lim - 1
    while (q >= 1) {
      if (o.charAt(q) == '"' && suffixThenEnd(o, q + 1)) return NtUnescape.unescape(o.substring(1, q))
      q -= 1
    }
    ""
  }

  /** `(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?$` matches `o` from `i`. */
  private def suffixThenEnd(o: String, i: Int): Boolean =
    atEnd(o, i) || {
      if (i < o.length && o.charAt(i) == '@') {
        var e = i + 1
        while (e < o.length && langChar(o.charAt(e))) e += 1
        e > i + 1 && atEnd(o, e)
      } else if (o.startsWith("^^<", i)) {
        val g = o.indexOf('>', i + 3)
        g >= 0 && atEnd(o, g + 1)
      } else false
    }

  private def langChar(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-'

  /** Java regex `$` without MULTILINE: the end of input, or before a line
    * terminator that ends it (`\r\n` counts as one). `$` also never falls
    * between `\r` and `\n`; callers never ask there, as `o(i - 1)` is
    * always a quote, a language-tag character or `>`.
    */
  private def atEnd(o: String, i: Int): Boolean = {
    val n = o.length
    if (i == n) true
    else if (i == n - 1) ParseNt.lineTerm(o.charAt(i))
    else i == n - 2 && o.charAt(i) == '\r' && o.charAt(i + 1) == '\n'
  }
}

package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass N-Triples line parse: `<s> <p> (term) .` →
  * `STRUCT<subject, predicate, obj>`, NULL for malformed lines.
  *
  * Replaces three `regexp_extract` calls over the same pattern (each runs
  * its own regex match) with a single compiled match per line — the
  * "optional custom Expression for perf" upgrade from SURVEY.md §7.3.
  * Same grammar as [[graft.functions.Nt]]: IRIs in angle brackets, object
  * term captured raw (IRI or quoted literal with optional suffix).
  */
case class ParseNt(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_nt expects STRING, got ${child.dataType.simpleString}")

  override def dataType: DataType = StructType(Seq(
    StructField("subject", StringType),
    StructField("predicate", StringType),
    StructField("obj", StringType)))

  override def nullable: Boolean = true

  override def prettyName: String = "parse_nt"

  override protected def nullSafeEval(input: Any): Any =
    ParseNt.parseLine(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ParseNt.parseLine($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ParseNt {
  /** The grammar of record, used by the property spec as the reference
    * implementation the scanner below must match byte-for-byte.
    */
  private[graft] val LineRe: Pattern =
    Pattern.compile("^\\s*<([^>]*)>\\s+<([^>]*)>\\s+(.+?)\\s*\\.\\s*$")

  /** Regex-equivalent reference parse (kept for the spec's differential
    * test; the hot path is the scanner in [[parseLine]]).
    */
  private[graft] def parseLineRegex(line: String): Array[String] = {
    val m = LineRe.matcher(line)
    if (!m.matches()) null
    else Array(m.group(1), m.group(2), m.group(3))
  }

  // Java regex \s — NOT Character.isWhitespace (which adds Unicode spaces)
  private def ws(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  // Java regex default `.` exclusions (UNIX_LINES off, no DOTALL)
  private[functions] def lineTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Called from generated code. Returns null for malformed lines.
    *
    * Hand-rolled scanner equivalent to [[LineRe]] (ParseNtScannerSpec
    * proves byte-equality against the regex on goldens + fuzz): one
    * forward pass instead of a backtracking matcher per line — the
    * reference-core ingest parses ~10⁶ lines/GB, so the per-line
    * constant is the flagship's floor.
    */
  def parseLine(line: UTF8String): InternalRow = {
    val s = line.toString
    val n = s.length
    var i = 0
    while (i < n && ws(s.charAt(i))) i += 1            // ^\s*
    if (i >= n || s.charAt(i) != '<') return null      // <
    val s0 = i + 1
    var j = s0
    while (j < n && s.charAt(j) != '>') j += 1         // [^>]*
    if (j >= n) return null                            // >
    val subject = s.substring(s0, j)
    i = j + 1
    val wsStart1 = i
    while (i < n && ws(s.charAt(i))) i += 1            // \s+
    if (i == wsStart1 || i >= n || s.charAt(i) != '<') return null
    val p0 = i + 1
    j = p0
    while (j < n && s.charAt(j) != '>') j += 1         // [^>]*
    if (j >= n) return null                            // >
    val predicate = s.substring(p0, j)
    i = j + 1
    val wsStart2 = i
    while (i < n && ws(s.charAt(i))) i += 1            // \s+ (greedy)
    if (i == wsStart2) return null
    var e = n
    while (e > wsStart2 && ws(s.charAt(e - 1))) e -= 1 // \s*$
    if (e <= wsStart2 || s.charAt(e - 1) != '.') return null // \.
    val dotPos = e - 1
    var oe = dotPos
    while (oe > wsStart2 && ws(s.charAt(oe - 1))) oe -= 1 // \s* before the dot
    // normal case: non-ws object between the greedy \s+ and the pre-dot
    // ws. Regex `.` excludes line terminators, so an object that would
    // span one can never match (the object always starts at ≤ i and ends
    // at ≥ oe — a terminator inside [i, oe) is unavoidable → null).
    val obj =
      if (oe > i) {
        var k = i
        while (k < oe && !lineTerm(s.charAt(k))) k += 1
        if (k < oe) return null
        s.substring(i, oe)
      } else {
        // degenerate all-ws middle: the regex backtracks \s+ and captures
        // a single pre-dot ws char as the (lazy, 1-char) object — the
        // LATEST one `.` can match (line terminators excluded), with at
        // least one ws char left for the mandatory \s+
        var p = dotPos - 1
        while (p >= wsStart2 + 1 && lineTerm(s.charAt(p))) p -= 1
        if (p < wsStart2 + 1) return null
        s.substring(p, p + 1)
      }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(subject),
      UTF8String.fromString(predicate),
      UTF8String.fromString(obj)))
  }
}

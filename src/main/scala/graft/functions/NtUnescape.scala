package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** N-Triples string-escape decoding per the W3C spec (ECHAR: \t \b \n \r
  * \f \" \' \\ and UCHAR: \uXXXX \UXXXXXXXX) — the behavior of the
  * reference's `N3Util.getLiteralValue` (`lib/fast_parse.js:31,46`), which
  * returns decoded literal values.
  *
  * Native codegen expression (static call, no UDF): literals pass through
  * unchanged unless they contain a backslash, so the fast path is a single
  * byte scan. Malformed escapes (truncated \u, non-hex digits) keep the
  * characters as-is rather than failing the row — parse guards drop
  * malformed *lines*; a stray backslash inside a label is data.
  */
case class NtUnescape(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nt_unescape expects STRING, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "nt_unescape"

  override protected def nullSafeEval(input: Any): Any =
    NtUnescape.unescape(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NtUnescape.unescape($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NtUnescape {

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def parseHex(s: String, from: Int, len: Int): Int = {
    var v = 0
    var i = 0
    while (i < len) {
      val h = hexVal(s.charAt(from + i))
      if (h < 0) return -1
      v = (v << 4) | h
      i += 1
    }
    v
  }

  /** Called from generated code. */
  def unescape(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = unescape(str)
    if (out eq str) s else UTF8String.fromString(out)
  }

  def unescape(str: String): String = {
    if (str.indexOf('\\') < 0) return str // fast path: nothing to decode
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (c == '\\' && i + 1 < n) {
        str.charAt(i + 1) match {
          case 't'  => sb.append('\t'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case '"'  => sb.append('"'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' if i + 6 <= n && parseHex(str, i + 2, 4) >= 0 =>
            sb.append(parseHex(str, i + 2, 4).toChar); i += 6
          case 'U' if i + 10 <= n && Character.isValidCodePoint(parseHex(str, i + 2, 8)) =>
            sb.appendCodePoint(parseHex(str, i + 2, 8)); i += 10
          case _ => sb.append(c); i += 1 // not an escape: keep the backslash
        }
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }
}

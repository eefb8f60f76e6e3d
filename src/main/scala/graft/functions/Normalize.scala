package graft.functions

import java.text.Normalizer

/** Label normalization with the semantics the reference pins via its test
  * goldens (reference `lib/fast_parse.js:37-38,48`; assertions in
  * `test/fast_parse.test.js:50-72`):
  *
  *   - lowercase
  *   - diacritics folded (NFD + strip combining marks)
  *   - punctuation replaced by space, whitespace collapsed, trimmed
  *   - `singularize`: English plural→singular of the final token
  *
  * `normalize` is deliberately mirror-able in ANSI SQL
  * (`lower` + `strip_accents` + two `regexp_replace`) so the DuckDB oracle can
  * replicate it exactly; `singularize` is a fixed chain of suffix rules that is
  * likewise regex-expressible (see `QueryHelpers.normSql` and
  * `IngestQueries.singSql` in graft.queries).
  */
object Normalize {

  /** NFD-decompose and drop combining marks: "café" → "cafe". */
  def stripAccents(s: String): String = {
    // Fast path: ASCII strings (the overwhelming majority) skip NFD entirely.
    var i = 0
    var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) s
    else {
      val nfd = Normalizer.normalize(s, Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(nfd.length)
      var j = 0
      while (j < nfd.length) {
        val c = nfd.charAt(j)
        if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
        j += 1
      }
      sb.toString
    }
  }

  /** lowercase + fold accents + strip punctuation + collapse whitespace.
    * Matches `lower(strip_accents(x))` then `regexp_replace('[^a-z0-9 ]', ' ')`
    * then collapse-spaces in the oracle dialect.
    */
  def normalize(s: String): String = {
    if (s == null) return null
    val folded = stripAccents(s).toLowerCase
    val sb = new java.lang.StringBuilder(folded.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < folded.length) {
      val c = folded.charAt(i)
      val keep = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (keep) {
        if (pendingSpace && started) sb.append(' ')
        sb.append(c)
        started = true
        pendingSpace = false
      } else {
        pendingSpace = true // any run of punct/space collapses to one space
      }
      i += 1
    }
    sb.toString
  }

  /** English plural→singular of the FINAL token. Irregular forms first
    * (exact final-token match — the class the reference's external
    * `singularize` package handles that suffix rules can't), then the
    * rule chain, tested as plain suffixes of the whole string (so it
    * naturally applies to the last token only):
    *   0. irregulars: men→man, women→woman, children→child, people→person,
    *      feet→foot, teeth→tooth, geese→goose, mice→mouse, oxen→ox
    *   1. ends `[a-z]ies`               → `y`   (policies → policy)
    *   2. ends `sses|ches|shes|xes|zes` → drop `es` (boxes → box, churches → church)
    *   3. ends `ss`/`[aiou]s`           → unchanged (glass, virus, basis, alias, chaos)
    *   4. ends `[a-z0-9]s`              → drop `s`
    * The rules are defined as four `.*`-prefixed regexes, which
    * NormalizeSpec keeps as the reference; `.` does not match a line
    * terminator, so a string holding one (see `hasLineTerminator`)
    * passes the chain unchanged.
    * The reference's `singularize` comes from an unvendored package; these
    * rules are our pinned deterministic definition (SURVEY.md §1.4), and
    * they are mirrored regex-for-regex in the DuckDB oracle
    * (`IngestQueries.singSql` in graft.queries).
    */
  val Irregulars: Map[String, String] = Map(
    "men" -> "man", "women" -> "woman", "children" -> "child",
    "people" -> "person", "feet" -> "foot", "teeth" -> "tooth",
    "geese" -> "goose", "mice" -> "mouse", "oxen" -> "ox")

  def singularize(s: String): String = {
    if (s == null) return null
    val lastTok = s.substring(s.lastIndexOf(' ') + 1)
    Irregulars.get(lastTok) match {
      case Some(singular) =>
        s.substring(0, s.length - lastTok.length) + singular
      case None =>
        val n = s.length
        // every rule needs a final `s` after at least one char
        if (n < 2 || s.charAt(n - 1) != 's' || hasLineTerminator(s)) s
        else if (n >= 4 && s.endsWith("ies") && isLower(s.charAt(n - 4)))
          s.substring(0, n - 3) + "y"
        else if (s.endsWith("sses") || s.endsWith("ches") || s.endsWith("shes") ||
            s.endsWith("xes") || s.endsWith("zes")) s.substring(0, n - 2)
        else {
          val c = s.charAt(n - 2)
          if (c == 's' || c == 'a' || c == 'i' || c == 'o' || c == 'u') s
          else if (isLower(c) || (c >= '0' && c <= '9')) s.substring(0, n - 1)
          else s
        }
    }
  }

  private def isLower(c: Char): Boolean = c >= 'a' && c <= 'z'

  /** Does `s` hold a char regex `.` does not match: `\n`, `\r`, `\u0085`,
    * `\u2028` or `\u2029`?
    */
  private def hasLineTerminator(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029') return true
      i += 1
    }
    false
  }

  /** The reference's full pipeline: `singularize(normalizeAndDiacritics(x))`. */
  def normalizeSingular(s: String): String =
    if (s == null) null else singularize(normalize(s))
}

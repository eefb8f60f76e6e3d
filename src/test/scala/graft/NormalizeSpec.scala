package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Normalize

/** Pins the normalization semantics asserted by the reference's tests
  * (`test/fast_parse.test.js:50-72`) plus our own singularize goldens
  * (SURVEY.md §1.4 — the upstream package is unvendored, so these goldens
  * ARE the engine's definition).
  */
class NormalizeSpec extends AnyFunSuite {

  test("reference golden: prefLabel normalization") {
    assert(Normalize.normalizeSingular("Regional Farm Policy Conference")
      === "regional farm policy conference")
  }

  test("reference golden: punctuation stripped, whitespace collapsed") {
    assert(Normalize.normalizeSingular("Fiesta San Antonio (San Antonio, Tex.)")
      === "fiesta san antonio san antonio tex")
  }

  test("reference golden: rdfs label") {
    assert(Normalize.normalizeSingular("Carlsbad International Chess Tournament")
      === "carlsbad international chess tournament")
  }

  test("diacritics folded") {
    assert(Normalize.normalize("Café Zürich Señor") === "cafe zurich senor")
    assert(Normalize.normalize("Dvořák, Antonín") === "dvorak antonin")
  }

  test("double-dash becomes single space") {
    assert(Normalize.normalize("Aviation insurance--War risks")
      === "aviation insurance war risks")
  }

  test("singularize rule chain") {
    assert(Normalize.singularize("policies") === "policy")
    assert(Normalize.singularize("churches") === "church")
    assert(Normalize.singularize("boxes") === "box")
    assert(Normalize.singularize("glasses") === "glass")
    assert(Normalize.singularize("glass") === "glass")
    assert(Normalize.singularize("virus") === "virus")
    assert(Normalize.singularize("basis") === "basis")
    assert(Normalize.singularize("widgets") === "widget")
    assert(Normalize.singularize("alias") === "alias")
    assert(Normalize.singularize("chaos") === "chaos")
    assert(Normalize.singularize("conferences") === "conference")
    assert(Normalize.singularize("s") === "s") // bare s: no preceding token char
    assert(Normalize.singularize("farm policy conferences") === "farm policy conference")
  }

  test("singularize irregular final tokens") {
    assert(Normalize.singularize("men") === "man")
    assert(Normalize.singularize("famous men") === "famous man")
    assert(Normalize.singularize("women") === "woman")
    assert(Normalize.singularize("children") === "child")
    assert(Normalize.singularize("people") === "person")
    assert(Normalize.singularize("feet") === "foot")
    assert(Normalize.singularize("geese and mice") === "geese and mouse")
    // NOT irregular: token must match exactly, suffix rules still apply
    assert(Normalize.singularize("specimens") === "specimen")
    assert(Normalize.singularize("abdomen") === "abdomen")
    assert(Normalize.singularize("ramen shops") === "ramen shop")
  }

  /** The rule chain in its defining form, four `.*`-prefixed regexes: the
    * reference for [[Normalize.singularize]]'s suffix tests. Returns which
    * branch fired with the result.
    */
  private object RegexSingularize {
    private val Ies  = ".*[a-z]ies$".r.pattern
    private val Es   = ".*(sses|ches|shes|xes|zes)$".r.pattern
    private val Keep = ".*(ss|[aiou]s)$".r.pattern
    private val S    = ".*[a-z0-9]s$".r.pattern

    def apply(s: String): (String, String) = {
      val lastTok = s.substring(s.lastIndexOf(' ') + 1)
      Normalize.Irregulars.get(lastTok) match {
        case Some(singular) =>
          "irregular" -> (s.substring(0, s.length - lastTok.length) + singular)
        case None =>
          val n = s.length
          if (Ies.matcher(s).matches) "ies" -> (s.substring(0, n - 3) + "y")
          else if (Es.matcher(s).matches) "es" -> s.substring(0, n - 2)
          else if (Keep.matcher(s).matches) "keep" -> s
          else if (S.matcher(s).matches) "s" -> s.substring(0, n - 1)
          else "none" -> s
      }
    }
  }

  test("singularize suffix tests agree with the regex rule chain on random strings") {
    val terminators = "\n\r\u0085\u2028\u2029"
    val alphabets = Seq(
      "abcdefghijklmnopqrstuvwxyz0123456789 ",
      "abcsxzhieoAZSIES ,.-'()!?09",
      "aeiousxzch \u00e9\u00df\u00f1\u4e2d\u00c9\uD83D\uDE00\u0301\u00a0")
    // endings that reach every rule and its near misses
    val endings = Seq("ies", "Ies", "9ies", " ies", "sses", "ches", "shes", "xes", "zes", "ses",
      "hes", "es", "ss", "as", "is", "os", "us", "bs", "9s", "Ss", "-s", " s", "s", "",
      "\u00e9s", "\u00e9ies") ++ Normalize.Irregulars.keys.flatMap(k => Seq(k, " " + k, k + "s"))
    val rnd = new scala.util.Random(15)
    val fired = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var guarded = 0
    for (alphabet <- alphabets; withTerminator <- Seq(false, true); _ <- 1 to 4000) {
      val body = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val plain = body + endings(rnd.nextInt(endings.size))
      val s = if (!withTerminator) plain else {
        val at = rnd.nextInt(plain.length + 1)
        plain.take(at) + terminators(rnd.nextInt(terminators.length)) + plain.drop(at)
      }
      val (branch, expected) = RegexSingularize(s)
      assert(Normalize.singularize(s) === expected, s"input: ${s.map(_.toInt)}")
      fired(branch) += 1
      // the guard decided: without the terminator a rule would have fired
      if (withTerminator && branch == "none" &&
          RegexSingularize(s.filterNot(terminators.contains(_)))._1 != "none") guarded += 1
    }
    Seq("irregular", "ies", "es", "keep", "s", "none").foreach(b =>
      assert(fired(b) > 100, s"rule $b fired ${fired(b)} times: $fired"))
    assert(guarded > 100, s"line-terminator guard decided $guarded strings")
    // each terminator before and after a word a rule would change
    terminators.foreach { t =>
      Seq("policies", "boxes", "widgets").foreach { w =>
        assert(Normalize.singularize(t + w) === t + w)
        assert(Normalize.singularize(w + t) === w + t)
      }
    }
  }

  private val rng = new scala.util.Random(42)
  private def randomString(): String = {
    val alphabet = "aA zZ09!?,.--()éüßñ\t\n\"'\\éÉ中日"
    val n = rng.nextInt(40)
    Seq.fill(n)(alphabet(rng.nextInt(alphabet.length))).mkString
  }

  test("normalize is idempotent (1000 random strings)") {
    (1 to 1000).foreach { _ =>
      val s = randomString()
      val once = Normalize.normalize(s)
      assert(Normalize.normalize(once) === once, s"input: $s")
    }
  }

  test("normalize output alphabet is [a-z0-9 ], single-spaced, trimmed") {
    (1 to 1000).foreach { _ =>
      val n = Normalize.normalize(randomString())
      assert(n.matches("([a-z0-9]+( [a-z0-9]+)*)?"), s"got: '$n'")
    }
  }

  test("unicode_norm: NFC composes, NFKC folds compatibility, forms differ") {
    import graft.functions.UnicodeNormalize.{normalize => un}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val decomposed = "caf" + "e\u0301" + " \uFB01ne \uFF21" // e+acute, fi-ligature, full-width A
    assert(un(u(decomposed), "NFC").toString === "caf\u00E9 \uFB01ne \uFF21",
      "NFC composes marks but keeps compatibility chars")
    assert(un(u(decomposed), "NFKC").toString === "caf\u00E9 fine A",
      "NFKC additionally folds ligature and full-width forms")
    assert(un(u("caf\u00E9"), "NFD").toString === "cafe\u0301", "NFD decomposes")
    // ASCII fast path: same reference back, any form
    val ascii = u("plain ascii text")
    assert(un(ascii, "NFKC") eq ascii)
    // idempotence on 500 random strings with marks mixed in
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val s = (1 to rnd.nextInt(20)).map(_ => rnd.nextInt(3) match {
        case 0 => ('a' + rnd.nextInt(26)).toChar.toString
        case 1 => "\u0301"
        case _ => "\uFB01"
      }).mkString
      val once = un(u(s), "NFKC").toString
      assert(un(u(once), "NFKC").toString === once, s"input: $s")
    }
  }
}

package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ingest.FastIngest

/** The native projection kernel behind [[FastIngest.project]] must equal,
  * row for row, the column-expression projection it replaced. That
  * projection stays here as the reference implementation, with one change:
  * an id that does not fit in INT is NULL (`try_cast`) instead of failing
  * the query under ANSI mode. Both Spark evaluation paths of the kernel
  * are checked: the interpreted `eval` (no codegen at all) and generated
  * code (CODEGEN_ONLY, no fallback).
  */
class ProjectNtSpec extends SparkSpec {

  private val PrefLabel = "http://www.w3.org/2004/02/skos/core#prefLabel"
  private val AltLabel = "http://www.w3.org/2004/02/skos/core#altLabel"
  private val RdfsLabel = "http://www.w3.org/2000/01/rdf-schema#label"
  private val SameAs = "http://schema.org/sameAs"

  private def nullIfEmpty(c: Column): Column = when(length(c) > 0, c)

  private def objectUri(term: Column): Column =
    when(term.startsWith("<"), nullIfEmpty(regexp_extract(term, "^<([^>]*)>", 1)))

  private def literalValue(term: Column): Column =
    when(term.startsWith("\""),
      call_function("nt_unescape",
        regexp_extract(term, "^\"(.*)\"(?:@[A-Za-z0-9-]+|\\^\\^<[^>]*>)?$", 1)))

  /** The reference: the column-expression projection, one regex match per
    * extracted field.
    */
  private def referenceProject(triples: DataFrame): DataFrame = {
    val subject = col("subject")
    val predicate = col("predicate")
    val isFast = subject.contains("/fast/")
    val isNaN = subject.contains("/fast/NaN") || col("obj").contains("/fast/NaN")
    val idStr = regexp_extract(subject, "/fast/([0-9]+)", 1)
    val id = when(idStr =!= "", idStr).try_cast(IntegerType)
    val uri = objectUri(col("obj"))
    val lit_ = literalValue(col("obj"))
    val keptLiteral = when(length(lit_) >= 2, lit_)

    val prefLabel = when(predicate === PrefLabel, keptLiteral)
    val altLabel = when(predicate === AltLabel, keptLiteral)
    val label = when(predicate === RdfsLabel, keptLiteral)
    val sameAsLc = when(predicate === SameAs && uri.contains("id.loc.gov"), uri)
    val sameAsViaf = when(predicate === SameAs && uri.contains("viaf.org"), uri)

    val kind = when(isFast && !isNaN, lit("fast"))
      .when(!isFast && predicate === RdfsLabel && lit_.isNotNull, lit("sameAsLabel"))

    val passthrough = triples.columns
      .filterNot(Set("subject", "predicate", "obj")).map(col)

    triples
      .select(Seq(
        kind.as("kind"),
        when(isFast, id).as("id"),
        prefLabel.as("prefLabel"),
        altLabel.as("altLabel"),
        label.as("label"),
        sameAsLc.as("sameAsLc"),
        sameAsViaf.as("sameAsViaf"),
        when(isFast, Functions.normalizeSingular(coalesce(prefLabel, altLabel, label)))
          .otherwise(Functions.normalizeSingular(lit_)).as("normalized"),
        subject) ++ passthrough: _*)
      .where(col("kind").isNotNull)
  }

  private val Subjects = Seq(
    "http://id.worldcat.org/fast/799409", "http://id.worldcat.org/fast/NaN",
    "http://id.worldcat.org/fast/", "http://id.worldcat.org/fast/abc",
    "http://id.worldcat.org/fast/99999999999", "http://id.worldcat.org/fast/2147483647",
    "http://id.worldcat.org/fast/2147483648", "http://id.worldcat.org/fast/0000000000000000012",
    "http://x/fast/a/fast/7", "http://x//fast//fast/31x", "http://id.worldcat.org/fast/NaNa",
    "http://id.loc.gov/authorities/names/fst01715782", "http://viaf.org/viaf/143214773",
    "", "fast/12", null)

  private val Predicates = Seq(PrefLabel, AltLabel, RdfsLabel, SameAs,
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://purl.org/dc/terms/identifier",
    PrefLabel + "x", "", null)

  private val Objects = Seq(
    "<http://id.loc.gov/authorities/names/no2008059410>", "<http://viaf.org/viaf/143214773>",
    "<http://viaf.org/id.loc.gov/both>", "<http://example.org/other>", "<>", "<unclosed",
    "<http://id.worldcat.org/fast/NaN>", "<a>b>", "\"Jazz\"", "\"Jazz\"@en", "\"Jazz\"@en-US",
    "\"Jazz\"^^<http://www.w3.org/2001/XMLSchema#string>", "\"X\"", "\"\"", "\"", "\"é\"",
    "\"\uD83C\uDFB5\"", "\"\uD83C\uDFB5a\"", "\"Say \\\"hello\\\" twice\"", "\"a\"b\"",
    "\"a\" \"b\"", "\"Dvo\\u0159\\u00e1k, Anton\\u00edn\"@cs", "\"\\u0041\"", "\"\\U7FFFFFFF x\"",
    "\"tab\\there\"", "\"line\nbreak\"", "\"end\"\n", "\"end\"\r\n", "\"end\"\n\n", "\"end\"\r",
    "\"end\"\u2028", "\"a\"@en\n", "\"a\"@\n", "\"ab\"@", "\"ab\"@e!", "\"ab\"^^<t\n>",
    "\"ab\"^^<t>x", "\"ab\"^^t", "\"ab\"^^<t", "\"Bad /fast/NaN label\"", "Not a term", "",
    null)

  private val ObjectPieces = Seq("\"", "\"", "\"", "a", "Zz", " ", "\\", "\\\"", "\\u00e9",
    "\\U0001F3B5", "@", "@en", "^^<", "<", ">", "\n", "\r", "\u2028", "\u0085", "id.loc.gov",
    "viaf.org", "/fast/NaN", "\uD83C\uDFB5", "-", ".")

  /** Hand cases (every subject × predicate × object) plus seeded fuzz. */
  private def triples(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val hand = for { s <- Subjects; p <- Predicates; o <- Objects } yield (s, p, o)
    val rnd = new Random(20261017L)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    val fuzz = Seq.fill(4000) {
      val o = Seq.fill(rnd.nextInt(8))(pick(ObjectPieces)).mkString
      (pick(Subjects), pick(Predicates),
        if (rnd.nextInt(3) == 0) pick(Objects) else pick(Seq("\"", "<", "")) + o)
    }
    (hand ++ fuzz).zipWithIndex.map { case ((s, p, o), i) => (s, p, o, i) }
      .toDF("subject", "predicate", "obj", "i")
      .repartition(4) // off the LocalRelation fast path: real plans on both sides
  }

  private def assertSame(spark: SparkSession): Unit = {
    val in = triples(spark)
    val kernel = FastIngest.project(in)
    val reference = referenceProject(in)
    assert(kernel.schema === reference.schema)
    val got = kernel.collect().sortBy(_.getAs[Int]("i")).toSeq
    val want = reference.collect().sortBy(_.getAs[Int]("i")).toSeq
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    // the cases cover both kinds, a NULL id and every output column
    assert(want.map(_.getAs[String]("kind")).toSet === Set("fast", "sameAsLabel"))
    assert(want.exists(r => r.getAs[String]("kind") == "fast" && r.isNullAt(1)))
    (1 to 7).foreach(c => assert(want.exists(r => !r.isNullAt(c)), s"column $c always NULL"))
  }

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    Functions.register(s)
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("kernel == column-expression reference, interpreted eval") {
    assertSame(session(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }

  test("kernel == column-expression reference, generated code") {
    assertSame(session(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
  }
}

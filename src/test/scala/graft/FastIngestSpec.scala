package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ingest.FastIngest

/** Operator-level tests of the ingest dataflow on tiny in-memory corpora:
  * grouping precedence, enrichment join reachability, agent extraction, and
  * the VIAF first-match update (SURVEY.md §5.2).
  */
class FastIngestSpec extends SparkSpec {
  import spark.implicits._

  private val pref = "http://www.w3.org/2004/02/skos/core#prefLabel"
  private val alt = "http://www.w3.org/2004/02/skos/core#altLabel"
  private val lbl = "http://www.w3.org/2000/01/rdf-schema#label"
  private val same = "http://schema.org/sameAs"

  private def fastLine(id: Int, p: String, o: String) =
    s"<http://id.worldcat.org/fast/$id> <$p> $o ."

  private def fragments(lines: Seq[String]) =
    FastIngest.project(FastIngest.parse(
      lines.toDF("line").select($"line", lit("Topical").as("doc_type"))))

  private def docs(lines: Seq[String]): Map[Int, Row] =
    FastIngest.termDocs(fragments(lines))
      .collect().map(r => r.getAs[Int]("_id") -> r).toMap

  test("prefLabel wins over rdfs:label; label fills when prefLabel absent") {
    val d = docs(Seq(
      fastLine(1, lbl, "\"Fallback Label\""),
      fastLine(1, pref, "\"Preferred\""),
      fastLine(2, lbl, "\"Only Label\"")))
    assert(d(1).getAs[String]("prefLabel") === "Preferred")
    assert(d(2).getAs[String]("prefLabel") === "Only Label")
  }

  test("altLabels collected as a sorted set; normalized set-valued") {
    val d = docs(Seq(
      fastLine(3, pref, "\"Main\""),
      fastLine(3, alt, "\"Zeta\""),
      fastLine(3, alt, "\"Alpha\""),
      fastLine(3, alt, "\"Zeta\"")))
    assert(d(3).getAs[Seq[String]]("altLabel") === Seq("Alpha", "Zeta"))
    assert(d(3).getAs[Seq[String]]("normalized") === Seq("alpha", "main", "zeta"))
  }

  test("sameAs arrays carry URI + trailing segment") {
    val d = docs(Seq(
      fastLine(4, pref, "\"X Y\""),
      fastLine(4, same, "<http://viaf.org/viaf/42>"),
      fastLine(4, same, "<http://id.loc.gov/authorities/names/no99>")))
    assert(d(4).getAs[Seq[String]]("sameAsViaf") === Seq("42", "http://viaf.org/viaf/42"))
    assert(d(4).getAs[Seq[String]]("sameAsLc")
      === Seq("http://id.loc.gov/authorities/names/no99", "no99"))
  }

  test("enrichment: every sameAs element is probed, full URI and bare segment") {
    val d = docs(Seq(
      fastLine(5, pref, "\"Subject\""),
      fastLine(5, same, "<http://viaf.org/viaf/77>"),
      "<http://viaf.org/viaf/77> <" + lbl + "> \"External Name\" .",
      // keyed by the trailing segment of doc 5's link: `sameAsViaf` holds
      // "77" too, and every array element is probed (SURVEY.md J1)
      "<77> <" + lbl + "> \"Segment Name\" .",
      // a segment no doc links to
      "<88> <" + lbl + "> \"Unreachable\" ."))
    assert(d(5).getAs[Seq[String]]("altLabel") === Seq("External Name", "Segment Name"))
    assert(d(5).getAs[Seq[String]]("normalized")
      === Seq("external name", "segment name", "subject"))
  }

  test("termDocs equals the doc-level group, P6 filter and enrich on random corpora") {
    // the fused per-fragment probe against the reference it replaced:
    // group the term fragments, drop VIAF-linked Events, then enrich the
    // docs from the grouped label table of all files
    val termTypes = Seq("Chronological", "Event", "Form", "Geographic", "Topical")
    val files = termTypes ++ Seq("Corporate", "Personal")
    def reference(frags: org.apache.spark.sql.DataFrame) = FastIngest.enrich(
      FastIngest.buildDocsTagged(frags.where($"doc_type".isin(termTypes: _*)))
        .where(!($"type" === "Event" && size($"sameAsViaf") > 0)),
      FastIngest.sameAsLabels(frags))
    def byId(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Any]] =
      df.collect().map(r => r.getAs[Int]("_id") -> r.toSeq).toMap
    val rnd = new scala.util.Random(7)
    var enriched, fromAgents, droppedEvents, nullLabels, bothHosts = 0
    (1 to 8).foreach { round =>
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      val uris = (1 to 6).flatMap(n => Seq(s"http://viaf.org/viaf/$n",
        s"http://id.loc.gov/authorities/names/n$n",
        s"http://id.loc.gov/viaf.org/b$n")) // both an LC and a VIAF link
      val lines = Seq.newBuilder[(String, String)]
      (1 to 12).foreach { id =>
        // ids repeat across files (A4)
        Seq.fill(1 + rnd.nextInt(2))(pick(files)).foreach { f =>
          if (rnd.nextBoolean()) lines += fastLine(id, pref, s"\"Pref $id $f\"") -> f
          Seq.fill(rnd.nextInt(3))(s"\"Alt ${rnd.nextInt(5)}\"")
            .foreach(a => lines += fastLine(id, alt, a) -> f)
          Seq.fill(rnd.nextInt(3))(pick(uris))
            .foreach(u => lines += fastLine(id, same, s"<$u>") -> f)
        }
      }
      // labels keyed by full URIs and by bare segments, from every file;
      // a one-code-point literal has a null label but a normalized form
      Seq.fill(14)(pick(uris)).foreach { u =>
        val subject = if (rnd.nextInt(4) == 0) u.split('/').last else u
        val text = if (rnd.nextInt(5) == 0) "Q" else s"Ext ${rnd.nextInt(9)}"
        lines += s"<$subject> <$lbl> \"$text\" ." -> pick(files)
      }
      val frags = FastIngest.project(FastIngest.parse(lines.result().toDF("line", "doc_type")))
      val want = byId(reference(frags))
      assert(byId(FastIngest.termDocs(frags)) === want, s"round $round")
      val plain = byId(FastIngest.buildDocsTagged(frags.where($"doc_type".isin(termTypes: _*))))
      enriched += want.count { case (id, r) => r != plain(id) }
      val termLabelsOnly = frags.where($"kind" === "fast" || $"doc_type".isin(termTypes: _*))
      fromAgents += byId(FastIngest.termDocs(termLabelsOnly))
        .count { case (id, r) => r != want(id) }
      droppedEvents += (plain.keySet -- want.keySet).size
      nullLabels += want.values.count( // from "Q", whose label is null
        _(7).asInstanceOf[scala.collection.Seq[String]].contains("q"))
      bothHosts += want.count { case (id, r) => r != plain(id) &&
        r(5).asInstanceOf[scala.collection.Seq[String]].exists(_.contains("viaf.org")) }
    }
    // the corpora reach every case the fused path must get right
    assert(Seq(enriched, fromAgents, droppedEvents, nullLabels, bothHosts).forall(_ > 0),
      s"enriched=$enriched fromAgents=$fromAgents droppedEvents=$droppedEvents " +
        s"nullLabels=$nullLabels bothHosts=$bothHosts")
  }

  test("agent otherId: LC link preferred over VIAF, linkless dropped") {
    val frags = FastIngest.project(FastIngest.parse(Seq(
      fastLine(6, same, "<http://id.loc.gov/authorities/names/no123>"),
      fastLine(7, same, "<http://viaf.org/viaf/456>"),
      fastLine(8, pref, "\"No Links\"")).toDF("line")))
    val agents = FastIngest.agentOtherIds(frags).collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[String]("otherId")).toMap
    assert(agents === Map(6 -> "no123", 7 -> "456"))
  }

  test("viafUpdate: first match only, set-append, unmatched rows unchanged") {
    val agents = Seq((10, "v1"), (11, "v1"), (12, "nope")).toDF("id", "otherId")
    val viaf = Seq(
      ("a", "v1", "lcA", Seq(99)),   // matched via viaf key (first by _id)
      ("b", "v1", "lcB", Seq.empty[Int]), // same key, loses first-match
      ("c", "x", "lcC", Seq(1))      // unmatched, unchanged
    ).toDF("_id", "viaf", "lcId", "fast")
    val out = FastIngest.viafUpdate(agents, viaf).collect()
      .map(r => r.getAs[String]("_id") -> r.getAs[Seq[Int]]("fast")).toMap
    assert(out("a") === Seq(10, 11, 99))
    assert(out("b") === Seq.empty)
    assert(out("c") === Seq(1))
  }

  test("termDocs and viafUpdate leave no persisted storage behind") {
    // clean slate incl. RDD-level blocks (see GraphSpec's twin test)
    GraftSession.releaseAll(spark)
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    val baseCache = !spark.sharedState.cacheManager.isEmpty
    // both ops are fully lazy: one action, nothing to release
    FastIngest.termDocs(fragments(Seq(fastLine(1, pref, "\"Doc One\"")))).collect()
    val upd = FastIngest.viafUpdate(
      Seq((10, "v1")).toDF("id", "otherId"),
      Seq(("a", "v1", "lcA", Seq(99))).toDF("_id", "viaf", "lcId", "fast"))
    upd.collect()
    assert(sc.getPersistentRDDs.size === base,
      s"ingest ops leaked persisted RDDs: ${sc.getPersistentRDDs.values.map(_.name)}")
    assert(spark.sharedState.cacheManager.isEmpty || baseCache,
      "ingest ops leaked CacheManager entries")
  }

  test("viafUpdate matches an in-memory reference on seeded random tables") {
    // guards the round-8 unpivot rewrite: semantics must stay exactly
    // "match on viaf OR lcId, first match = min _id, set-append union"
    val rnd = new scala.util.Random(42)
    (1 to 15).foreach { _ =>
      val nAgents = rnd.nextInt(20) + 1
      val nViaf = rnd.nextInt(10) + 1
      val keys = (0 until 8).map(i => s"k$i")
      val agents = (1 to nAgents).map(_ =>
        (rnd.nextInt(50), keys(rnd.nextInt(keys.size))))
      val viaf = (1 to nViaf).map { i =>
        val f = if (rnd.nextBoolean()) null
                else Seq.fill(rnd.nextInt(3))(rnd.nextInt(100))
        (s"v$i", keys(rnd.nextInt(keys.size)), keys(rnd.nextInt(keys.size)), f)
      }
      val got = FastIngest.viafUpdate(
          agents.toDF("id", "otherId"), viaf.toDF("_id", "viaf", "lcId", "fast"))
        .collect()
        .map(r => r.getAs[String]("_id") -> Option(r.getAs[Seq[Int]]("fast")))
        .toMap
      // reference: brute force over the documented semantics
      val byOther = agents.groupBy(_._2).map { case (k, g) => k -> g.map(_._1).toSet }
      val adds = scala.collection.mutable.Map.empty[String, Set[Int]]
      byOther.foreach { case (otherId, newFast) =>
        val matched = viaf.filter(v => v._2 == otherId || v._3 == otherId)
        if (matched.nonEmpty) {
          val vid = matched.map(_._1).min
          adds(vid) = adds.getOrElse(vid, Set.empty) ++ newFast
        }
      }
      val expected = viaf.map { case (vid, _, _, f) =>
        vid -> (adds.get(vid) match {
          case Some(add) => Some((Option(f).getOrElse(Seq.empty) ++ add).distinct.sorted.toSeq)
          case None => Option(f)
        })
      }.toMap
      assert(got === expected, s"agents=$agents viaf=$viaf")
    }
  }

  test("viafUpdate: lcId key matches too") {
    val agents = Seq((20, "lcB")).toDF("id", "otherId")
    val viaf = Seq(("b", "vB", "lcB", null.asInstanceOf[Seq[Int]]))
      .toDF("_id", "viaf", "lcId", "fast")
    val out = FastIngest.viafUpdate(agents, viaf).collect()
    assert(out.head.getAs[Seq[Int]]("fast") === Seq(20))
  }

  test("P7: type from filename, TermEvent aliases Event") {
    import org.apache.spark.sql.functions.lit
    def typ(f: String): String =
      Seq(f).toDF("f").select(FastIngest.typeFromFilename($"f")).head.getString(0)
    assert(typ("/data/FASTCorporate.nt") === "Corporate")
    assert(typ("/data/FASTTermEvent.nt") === "Event")
    assert(typ("/data/FASTEvent.nt") === "Event")
    assert(typ("/data/FASTFormGenre.nt") === "Form")
    assert(typ("/data/FASTTopical.nt") === "Topical")
  }

  test("P7: only the file name decides the type, not its directory") {
    def typ(f: String): String =
      Seq(f).toDF("f").select(FastIngest.typeFromFilename($"f")).head.getString(0)
    val dir = "file:///data/FASTPersonal-2024"
    assert(typ(s"$dir/FASTChronological.nt") === "Chronological")
    assert(typ(s"$dir/FASTFormGenre.nt") === "Form")
    assert(typ(s"$dir/FASTGeographic.nt") === "Geographic")
    assert(typ(s"$dir/FASTTopical.nt") === "Topical")
    assert(typ(s"$dir/FASTPersonal.nt") === "Personal")
    assert(typ("file:///data/FASTTopical/FASTCorporate.nt") === "Corporate")
  }

  test("buildDocsTagged: per-file types survive to docs") {
    val frags = FastIngest.project(FastIngest.parse(
      Seq(
        (fastLine(40, pref, "\"From Topical\""), "Topical"),
        (fastLine(41, pref, "\"From Geo\""), "Geographic"))
        .toDF("line", "doc_type")))
    val docs = FastIngest.buildDocsTagged(frags).collect()
      .map(r => r.getAs[Int]("_id") -> r.getAs[String]("type")).toMap
    assert(docs === Map(40 -> "Topical", 41 -> "Geographic"))
  }

  test("duplicate ids across files merge into one doc (A4)") {
    val fileA = Seq(fastLine(30, pref, "\"From A\""), fastLine(30, alt, "\"AltA\""))
    val fileB = Seq(fastLine(30, alt, "\"AltB\""))
    val d = docs(fileA ++ fileB)
    assert(d(30).getAs[Seq[String]]("altLabel") === Seq("AltA", "AltB"))
    assert(d(30).getAs[String]("prefLabel") === "From A")
  }
}

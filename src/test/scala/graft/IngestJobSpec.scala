package graft

import java.nio.file.{Files, Paths}

import graft.ingest.{FastIngest, Sinks}
import graft.sources.NtReader

/** End-to-end job tests over real NT files on disk: term path (docs table)
  * and agent path (viaf update), one file at a time and as the full
  * 7-file [[IngestJob.runAll]], plus its pre-flight validation.
  */
class IngestJobSpec extends SparkSpec {

  test("NT files on disk → fast table + viaf update, end to end") {
    val dir = Files.createTempDirectory("graft_job").toString
    Files.writeString(Paths.get(s"$dir/FASTTopical.nt"),
      """<http://id.worldcat.org/fast/101> <http://www.w3.org/2004/02/skos/core#prefLabel> "Alpha Conference" .
        |<http://id.worldcat.org/fast/101> <http://schema.org/sameAs> <http://viaf.org/viaf/900> .
        |<http://id.worldcat.org/fast/102> <http://www.w3.org/2000/01/rdf-schema#label> "Beta Only Label" .
        |garbage line that should be dropped
        |<http://id.worldcat.org/fast/NaN> <http://www.w3.org/2004/02/skos/core#prefLabel> "Bad" .
        |<http://viaf.org/viaf/900> <http://www.w3.org/2000/01/rdf-schema#label> "Alpha External Alias" .
        |""".stripMargin)

    val fragments = FastIngest.project(NtReader.triplesTagged(spark, s"$dir/FASTTopical.nt"))
    val report = Sinks.writeFast(FastIngest.termDocs(fragments), s"$dir/fast")
    assert(report.rows === 2)

    val back = Sinks.readTable(spark, s"$dir/fast").collect()
      .map(r => r.getAs[Int]("_id") -> r).toMap
    assert(back(101).getAs[String]("prefLabel") === "Alpha Conference")
    assert(back(101).getAs[Seq[String]]("altLabel") === Seq("Alpha External Alias"))
    assert(back(102).getAs[String]("prefLabel") === "Beta Only Label") // rdfs fallback

    // agent path: update a viaf table keyed by the sameAs segment
    import spark.implicits._
    val viaf = Seq(("va", "900", "lcZ", null.asInstanceOf[Seq[Int]]))
      .toDF("_id", "viaf", "lcId", "fast")
    val updated = FastIngest.viafUpdate(FastIngest.agentOtherIds(fragments), viaf)
    Sinks.writeViaf(updated, s"$dir/viaf")
    val v = Sinks.readTable(spark, s"$dir/viaf").collect().head
    assert(v.getAs[Seq[Int]]("fast") === Seq(101))
  }

  test("runAll: 7-file layout -> fast + viaf in one invocation (agent/term split)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_job_all").toString

    def fastLine(id: Int, pred: String, obj: String) =
      s"<http://id.worldcat.org/fast/$id> <$pred> $obj ."
    val pref = "http://www.w3.org/2004/02/skos/core#prefLabel"
    val sameAs = "http://schema.org/sameAs"
    val rdfs = "http://www.w3.org/2000/01/rdf-schema#label"

    // term files: one doc each; doc 1's LC link is labelled only in an
    // agent file (Corporate, below)
    Files.writeString(Paths.get(s"$dir/FASTTopical.nt"),
      fastLine(1, pref, "\"Topical One\"") + "\n" +
      fastLine(1, sameAs, "<http://id.loc.gov/authorities/subjects/sh100>") + "\n")
    Files.writeString(Paths.get(s"$dir/FASTGeographic.nt"),
      fastLine(2, pref, "\"Geo Two\"") + "\n")
    Files.writeString(Paths.get(s"$dir/FASTChronological.nt"),
      fastLine(3, pref, "\"Chrono Three\"") + "\n")
    Files.writeString(Paths.get(s"$dir/FASTFormGenre.nt"),
      fastLine(4, pref, "\"Form Four\"") + "\n")
    // Event file: doc 5 carries a VIAF link (agent; P6 drops it from fast),
    // doc 6 is VIAF-less (kept in fast as type Event). Plus an external
    // label for doc 6's LC link to exercise enrichment across the split.
    Files.writeString(Paths.get(s"$dir/FASTEvent.nt"),
      fastLine(5, pref, "\"Event Five\"") + "\n" +
      fastLine(5, sameAs, "<http://viaf.org/viaf/500>") + "\n" +
      fastLine(6, pref, "\"Event Six\"") + "\n" +
      fastLine(6, sameAs, "<http://id.loc.gov/authorities/names/lc600>") + "\n" +
      s"<http://id.loc.gov/authorities/names/lc600> <$rdfs> \"Six Alias\" .\n")
    // agent-only files
    Files.writeString(Paths.get(s"$dir/FASTCorporate.nt"),
      fastLine(7, pref, "\"Corp Seven\"") + "\n" +
      fastLine(7, sameAs, "<http://id.loc.gov/authorities/names/lc700>") + "\n" +
      s"<http://id.loc.gov/authorities/subjects/sh100> <$rdfs> \"Topical Alias\" .\n")
    Files.writeString(Paths.get(s"$dir/FASTPersonal.nt"),
      fastLine(8, pref, "\"Person Eight\"") + "\n" +
      fastLine(8, sameAs, "<http://viaf.org/viaf/800>") + "\n")

    val viaf = Seq(
      ("vA", "500", "lcX", null.asInstanceOf[Seq[Int]]), // matches event agent 5 via viaf
      ("vB", "999", "lc700", Seq(42)),                   // matches corporate 7 via lcId
      ("vC", "800", "lc800", null.asInstanceOf[Seq[Int]]), // matches personal 8 via viaf
      ("vD", "111", "lc111", Seq(9))                     // untouched
    ).toDF("_id", "viaf", "lcId", "fast")

    // Single-materialization sink path (round-8): the writes inside runAll
    // must be the ONLY materializations — no pre-write checkpoint (neither
    // reliable checkpoint files nor localCheckpoint RDD blocks) and no
    // cache surviving the call.
    GraftSession.releaseAll(spark)
    // getCheckpointDir is a file: URI whose UUID subdir is only created on
    // first checkpoint — absent dir means zero checkpoints, which is the point
    val ckptDir = spark.sparkContext.getCheckpointDir
      .map(u => Paths.get(java.net.URI.create(u).getPath))
    def ckptEntries: Long = ckptDir.filter(Files.isDirectory(_))
      .map(p => Files.list(p).count()).getOrElse(0L)
    val (ckpt0, rdds0) = (ckptEntries, spark.sparkContext.getPersistentRDDs.size)

    val report = IngestJob.runAll(spark, dir, s"$dir/out", Some(viaf))

    assert(ckptEntries === ckpt0,
      "runAll wrote checkpoint files on the sink path — result must flow straight to the sink")
    assert(spark.sparkContext.getPersistentRDDs.size === rdds0,
      s"runAll leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    assert(spark.sharedState.cacheManager.isEmpty,
      "runAll leaked CacheManager entries past the sink write")

    val fast = Sinks.readTable(spark, s"$dir/out/fast").collect()
      .map(r => r.getAs[Int]("_id") -> r).toMap
    // 4 term docs + the VIAF-less event; agent-only ids and the
    // VIAF-carrying event doc are NOT in fast
    assert(fast.keySet === Set(1, 2, 3, 4, 6))
    assert(report.fastRows === 5)
    assert(report.badRows === 0)
    assert(report.missingPref === 0)
    assert(fast(1).getAs[String]("type") === "Topical")
    assert(fast(2).getAs[String]("type") === "Geographic")
    assert(fast(3).getAs[String]("type") === "Chronological")
    assert(fast(4).getAs[String]("type") === "Form")
    assert(fast(6).getAs[String]("type") === "Event")
    // enrichment reached the kept event doc through its LC link
    assert(fast(6).getAs[Seq[String]]("altLabel") === Seq("Six Alias"))
    // ... and a term doc through a label that only an agent file carries
    assert(fast(1).getAs[Seq[String]]("altLabel") === Seq("Topical Alias"))

    val v = Sinks.readTable(spark, s"$dir/out/viaf").collect()
      .map(r => r.getAs[String]("_id") -> r.getAs[Seq[Int]]("fast")).toMap
    assert(v("vA") === Seq(5))       // event agent via viaf key
    assert(v("vB") === Seq(7, 42))   // corporate via lcId, array-unioned
    assert(v("vC") === Seq(8))       // personal via viaf key
    assert(v("vD") === Seq(9))       // untouched row unchanged
  }

  test("runAll: a missing FAST file fails pre-flight and writes nothing") {
    val dir = Files.createTempDirectory("graft_job_missing").toString
    IngestJob.RequiredFiles.filterNot(_ == "FASTPersonal.nt").foreach { f =>
      Files.writeString(Paths.get(s"$dir/$f"),
        "<http://id.worldcat.org/fast/1> <http://www.w3.org/2004/02/skos/core#prefLabel> \"One\" .\n")
    }
    val err = intercept[IllegalArgumentException] {
      IngestJob.runAll(spark, dir, s"$dir/out", None)
    }
    assert(err.getMessage.contains("FASTPersonal.nt"))
    assert(!Files.exists(Paths.get(s"$dir/out")), "pre-flight failure created output")

    // complete layout addressed by URI: pre-flight checks through the
    // Hadoop FileSystem, so a `file:` directory passes like a plain path
    Files.writeString(Paths.get(s"$dir/FASTPersonal.nt"),
      "<http://id.worldcat.org/fast/2> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Two\" .\n")
    val report = IngestJob.runAll(spark, s"file://$dir", s"$dir/out", None)
    assert(report.fastRows === 1) // fast/1 from the term files; Personal is agent-only
    assert(Files.exists(Paths.get(s"$dir/out/fast")))
  }
}

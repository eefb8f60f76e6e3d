package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Functions
import graft.functions.Nt

/** The reference's whole ETL dataflow (SURVEY.md §2-§3), re-expressed as a
  * declarative Spark pipeline:
  *
  *   NT lines → parse (P1) → project/filter (P2/P3) →
  *     ├─ term path: sameAs-label probe per fragment (J1) + group by id (A1)
  *     │             → merged docs (A4/K3 semantics) → overwrite sink (K1/K2)
  *     └─ agent path: otherId extraction (P4) → disjunctive lookup join (J2)
  *                    → array-union viaf update (K4)
  *
  * Deterministic deviations from the reference's order-dependent semantics
  * (sanctioned in SURVEY.md §7.4; final-table-state compatible):
  *   - `prefLabel` = min(prefLabel) else min(rdfs:label), instead of
  *     last-write-wins (`lib/ingest.js:245-246`) — FAST carries one prefLabel
  *     per id, so this only changes pathological inputs.
  *   - all array columns are sorted sets (`lib/ingest.js:247` allows altLabel
  *     duplicates; we de-duplicate everywhere `normalized` already did).
  *
  * All stages are narrow until the single `groupBy(id)` shuffle: the
  * enrichment probe is a map-side broadcast join of each fragment against
  * the (small) external-label rows, so the term path's only wide op is that
  * one groupBy (the agent path has its own, on otherId). AQE handles skew,
  * partial aggregation bounds map-side state, and per-group arrays are
  * de-duplicated at partial-agg time via collect_set.
  */
object FastIngest {

  /** P1 — NT text lines (column `line`, plus passthrough columns) to triples.
    * Malformed lines are dropped (`test/fast_parse.test.js:8-13`).
    * Uses the one-pass [[graft.functions.ParseNt]] expression (single regex
    * match per line instead of one per extracted field).
    */
  def parse(lines: DataFrame): DataFrame = {
    val passthrough = lines.columns.filterNot(_ == "line").map(col)
    lines
      .select(expr("parse_nt(line)").as("_t") +: passthrough: _*)
      .where($"_t".isNotNull)
      .select(Seq($"_t.subject".as("subject"), $"_t.predicate".as("predicate"),
        $"_t.obj".as("obj")) ++ passthrough: _*)
  }

  /** P5 quarantine channel — the complement of [[parse]]: the malformed
    * lines parse drops, preserved with their source context for triage.
    * At scale this is the side output a production ingest writes next to
    * the main tables (same narrow scan; no extra pass — callers union the
    * two sinks off one cached lines frame when both are needed).
    */
  def quarantine(lines: DataFrame): DataFrame =
    lines.where(expr("parse_nt(line)").isNull)

  /** P2/P3 — the predicate-driven projection (`lib/fast_parse.js:17-55`).
    * Output: one row per *kept* triple with a `kind` discriminator:
    * `fast` rows carry (id, prefLabel|altLabel|label|sameAsLc|sameAsViaf,
    * normalized); `sameAsLabel` rows carry (subject, label, normalized).
    * An id that does not fit in INT is NULL, like a non-numeric one, and
    * is dropped by the P5 guard.
    *
    * One native kernel, [[graft.functions.ProjectNt]], evaluated once per
    * triple. The column-expression tree it replaces (`when`/`otherwise`
    * over `regexp_extract`, `nt_unescape` and a cast) compiled to a
    * whole-stage-codegen method past HotSpot's 8,000-byte JIT limit, so
    * every triple ran in the interpreter, and its `kind IS NOT NULL`
    * filter, pushed below the projection, evaluated it twice.
    */
  def project(triples: DataFrame): DataFrame = {
    val passthrough = triples.columns
      .filterNot(Set("subject", "predicate", "obj")).map(col)
    triples
      .select(call_function("project_nt", $"subject", $"predicate", $"obj") +: $"subject" +:
        passthrough: _*)
      .select(Seq($"kind", $"id", $"prefLabel", $"altLabel", $"label", $"sameAsLc",
        $"sameAsViaf", Functions.normalizeSingular($"normSource").as("normalized"),
        $"subject") ++ passthrough: _*)
  }

  /** P7 — doc type from the source filename (`lib/ingest.js:201-210`):
    * substring match on the 8 FAST file names; the virtual TermEvent pass
    * maps to Event. For multi-file reads, feed it the scan's
    * `_metadata.file_name` (as [[graft.sources.NtReader.triplesTagged]]
    * does) or `input_file_name()`.
    * Only the last path segment is matched, so a directory named like a
    * FAST file (`/data/FASTPersonal-2024/`) does not tag every file in it.
    */
  def typeFromFilename(file: Column): Column = {
    val name = substring_index(file, "/", -1)
    when(name.contains("FASTCorporate"), "Corporate")
      .when(name.contains("FASTTermEvent"), "Event")
      .when(name.contains("FASTEvent"), "Event")
      .when(name.contains("FASTPersonal"), "Personal")
      .when(name.contains("FASTChronological"), "Chronological")
      .when(name.contains("FASTGeographic"), "Geographic")
      .when(name.contains("FASTTitle"), "Title")
      .when(name.contains("FASTTopical"), "Topical")
      .when(name.contains("FASTFormGenre"), "Form")
  }

  /** A1 — group fast fragments into one document per id.
    * `collect_set` gives bounded, de-duplicated partial-agg state; arrays are
    * sorted for deterministic output. sameAs arrays carry both the full URI
    * and its trailing path segment (`lib/ingest.js:248-255`).
    */
  def buildDocs(fragments: DataFrame, docType: Column): DataFrame =
    buildDocsWith(fragments, constantType = Some(docType))

  /** A1 variant for multi-file ingest where fragments carry a per-row
    * `doc_type` (from P7, [[typeFromFilename]]): a doc's type is the max over
    * its contributing files' types — the deterministic stand-in for the
    * reference's file-order-dependent overwrite (`lib/ingest.js:291`).
    */
  def buildDocsTagged(fragments: DataFrame): DataFrame =
    buildDocsWith(fragments, constantType = None)

  private def buildDocsWith(fragments: DataFrame, constantType: Option[Column]): DataFrame = {
    def withSegment(c: Column): Column =
      when(c.isNotNull, array(c, Nt.lastSegment(c)))
    val aggs = Seq(
      min($"prefLabel").as("pref"),
      min($"label").as("lbl"),
      sort_array(collect_set($"altLabel")).as("altLabel"),
      sort_array(array_distinct(flatten(collect_list(withSegment($"sameAsLc"))))).as("sameAsLc"),
      sort_array(array_distinct(flatten(collect_list(withSegment($"sameAsViaf"))))).as("sameAsViaf"),
      sort_array(collect_set($"normalized")).as("normalized")) ++
      (if (constantType.isEmpty) Seq(max($"doc_type").as("_type")) else Nil)
    fragments
      .where($"kind" === "fast")
      .groupBy($"id")
      .agg(aggs.head, aggs.tail: _*)
      .where($"id".isNotNull) // P5 bad-record guard (lib/ingest.js:304-307)
      .select(
        $"id".as("_id"),
        $"id".as("fast"),
        constantType.getOrElse($"_type").as("type"),
        coalesce($"pref", $"lbl").as("prefLabel"), // label fills only if no prefLabel
        $"altLabel", $"sameAsLc", $"sameAsViaf", $"normalized")
  }

  /** A2 — external-URI → labels lookup table from sameAsLabel fragments.
    * With [[enrich]], the doc-level reference for [[termDocs]]' per-fragment
    * probe.
    */
  def sameAsLabels(fragments: DataFrame): DataFrame =
    fragments
      .where($"kind" === "sameAsLabel")
      .groupBy($"subject")
      .agg(
        sort_array(collect_set($"label")).as("extLabels"),
        sort_array(collect_set($"normalized")).as("extNormalized"))

  /** J1 at doc level — enrich grouped docs with the labels of their sameAs
    * URIs (`lib/ingest.js:264-295`): explode the doc arrays, join the label
    * table, regroup the matched labels per id and union them into the doc.
    * Every array element is probed, the full URI and its trailing segment
    * alike (SURVEY.md J1), so a label whose subject is a bare segment joins
    * too. The label side is small relative to the docs side → broadcast.
    *
    * The doc-level reference for [[termDocs]], which probes per fragment
    * before its one groupBy, so it needs neither a second aggregate nor a
    * join back to the docs.
    */
  def enrich(docs: DataFrame, labels: DataFrame): DataFrame = {
    val matches = docs
      .select($"_id", explode(concat($"sameAsViaf", $"sameAsLc")).as("uri"))
      .join(broadcast(labels), $"uri" === labels("subject"))
      .groupBy($"_id")
      .agg(
        array_distinct(flatten(collect_list($"extLabels"))).as("matchedLabels"),
        array_distinct(flatten(collect_list($"extNormalized"))).as("matchedNormalized"))
    docs
      .join(matches, Seq("_id"), "left")
      .select(
        $"_id", $"fast", $"type", $"prefLabel",
        sort_array(array_distinct(concat($"altLabel", coalesce($"matchedLabels", array()))))
          .as("altLabel"),
        $"sameAsLc", $"sameAsViaf",
        sort_array(array_distinct(concat($"normalized", coalesce($"matchedNormalized", array()))))
          .as("normalized"))
  }

  /** Doc types that feed the term path: the four term files plus Event,
    * the virtual `FASTTermEvent` second pass (`lib/ingest.js:197,298-303`).
    */
  private val TermTypes = Seq("Chronological", "Form", "Geographic", "Topical", "Event")

  /** Term path: `doc_type`-tagged fragments (see [[typeFromFilename]]) →
    * enriched docs, with one shuffle. Enrichment labels come from ALL
    * fragments' external rdfs:label rows, agent files included; they are
    * broadcast as plain (subject, label, normalized) rows, ungrouped.
    * Each term-type fragment with a sameAs link probes them map-side for
    * the keys [[enrich]] probes per doc — its URI and the URI's trailing
    * segment — in one left-outer broadcast join. A fragment is one triple,
    * so a sameAs fragment carries no altLabel or normalized value of its
    * own: a matched label takes the fragment's `altLabel` slot and its
    * normalized form the `normalized` slot, and the `collect_set`s of the
    * one groupBy (A1) merge them into the doc. The P6 skipViaf filter then
    * drops Event docs that carry a sameAsViaf link (those ids are consumed
    * as agents) and keeps VIAF-less events as ordinary `Event` docs.
    * Equal to `enrich(buildDocsTagged(term fragments) + P6,
    * sameAsLabels(fragments))` (FastIngestSpec checks it on random corpora).
    *
    * `fragments` feeds two branches (probe side, label side); the caller
    * decides whether to persist or materialize it — this op stores
    * nothing and stays LAZY, so the caller's sink write is the only
    * materialization of the result.
    */
  def termDocs(fragments: DataFrame): DataFrame = {
    val labels = fragments
      .where($"kind" === "sameAsLabel")
      .select($"subject".as("_extUri"), $"label".as("_extLabel"),
        $"normalized".as("_extNorm"))
    // one URI per fragment: a URI matching both hosts fills both columns
    val uri = coalesce($"sameAsLc", $"sameAsViaf")
    val probed = fragments
      .where($"doc_type".isin(TermTypes: _*) && $"kind" === "fast")
      .withColumn("_key", explode_outer(when(uri.isNotNull, array(uri, Nt.lastSegment(uri)))))
      .join(broadcast(labels), $"_key" === $"_extUri", "left_outer")
      .withColumn("altLabel", coalesce($"altLabel", $"_extLabel"))
      .withColumn("normalized", coalesce($"normalized", $"_extNorm"))
    buildDocsTagged(probed)
      .where(!($"type" === "Event" && size($"sameAsViaf") > 0)) // P6 skipViaf
  }

  /** P4 — agent records: otherId = trailing segment of the sameAs link, LC
    * link preferred (`lib/ingest.js:217-228`); linkless fragments dropped.
    */
  def agentOtherIds(fragments: DataFrame): DataFrame =
    fragments
      .where($"kind" === "fast" &&
        ($"sameAsLc".isNotNull || $"sameAsViaf".isNotNull) && $"id".isNotNull)
      .select($"id",
        coalesce(Nt.lastSegment($"sameAsLc"), Nt.lastSegment($"sameAsViaf")).as("otherId"))

  /** J2/K4 — the VIAF lookup-update, one declarative pass instead of a
    * read-modify-write per triple (`lib/ingest.js:106-130,212-232`):
    * group agent fast-ids per otherId, UNPIVOT the viaf keys
    * (`explode(array(viaf, lcId))`) so the disjunctive match is ONE
    * equi-join — both sides stay hash-joinable at scale (no
    * BroadcastNestedLoop) and the agent side is consumed exactly once, so
    * the op needs no persist and stays fully LAZY: the caller's sink write
    * is the only materialization (round 7 checkpointed eagerly here,
    * doubling output I/O). The unpivot doubles viaf-side *key* rows only —
    * a two-column projection, not the payload. Keep the first match per
    * otherId (min `_id`, the deterministic stand-in for Mongo's
    * `results[0]`), then array-union the fast ids into the matched rows.
    *
    * Authority tables are dimension-sized, so the unpivoted key table
    * rides a broadcast and the match happens MAP-SIDE over the raw
    * fragment stream — only MATCHED fragments reach the one (otherId)
    * exchange, which both removes the former pre-aggregation exchange and
    * its sort-aggregate first() pass (r16: 1.8 → 1.5 s at sf0.1) and
    * shrinks the shuffle payload by the match selectivity at any scale.
    *
    * `viaf` schema: _id STRING, viaf STRING, lcId STRING, fast ARRAY<INT>.
    * Returns the full updated viaf table (unmatched rows unchanged).
    */
  def viafUpdate(agents: DataFrame, viaf: DataFrame): DataFrame = {
    val viafKeys = viaf
      .select($"_id".as("v_id"), explode(array($"viaf", $"lcId")).as("vkey"))
      .where($"vkey".isNotNull)
    // match BEFORE aggregating, then ONE (otherId) aggregation computes
    // both the winner (min _id — the deterministic stand-in for Mongo's
    // results[0]) and the id set; duplicate id rows from an otherId
    // matching both keys of one viaf row collapse in collect_set
    val am = agents.join(broadcast(viafKeys), $"otherId" === $"vkey")
      .groupBy($"otherId")
      .agg(min($"v_id").as("v_id"), collect_set($"id").as("newFast"))
    val perViaf = am
      .groupBy($"v_id")
      .agg(array_distinct(flatten(collect_list($"newFast"))).as("addFast"))
    viaf
      .join(broadcast(perViaf), viaf("_id") === perViaf("v_id"), "left")
      .select(viaf("_id"), $"viaf", $"lcId",
        when($"addFast".isNotNull,
          sort_array(array_distinct(concat(coalesce($"fast", array()), $"addFast"))))
          .otherwise($"fast").as("fast"))
  }

  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.parts.mkString)
  }
}

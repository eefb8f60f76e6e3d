package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthetic NT corpus derived deterministically from the `part` table —
  * exercises the full reference dataflow (P1/P2/A1/A2/J1/A4 and the agent
  * path P4/J2/K4) against a relational DuckDB oracle. Line families:
  *  - every part: prefLabel = p_name, altLabel = p_brand
  *  - p%2=0: sameAs → viaf URI (id = 7·p)
  *  - p%3=0: sameAs → id.loc.gov URI (id = "lc"+p)
  *  - p%4=0: external rdfs:label on the viaf URI (label = p_type) — feeds J1
  *  - p%10=0: malformed line (dropped by the parser)
  *  - p%25=0: /fast/NaN line (dropped by P2)
  */
object DemoCorpus {
  def ntFromPart(part: DataFrame, widen: Boolean = false): DataFrame = {
    val p = col("p_partkey")
    def fastSubj: Column = concat(lit("<http://id.worldcat.org/fast/"), p, lit("> "))
    val pref = concat(fastSubj,
      lit("<http://www.w3.org/2004/02/skos/core#prefLabel> \""), col("p_name"), lit("\" ."))
    val alt = concat(fastSubj,
      lit("<http://www.w3.org/2004/02/skos/core#altLabel> \""), col("p_brand"), lit("\" ."))
    val viaf = when(p % 2 === 0, concat(fastSubj,
      lit("<http://schema.org/sameAs> <http://viaf.org/viaf/"), p * 7, lit("> .")))
    val lc = when(p % 3 === 0, concat(fastSubj,
      lit("<http://schema.org/sameAs> <http://id.loc.gov/authorities/names/lc"), p, lit("> .")))
    val ext = when(p % 4 === 0, concat(
      lit("<http://viaf.org/viaf/"), p * 7,
      lit("> <http://www.w3.org/2000/01/rdf-schema#label> \""), col("p_type"), lit("\" .")))
    val junk = when(p % 10 === 0, concat(lit("junk line "), p))
    val nan = when(p % 25 === 0,
      lit("<http://id.worldcat.org/fast/NaN> <http://www.w3.org/2004/02/skos/core#prefLabel> \"Bad\" ."))
    // one parquet scan; null entries (inactive line families) filtered out.
    // `widen`: the fixture parquet is a single tiny file, so the scan
    // yields ONE split and the regex-heavy NT parse downstream would run
    // in one task — the guide's input-skew case (§2.5: one unsplittable
    // file → repartition right after the read). Widening to session
    // parallelism is worth it only when the consumer evaluates the parse
    // subtree ONCE (viaf_update: 2.4→1.3 s interleaved A/B at equal
    // controls); plans that reference the fragment stream several times
    // (fast_docs: the grouped docs, read twice by the doc-level
    // enrichment probe, plus the label table) measured 2×
    // SLOWER widened — three copies of the exchange serialize stages that
    // previously overlapped as independent one-task subtrees. A real
    // many-split NT source at scale takes the narrow branch and pays no
    // shuffle either way. The shuffle moves the four narrow source
    // columns, not the synthesized lines.
    val src = part.select(p, col("p_name"), col("p_brand"), col("p_type"))
    val target = part.sparkSession.sparkContext.defaultParallelism
    // gate on the scan's resolved file count — cheap (the file index is
    // already built) and plan-shape-stable, vs the former
    // rdd.getNumPartitions probe that forced physical planning per call
    // (ADVICE r16 #3)
    val wide = if (widen && src.inputFiles.length < target)
      src.repartition(target) else src
    wide.select(explode(filter(
      array(pref, alt, viaf, lc, ext, junk, nan), x => x.isNotNull)).as("line"))
  }
}

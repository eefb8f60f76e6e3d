package graft.ingest

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.model.FastDoc

/** Typed merge of duplicate FAST documents — the deterministic form of the
  * reference's error-driven `updateToBestFast` (`lib/ingest.js:134-165`):
  *
  *  - `type` comes from the *richest original* document. The reference's
  *    proxy is JSON-serialization length (insert-order dependent); ours is
  *    an explicit total order over original inputs: max by
  *    (richness, type, prefLabel), richness = total code point count of
  *    prefLabel + type + all array elements (SURVEY.md §7.4 item 1).
  *  - `prefLabel`: the richest doc's, else the minimum non-null one.
  *  - arrays: sorted distinct unions (`lib/ingest.js:144-155`).
  *
  * The buffer tracks the best *original* contributor, never a merged
  * intermediate — that's what makes `merge` commutative AND associative
  * (richness of a merged doc would grow with its unions, making the
  * outcome grouping-dependent). Safe at any partial-agg parallelism.
  */
/** Aggregation state: best original doc's key fields + running unions. */
case class MergeBuf(
    _id: Int, fast: Int,
    bestRich: Int, bestType: String, bestPref: String,
    fillPref: String,
    altLabel: Seq[String], sameAsLc: Seq[String],
    sameAsViaf: Seq[String], normalized: Seq[String])

object MergeFastDocs extends Aggregator[FastDoc, MergeBuf, FastDoc] {

  /** Deterministic stand-in for `JSON.stringify(doc).length` richness.
    * Counts code points, not UTF-16 units, as the streaming merge (Spark's
    * `length`) and the DuckDB oracle do.
    */
  def richness(d: FastDoc): Int = {
    def len(s: String): Int = if (s == null) 0 else s.codePointCount(0, s.length)
    len(d.prefLabel) + len(d.`type`) +
      (d.altLabel ++ d.sameAsLc ++ d.sameAsViaf ++ d.normalized).map(len).sum
  }

  private val keyOrd = Ordering.Tuple3[Int, String, String]

  private def key(rich: Int, typ: String, pref: String) =
    (rich, Option(typ).getOrElse(""), Option(pref).getOrElse(""))

  def toBuf(d: FastDoc): MergeBuf = MergeBuf(
    d._id, d.fast, richness(d), d.`type`, d.prefLabel, d.prefLabel,
    Option(d.altLabel).getOrElse(Nil), Option(d.sameAsLc).getOrElse(Nil),
    Option(d.sameAsViaf).getOrElse(Nil), Option(d.normalized).getOrElse(Nil))

  private def union(a: Seq[String], b: Seq[String]): Seq[String] =
    (a ++ b).distinct.sorted

  private def minNonNull(a: String, b: String): String = (Option(a), Option(b)) match {
    case (Some(x), Some(y)) => if (x <= y) x else y
    case (x, y) => x.orElse(y).orNull
  }

  def mergeBuf(x: MergeBuf, y: MergeBuf): MergeBuf = {
    if (x == null) return y
    if (y == null) return x
    val best =
      if (keyOrd.gteq(key(x.bestRich, x.bestType, x.bestPref),
                      key(y.bestRich, y.bestType, y.bestPref))) x else y
    MergeBuf(best._id, best.fast, best.bestRich, best.bestType, best.bestPref,
      minNonNull(x.fillPref, y.fillPref),
      union(x.altLabel, y.altLabel), union(x.sameAsLc, y.sameAsLc),
      union(x.sameAsViaf, y.sameAsViaf), union(x.normalized, y.normalized))
  }

  def finishBuf(b: MergeBuf): FastDoc = FastDoc(
    b._id, b.fast, b.bestType,
    Option(b.bestPref).getOrElse(b.fillPref),
    b.altLabel, b.sameAsLc, b.sameAsViaf, b.normalized)

  /** Pairwise convenience (not associative through `finish`; use the
    * Aggregator for multi-way merges).
    */
  def merge2(a: FastDoc, b: FastDoc): FastDoc =
    if (a == null) b else if (b == null) a else finishBuf(mergeBuf(toBuf(a), toBuf(b)))

  override def zero: MergeBuf = null
  override def reduce(buf: MergeBuf, in: FastDoc): MergeBuf = mergeBuf(buf, toBuf(in))
  override def merge(a: MergeBuf, b: MergeBuf): MergeBuf = mergeBuf(a, b)
  override def finish(r: MergeBuf): FastDoc = finishBuf(r)
  override def bufferEncoder: Encoder[MergeBuf] = Encoders.product[MergeBuf]
  override def outputEncoder: Encoder[FastDoc] = Encoders.product[FastDoc]
}

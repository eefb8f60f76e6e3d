package graft.ops

import scala.util.DynamicVariable

import org.apache.spark.sql.Dataset

/** The one policy for driver-local endgames: when an iterative op's state
  * fits one byte bound, collect it and finish on the driver (or in one
  * task) instead of paying per-round exchange scheduling; otherwise run
  * the distributed rounds unchanged. BFS, label propagation, SCC,
  * triangle counting, BPE merge learning and connected components all
  * decide here.
  *
  * The rule (r17, neighborSimilarity's rejected endgame): an endgame pays
  * only when the op's OUTPUT is node- or vocabulary-sized — a label per
  * node, a census row, a merge table. When the output is the data-scale
  * pair table, building its rows on the driver costs what skipping the
  * distributed rounds saves.
  *
  * Sizes are estimates: 8 B per long, 2 B per char, and 8 B per array
  * element plus [[RowOverhead]] per array- or string-carrying row.
  * [[collect]] is a limit-guarded BLIND collect — no persist, no count
  * job (both measured slower than the collect they would guard, r16) —
  * whose row cap is the bound over the smallest row; the collected rows
  * are then re-checked on their estimated bytes, so a few fat rows (a
  * star's hub) cannot slip under a row count. [[fits]] is for ops that
  * already hold an exact count; it runs no job. Every decision logs one
  * line: op, rows, estimated bytes, bound and path.
  */
object LocalEndgame {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.LocalEndgame")

  /** Object header and length of one collected array or string. */
  val RowOverhead: Long = 16L

  /** 24 MB = 3M 8-byte entries: keeps graph_bfs's 1.2M raw sf0.1 edges
    * local (16 MB ran them distributed, 2.3× slower) and the 1.6M-edge
    * hash-wired graph of NOTES.md's "Graph scale smoke" distributed. */
  private val bound = new DynamicVariable[Long](24L << 20)

  /** Runs `body` under a bound of `bytes`; `withBound(0)` forces every
    * endgame in it onto the distributed path (specs, scale curves). */
  private[graft] def withBound[T](bytes: Long)(body: => T): T =
    bound.withValue(bytes)(body)

  /** True when `rows` rows of `bytesPerRow` estimated bytes fit the bound. */
  def fits(op: String, rows: Long, bytesPerRow: Long): Boolean =
    decide(op, rows.toString, Some(rows * bytesPerRow))

  /** `ds` on the driver when it fits the bound; `minRowBytes` is the
    * smallest estimate any row can have. */
  def collect[T](op: String, ds: Dataset[T], minRowBytes: Long,
      rowBytes: T => Long): Option[Array[T]] = {
    val cap = math.min(bound.value / minRowBytes, Int.MaxValue - 1L).toInt
    if (cap <= 0) { decide(op, "?", None); return None }
    val rows = ds.limit(cap + 1).collect()
    if (rows.length > cap) { decide(op, s">$cap", None); return None }
    Option.when(decide(op, rows.length.toString,
      Some(rows.iterator.map(rowBytes).sum)))(rows)
  }

  /** `bytes` is None when the rows were not estimated (over the cap). */
  private def decide(op: String, rows: String, bytes: Option[Long]): Boolean = {
    val b = bound.value
    val local = bytes.exists(x => b > 0 && x <= b)
    log.info(s"op=$op rows=$rows bytes=${bytes.getOrElse("?")} bound=$b " +
      s"path=${if (local) "local" else "distributed"}")
    local
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** N-Triples helpers as pure column expressions (whole-stage-codegen
  * friendly — no UDFs). Line parsing and the predicate projection are the
  * native kernels [[graft.functions.ParseNt]] and
  * [[graft.functions.ProjectNt]].
  */
object Nt {

  /** Last `/`-segment of a URI (`lib/ingest.js:220,224,250,254`). */
  def lastSegment(c: Column): Column = element_at(split(c, "/"), -1)
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: its Spark plan next to the DuckDB oracle
  * that must produce the same column names and values. `build` takes the
  * session and the fixture directory; `oracle` runs in DuckDB over the same
  * fixture tables.
  *
  * @param informational the query's wall-clock is structural by
  *   construction rather than a comparable plan. `streaming_replay_q14`
  *   replays the table through REAL file-source micro-batches with a state
  *   store — the point of the row is the replay ⇒ batch-answer parity
  *   proven in CORRECTNESS, and racing N triggers + state snapshots against
  *   one batch SQL statement is not a plan comparison. `sink_merge_into` is
  *   the same shape at the sink: three complete write → read → merge →
  *   commit-cleanup filesystem cycles (the deploy-shaped upsert semantics
  *   under test) raced against the oracle's one closed-form fold. Bench
  *   still times it and counts it in the total (nothing is hidden); it is
  *   flagged in BENCH_FULL and on stderr.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String, informational: Boolean = false)

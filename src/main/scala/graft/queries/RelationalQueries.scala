package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ops.Validate

import QueryHelpers.{t, widen}

/** Core relational surface: filters, joins, windows, rollups, set operations,
  * snapshot diffs and history, skew handling and validation.
  */
object RelationalQueries {

  val all: Seq[Query] = Seq(

    // ---- core relational surface (SURVEY.md §5.3) ----
    Query("q1_filter_project", (s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderstatus") === "F" && col("o_totalprice") > 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        | WHERE o_orderstatus = 'F' AND o_totalprice > 1000 ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Query("q2_string_funcs", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        length(col("p_name")).as("name_len"),
        element_at(split(col("p_type"), " "), -1).as("type_last"))
        .orderBy("p_partkey"),
      oracle = """SELECT p_partkey, lower(p_name) AS name_lower, length(p_name) AS name_len,
        | string_split(p_type, ' ')[-1] AS type_last FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " ")),

    Query("q3_cast_filter", (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(IntegerType).as("qty_int"))
        .orderBy("l_orderkey", "l_linenumber"),
      oracle = """SELECT l_orderkey, l_linenumber, CAST(trunc(l_quantity) AS INTEGER) AS qty_int
        | FROM lineitem WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " ")),

    // Verification projections serialize ARRAY/STRUCT results with to_json
    // (mirrored in the oracle): the driver's checker canonicalizes rows in
    // pandas, which cannot sort ndarray/dict cells. The *operators* still
    // build real arrays/structs; only the final projection is a string.
    Query("q4_groupby_collect", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          sort_array(collect_set(col("l_returnflag"))).as("flags"))
        .select(col("l_orderkey"), col("cnt"), col("sum_qty"),
          to_json(col("flags")).as("flags"))
        .orderBy("l_orderkey"),
      oracle = """SELECT l_orderkey, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
        | to_json(list_sort(list_distinct(list(l_returnflag))))::VARCHAR AS flags
        | FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin.replace("\n", " ")),

    Query("q5_first_nonnull", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          min(col("o_orderdate").cast("date")).as("first_date"),
          max(col("o_orderpriority")).as("max_priority"),
          coalesce(
            max(when(col("o_orderstatus") === "F", col("o_orderstatus"))),
            min(col("o_orderstatus"))).as("pick_status"))
        .orderBy("o_custkey"),
      oracle = """SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_date,
        | max(o_orderpriority) AS max_priority,
        | coalesce(max(CASE WHEN o_orderstatus = 'F' THEN o_orderstatus END), min(o_orderstatus)) AS pick_status
        | FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin.replace("\n", " ")),

    Query("q6_join_chain", (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
        .orderBy("c_custkey"),
      oracle = """SELECT c_custkey, n_name, r_name FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    // Disjunctive equi-join as a union of two hash joins (SURVEY.md §2.4 J2):
    // both branches stay shuffle-hash/broadcast joinable at scale — no
    // BroadcastNestedLoop from the OR predicate.
    Query("q7_disjunctive_join", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val j1 = c.join(sup, col("c_nationkey") === col("s_nationkey"))
      val j2 = c.join(sup, col("c_custkey") === col("s_suppkey"))
      // per-branch dedup before the union: the nationkey branch is
      // many-to-many (25 hot keys), so dropping its duplicates early
      // halves the final distinct's input
      j1.select("c_custkey", "s_suppkey").dropDuplicates()
        .union(j2.select("c_custkey", "s_suppkey").dropDuplicates())
        .distinct()
        .orderBy("c_custkey", "s_suppkey")
    },
      oracle = """SELECT DISTINCT c_custkey, s_suppkey FROM customer JOIN supplier
        | ON c_nationkey = s_nationkey OR c_custkey = s_suppkey
        | ORDER BY c_custkey, s_suppkey""".stripMargin.replace("\n", " ")),

    Query("q8_semi_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey"),
      oracle = """SELECT c_custkey FROM customer WHERE EXISTS
        | (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    Query("q8_anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey"),
      oracle = """SELECT c_custkey FROM customer WHERE NOT EXISTS
        | (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1999-01-01') ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    Query("q10_explode_tokens", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .where(length(col("token")) >= 2)
        .orderBy("doc_id", "token")
        .limit(1000),
      oracle = """SELECT doc_id, token FROM (
        |   SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        | WHERE length(token) >= 2 ORDER BY doc_id, token LIMIT 1000""".stripMargin.replace("\n", " ")),

    Query("q11_topk", (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      oracle = """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " ")),

    Query("q12_rollup", (s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("cnt"))
        .orderBy("status", "priority"),
      oracle = """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |        coalesce(o_orderpriority, '(all)') AS priority, count(*) AS cnt
        | FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        | ORDER BY status, priority""".stripMargin.replace("\n", " ")),

    Query("q13_window", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          row_number().over(
            Window.partitionBy("l_orderkey")
              .orderBy(col("l_extendedprice").desc, col("l_linenumber"))).as("rn"))
        .orderBy("l_orderkey", "l_linenumber", "rn"),
      oracle = """SELECT l_orderkey, l_linenumber,
        |        row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, rn""".stripMargin.replace("\n", " ")),

    Query("q17_datetime", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |        CAST(month(o_orderdate) AS INTEGER) AS mo,
        |        CAST(day(o_orderdate) AS INTEGER) AS dom,
        |        CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Query("q18_intersect", (s, dir) =>
      t(s, dir, "customer").where(col("c_nationkey") < 12).select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      oracle = """SELECT c_custkey FROM customer WHERE c_nationkey < 12
        | INTERSECT SELECT o_custkey FROM orders
        | ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    Query("q19_except", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"))
        .except(t(s, dir, "lineitem").select(col("l_partkey").as("p_partkey")))
        .orderBy("p_partkey"),
      oracle = """SELECT p_partkey FROM part
        | EXCEPT SELECT l_partkey FROM lineitem
        | ORDER BY p_partkey""".stripMargin.replace("\n", " ")),

    // SQL:2023 LISTAGG (new in Spark 4) with WITHIN GROUP ordering and
    // DISTINCT — the ordered string-aggregation surface, vs DuckDB's
    // string_agg. Distinct statuses keep the strings bounded.
    Query("q54_listagg", (s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("orders_la")
      s.sql("""SELECT o_orderpriority,
              | listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
              | count(*) AS n
              |FROM orders_la GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    },
      oracle = """SELECT o_orderpriority,
        |   string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |   count(*) AS n
        | FROM orders GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin.replace("\n", " ")),

    // Value-window family: first/last/nth over explicit frames (the
    // UNBOUNDED FOLLOWING last_value trap included — the default frame
    // would return the current row; both engines get the full frame).
    Query("q53_value_windows", (s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          first("o_orderkey").over(full).as("top_key"),
          last("o_orderkey").over(full).as("bottom_key"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_key"))
        .orderBy("o_orderkey")
    },
      oracle = """SELECT o_orderkey, o_orderstatus,
        |   first_value(o_orderkey) OVER w AS top_key,
        |   last_value(o_orderkey) OVER w AS bottom_key,
        |   nth_value(o_orderkey, 2) OVER w AS second_key
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderstatus
        |              ORDER BY o_totalprice DESC, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // The custom two-phase physical operator (plans/TopKPerGroup —
    // logical node + strategy + SparkPlan via SparkSessionExtensions):
    // map-side bounded heaps prune to ≤ k rows/group/partition BEFORE the
    // exchange, where the window form shuffles and sorts everything.
    // Oracle = the window formulation in DuckDB; TopKPerGroupSpec pins
    // plan shape and equivalence.
    Query("q52_topk_exec", (s, dir) =>
      graft.ops.TopK.topKPerGroupExec(t(s, dir, "orders"),
          Seq("o_orderstatus"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderstatus", "o_orderkey"),
      oracle = """WITH r AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |     row_number() OVER (PARTITION BY o_orderstatus
        |                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |   FROM orders)
        | SELECT o_orderkey, o_orderstatus, o_totalprice FROM r
        | WHERE rn <= 3 ORDER BY o_orderstatus, o_orderkey""".stripMargin.replace("\n", " ")),

    // Bag-semantics set ops (the ALL variants q18/q19 don't cover):
    // multiplicities survive — INTERSECT ALL keeps min(count), EXCEPT ALL
    // subtracts counts. Both engines implement the SQL-standard bag rules.
    Query("q51_set_ops_all", (s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
      val b = t(s, dir, "orders")
        .select((col("o_custkey") % 100).as("k"))
      val ia = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_inter"))
      val ea = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except"))
      ia.join(ea, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
        .orderBy("k")
    },
      oracle = """WITH a AS (SELECT l_suppkey AS k FROM lineitem),
        | b AS (SELECT o_custkey % 100 AS k FROM orders),
        | ia AS (SELECT k, count(*) AS n_inter
        |   FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY k),
        | ea AS (SELECT k, count(*) AS n_except
        |   FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY k)
        | SELECT coalesce(ia.k, ea.k) AS k, coalesce(n_inter, 0) AS n_inter,
        |   coalesce(n_except, 0) AS n_except
        | FROM ia FULL OUTER JOIN ea ON ia.k = ea.k ORDER BY k""".stripMargin.replace("\n", " ")),

    // Pareto concentration: revenue share of the top-k% customers (the
    // 80/20 report). Customer ranks from the range-partitioned
    // globalRowNumber; decile shares as integer basis points.
    Query("orders_pareto", (s, dir) => {
      // integer CENTS end to end: decimal sums are exact but the two
      // engines promote precision differently at the *10000 step — cents
      // as BIGINT make every later op integer arithmetic
      // materialized once: the per-customer spend feeds three passes
      // (range-partition sampling, the rank shuffle, the totals agg) and
      // DataFrames share no common subplans — unmaterialized, the orders
      // aggregation ran three times
      val spend = graft.ops.Iterate.materialize(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,6))) * 100) AS BIGINT)")
            .as("cents"))).df
      val ranked = graft.ops.Rank.globalRowNumber(spend,
        Seq(col("cents").desc, col("o_custkey")))
      val totals = spend.agg(count(lit(1)).as("_n"), sum("cents").as("_tot"))
      ranked.crossJoin(broadcast(totals))
        .select(expr("CAST(((rn - 1) * 10) div _n AS INT) + 1").as("decile"),
          col("cents"), col("_tot"))
        .groupBy("decile")
        .agg(expr("CAST(sum(cents) * 10000 div max(_tot) AS BIGINT)").as("share_bp"),
          count(lit(1)).as("n_cust"))
        .orderBy("decile")
    },
      oracle = """WITH spend AS (SELECT o_custkey,
        |     CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,6))) * 100) AS BIGINT) AS cents
        |   FROM orders GROUP BY o_custkey),
        | r AS (SELECT o_custkey, cents,
        |     row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn FROM spend),
        | t AS (SELECT count(*) AS _n, sum(cents)::BIGINT AS _tot FROM spend)
        | SELECT CAST(((rn - 1) * 10) // _n AS INTEGER) + 1 AS decile,
        |   CAST((sum(cents) * 10000) // max(_tot) AS BIGINT) AS share_bp,
        |   count(*) AS n_cust
        | FROM r, t GROUP BY 1 ORDER BY decile""".stripMargin.replace("\n", " ")),

    Query("q20_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("yr"), lit(-1)).as("yr"), col("cnt"))
        .orderBy("status", "yr"),
      oracle = """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |        CAST(coalesce(year(o_orderdate), -1) AS INTEGER) AS yr, count(*) AS cnt
        | FROM orders GROUP BY CUBE(o_orderstatus, year(o_orderdate))
        | ORDER BY status, yr""".stripMargin.replace("\n", " ")),

    Query("q21_window_analytics", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(lag("o_totalprice", 1).over(w), 2).as("prev_price"),
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
            .as("run_sum"))
        .orderBy("o_custkey", "o_orderkey")
    },
      oracle = """SELECT o_custkey, o_orderkey,
        |        round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |        round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        | ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " ")),

    // Range join: same-user event pairs within a 1-hour forward window.
    // The user_id equality keeps this a hash/sort-merge join with a range
    // filter — never a nested-loop cross product.
    Query("q22_range_join", (s, dir) => {
      val e = t(s, dir, "events")
      val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
      val b = e.select(col("user_id"), col("event_id").as("b_id"), col("ts").as("b_ts"))
      a.join(b, col("a_id") =!= col("b_id") &&
          a("user_id") === b("user_id") &&
          col("b_ts") >= col("a_ts") && col("b_ts") <= col("a_ts") + 3600000000000L)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_follow"))
        .orderBy("a_id")
    },
      oracle = """SELECT a.event_id AS a_id, count(*) AS n_follow
        | FROM events a JOIN events b
        |   ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND epoch_ns(b.ts) >= epoch_ns(a.ts)
        |  AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 3600000000000
        | GROUP BY a.event_id ORDER BY a_id""".stripMargin.replace("\n", " ")),

    Query("q30_struct", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            round(col("o_totalprice"), 2).as("price")).as("info"))
        .select(col("o_orderkey"), to_json(col("info")).as("info"))
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey,
        |        to_json({'status': o_orderstatus, 'price': round(o_totalprice, 2)})::VARCHAR AS info
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // Global ranking at scale: range partition → LOCAL windows → offset
    // join over a parts-row count table — never the single-partition
    // global window (the demo plan that dies at 100 TB).
    Query("q41_global_rank", (s, dir) =>
      graft.ops.Rank.globalRowNumber(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice"), col("o_orderkey")))
        .select("o_orderkey", "rn")
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey,
        |        row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // ---- snapshot lifecycle: diff / SCD2 history / CDC compaction ----

    // What changed between two snapshots: full-outer key join, null-safe
    // attribute compare, per-key verdict.
    Query("table_diff", (s, dir) => {
      val o = t(s, dir, "orders")
      val aSnap = o.where(col("o_orderkey") % 10 < 9)
      val bSnap = o.where(col("o_orderkey") % 10 > 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, round(col("o_totalprice") + 50, 2))
            .otherwise(col("o_totalprice")))
      graft.ops.Snapshot.diff(aSnap, bSnap, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    },
      oracle = """WITH a AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |           WHERE o_orderkey % 10 < 9),
        | b AS (SELECT o_orderkey,
        |              CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 50, 2)
        |                   ELSE o_totalprice END AS o_totalprice,
        |              o_orderstatus FROM orders WHERE o_orderkey % 10 > 0)
        | SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |        a.o_totalprice AS a_o_totalprice, a.o_orderstatus AS a_o_orderstatus,
        |        b.o_totalprice AS b_o_totalprice, b.o_orderstatus AS b_o_orderstatus,
        |        CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |             WHEN b.o_orderkey IS NULL THEN 'removed'
        |             WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
        |               OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'changed'
        |             ELSE 'unchanged' END AS status
        | FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // Type-2 slowly-changing dimension: changed open rows close at the
    // batch timestamp and re-open with the new attributes; no-op updates
    // leave the row alone; closed history never shuffles.
    Query("scd2_history", (s, dir) => {
      val c = t(s, dir, "customer")
      val current = c.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("bigint"))
      val updates = c.where(col("c_custkey") % 3 === 0 || col("c_custkey") % 5 === 1)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"), lit(1000L).as("ts"))
      graft.ops.Snapshot.scd2Apply(current, updates, Seq("c_custkey"),
          Seq("c_acctbal", "c_mktsegment"), "ts")
        .orderBy("c_custkey", "valid_from")
    },
      oracle = """WITH cur AS (SELECT c_custkey, c_acctbal, c_mktsegment,
        |                    0::BIGINT AS valid_from, NULL::BIGINT AS valid_to FROM customer),
        | upd AS (SELECT c_custkey,
        |                CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 100, 2)
        |                     ELSE c_acctbal END AS u_bal,
        |                c_mktsegment AS u_seg, 1000::BIGINT AS uts
        |         FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 1),
        | keep AS (SELECT c.* FROM cur c LEFT JOIN upd u USING (c_custkey)
        |          WHERE u.c_custkey IS NULL
        |             OR (NOT c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 AND NOT c.c_mktsegment IS DISTINCT FROM u.u_seg)),
        | closed_now AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
        |                       c.valid_from, u.uts AS valid_to
        |                FROM cur c JOIN upd u USING (c_custkey)
        |                WHERE c.c_acctbal IS DISTINCT FROM u.u_bal
        |                   OR c.c_mktsegment IS DISTINCT FROM u.u_seg),
        | new_open AS (SELECT u.c_custkey, u.u_bal AS c_acctbal, u.u_seg AS c_mktsegment,
        |                     u.uts AS valid_from, NULL::BIGINT AS valid_to
        |              FROM upd u LEFT JOIN cur c USING (c_custkey)
        |              WHERE c.c_custkey IS NULL
        |                 OR c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 OR c.c_mktsegment IS DISTINCT FROM u.u_seg)
        | SELECT * FROM keep UNION ALL SELECT * FROM closed_now
        | UNION ALL SELECT * FROM new_open
        | ORDER BY c_custkey, valid_from""".stripMargin.replace("\n", " ")),

    // Point-in-time (as-of) lookup over the SCD2 history: for each key
    // and probe time, the attribute version whose validity interval
    // contains the probe — the temporal-correctness read path every SCD2
    // table exists for (training-snapshot reproduction: "features as the
    // model saw them"). Equi-join on the key, interval containment as a
    // post-filter — never an inequality-only join. Probes at t=500
    // (pre-batch) and t=1500 (post-batch) hit both version branches.
    Query("scd2_asof_lookup", (s, dir) => {
      val c = t(s, dir, "customer")
      val current = c.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("bigint"))
      val updates = c.where(col("c_custkey") % 3 === 0 || col("c_custkey") % 5 === 1)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"), lit(1000L).as("ts"))
      val hist = graft.ops.Snapshot.scd2Apply(current, updates, Seq("c_custkey"),
        Seq("c_acctbal", "c_mktsegment"), "ts")
      val probes = c.select(col("c_custkey"))
        .withColumn("t", explode(array(lit(500L), lit(1500L))))
      probes.join(hist, Seq("c_custkey"))
        .where(col("valid_from") <= col("t") &&
          (col("valid_to").isNull || col("t") < col("valid_to")))
        .select(col("c_custkey"), col("t"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey", "t")
    },
      oracle = """WITH cur AS (SELECT c_custkey, c_acctbal, c_mktsegment,
        |                    0::BIGINT AS valid_from, NULL::BIGINT AS valid_to FROM customer),
        | upd AS (SELECT c_custkey,
        |                CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 100, 2)
        |                     ELSE c_acctbal END AS u_bal,
        |                c_mktsegment AS u_seg, 1000::BIGINT AS uts
        |         FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 1),
        | keep AS (SELECT c.* FROM cur c LEFT JOIN upd u USING (c_custkey)
        |          WHERE u.c_custkey IS NULL
        |             OR (NOT c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 AND NOT c.c_mktsegment IS DISTINCT FROM u.u_seg)),
        | closed_now AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
        |                       c.valid_from, u.uts AS valid_to
        |                FROM cur c JOIN upd u USING (c_custkey)
        |                WHERE c.c_acctbal IS DISTINCT FROM u.u_bal
        |                   OR c.c_mktsegment IS DISTINCT FROM u.u_seg),
        | new_open AS (SELECT u.c_custkey, u.u_bal AS c_acctbal, u.u_seg AS c_mktsegment,
        |                     u.uts AS valid_from, NULL::BIGINT AS valid_to
        |              FROM upd u LEFT JOIN cur c USING (c_custkey)
        |              WHERE c.c_custkey IS NULL
        |                 OR c.c_acctbal IS DISTINCT FROM u.u_bal
        |                 OR c.c_mktsegment IS DISTINCT FROM u.u_seg),
        | hist AS (SELECT * FROM keep UNION ALL SELECT * FROM closed_now
        |          UNION ALL SELECT * FROM new_open),
        | probes AS (SELECT c_custkey, unnest([500::BIGINT, 1500::BIGINT]) AS t FROM customer)
        | SELECT p.c_custkey, p.t, h.c_acctbal, h.c_mktsegment
        | FROM probes p JOIN hist h USING (c_custkey)
        | WHERE h.valid_from <= p.t AND (h.valid_to IS NULL OR p.t < h.valid_to)
        | ORDER BY p.c_custkey, p.t""".stripMargin.replace("\n", " ")),

    // CDC log compaction: last write per user under (ts, event_id) —
    // µs-resolution ordering on BOTH engines (NOTES.md fact 13).
    Query("cdc_latest", (s, dir) =>
      graft.ops.Snapshot.latest(
          t(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("event_type"),
              expr("ts div 1000").as("ts_us")),
          Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
        .select("user_id", "event_id", "event_type", "ts_us")
        .orderBy("user_id"),
      oracle = """SELECT user_id, event_id, event_type, ts_us FROM (
        |   SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |          row_number() OVER (PARTITION BY user_id
        |            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |   FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin.replace("\n", " ")),

    // Salted equi-join on a 3-value (maximally hot) key: result equals
    // the plain join; the salt spreads each flag over 16 reducers.
    Query("skew_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val dim = li.select(col("l_returnflag")).distinct()
        .withColumn("flag_label", concat(lit("flag_"), col("l_returnflag")))
      graft.ops.Skew.saltedJoin(li, dim, "l_returnflag",
          col("l_orderkey") * 10 + col("l_linenumber"), numSalts = 16)
        .groupBy("flag_label")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("flag_label")
    },
      oracle = """WITH dim AS (SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS flag_label
        |             FROM lineitem)
        | SELECT flag_label, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        | FROM lineitem JOIN dim USING (l_returnflag)
        | GROUP BY flag_label ORDER BY flag_label""".stripMargin.replace("\n", " ")),

    Query("q29_ranking", (s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    },
      oracle = """SELECT o_orderkey, o_orderstatus,
        |        dense_rank() OVER w AS drk, ntile(4) OVER w AS quartile
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    // The engine's SQL surface (SURVEY §7.1 item 8): register the fixture
    // tables as views and run plain Spark SQL — here a correlated scalar
    // subquery, which Catalyst decorrelates into a left outer aggregate
    // join (SURVEY §4: DecorrelateInnerQuery is built-in).
    Query("q33_sql_surface", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT c_custkey,
          |       round((SELECT sum(o_totalprice) FROM v_orders
          |              WHERE o_custkey = c_custkey), 2) AS spend
          |FROM v_customer ORDER BY c_custkey""".stripMargin)
    },
      oracle = """SELECT c_custkey,
        |        round((SELECT sum(o_totalprice) FROM orders WHERE o_custkey = c_custkey), 2) AS spend
        | FROM customer ORDER BY c_custkey""".stripMargin.replace("\n", " ")),

    Query("q34_multi_distinct", (s, dir) =>
      t(s, dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment"),
      oracle = """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        | ORDER BY c_nationkey, c_mktsegment""".stripMargin.replace("\n", " ")),

    // RANGE window frame (value-range, not row-count): trailing one-hour
    // sliding aggregate per user over event time — the frame type ROWS
    // windows can't express when events are irregularly spaced.
    Query("q40_range_window", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0)
      t(s, dir, "events")
        .where(col("user_id") < 100)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          round(sum(col("value").cast("decimal(20,6)")).over(w), 2)
            .cast("double").as("sum_trailing_1h"))
        .orderBy("user_id", "ts_us", "event_id")
    },
      oracle = """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |            FROM events WHERE user_id < 100)
        | SELECT user_id, ts_us, event_id,
        |        count(*) OVER w AS n_trailing_1h,
        |        round(sum(value::DECIMAL(20,6)) OVER w, 2)::DOUBLE AS sum_trailing_1h
        | FROM ev
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        | ORDER BY user_id, ts_us, event_id""".stripMargin.replace("\n", " ")),

    // Trailing-window distinct count (7-day active users per day) WITHOUT
    // a sliding count_distinct window: each distinct (user, day) activity
    // row contributes to the 7 window-end days it falls inside; explode
    // that bounded contribution, dedup pairs, count. Linear with a fixed
    // 7× expansion — never a per-day set union or an Expand.
    Query("q42_window_distinct", (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
      val bounds = ud.agg(max("day").as("_hi"))
      ud.withColumn("wday", explode(expr("sequence(day, day + 6)")))
        .crossJoin(broadcast(bounds))
        .where(col("wday") <= col("_hi"))
        .select("wday", "user_id").distinct()
        .groupBy("wday").agg(count(lit(1)).as("u7"))
        .orderBy("wday")
    },
      oracle = """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | b AS (SELECT max(day) AS hi FROM ud),
        | c AS (SELECT user_id, unnest(range(day, day + 7)) AS wday FROM ud)
        | SELECT wday::BIGINT AS wday, count(DISTINCT user_id) AS u7
        | FROM c, b WHERE wday <= hi
        | GROUP BY wday ORDER BY wday""".stripMargin.replace("\n", " ")),

    // Explicit GROUPING SETS with grouping_id — the general form of
    // q12_rollup/q20_cube: exactly the (status), (priority), and ()
    // groupings, nothing else, disambiguated by grouping ids.
    Query("q44_grouping_sets", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders_gs")
      // NULL-free output + coalesced sort keys: Spark orders NULLS FIRST,
      // DuckDB NULLS LAST — don't let a NULL near the positional compare
      s.sql(
        """SELECT coalesce(o_orderstatus, '*') AS status,
          |       coalesce(o_orderpriority, '*') AS priority,
          |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |       count(*) AS n,
          |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,2))), 2) AS DOUBLE) AS total
          |FROM v_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio, status, priority""".stripMargin)
    },
      oracle = """SELECT coalesce(o_orderstatus, '*') AS status,
        |       coalesce(o_orderpriority, '*') AS priority,
        |       GROUPING(o_orderstatus)::INT AS g_status,
        |       GROUPING(o_orderpriority)::INT AS g_prio,
        |       count(*) AS n,
        |       round(sum(o_totalprice::DECIMAL(20,2)), 2)::DOUBLE AS total
        | FROM orders
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        | ORDER BY g_status, g_prio, status, priority""".stripMargin.replace("\n", " ")),

    // UNPIVOT/melt: wide metric columns → long (metric, value) rows,
    // then a per-metric rollup. Decimal sums keep the rounding exact and
    // aggregation-order-independent cross-engine.
    Query("q38_unpivot", (s, dir) =>
      widen(t(s, dir, "lineitem"))
        .select(col("l_orderkey"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"),
          col("l_tax").as("tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "metric", "value")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("total"))
        .orderBy("metric"),
      oracle = """SELECT metric, count(*) AS n,
        |        round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS total
        | FROM (UNPIVOT (SELECT l_orderkey, l_quantity AS quantity,
        |                l_extendedprice AS extendedprice, l_discount AS discount,
        |                l_tax AS tax FROM lineitem)
        |       ON quantity, extendedprice, discount, tax
        |       INTO NAME metric VALUE value)
        | GROUP BY metric ORDER BY metric""".stripMargin.replace("\n", " ")),

    // LATERAL correlated subquery (top-2 customers per nation) — the
    // other decorrelation path in Catalyst (LateralJoin → window/join
    // rewrite), distinct from q33's scalar-subquery decorrelation.
    Query("q37_lateral", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("v_nation")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql(
        """SELECT n.n_nationkey, n.n_name, c.c_custkey, c.c_acctbal
          |FROM v_nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM v_customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          |ORDER BY n_nationkey, c_acctbal DESC, c_custkey""".stripMargin)
    },
      oracle = """SELECT n.n_nationkey, n.n_name, c.c_custkey, c.c_acctbal
        | FROM nation n,
        | LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |          WHERE c_nationkey = n.n_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        | ORDER BY n_nationkey, c_acctbal DESC, c_custkey""".stripMargin.replace("\n", " ")),

    Query("q31_window_family", (s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          first("o_orderkey").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cheapest_key"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderkey")
    },
      oracle = """SELECT o_orderkey, o_orderstatus,
        |        first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_key,
        |        round(percent_rank() OVER w, 6) AS pr,
        |        round(cume_dist() OVER w, 6) AS cd
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Query("q32_conditional", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          greatest(col("o_totalprice"), lit(1000.0)).as("floor_price"),
          least(col("o_totalprice"), lit(100000.0)).as("cap_price"),
          nullif(col("o_orderstatus"), lit("F")).as("non_final"),
          coalesce(nullif(col("o_orderstatus"), lit("F")), lit("DONE")).as("status_or_done"))
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey, greatest(o_totalprice, 1000.0) AS floor_price,
        |        least(o_totalprice, 100000.0) AS cap_price,
        |        nullif(o_orderstatus, 'F') AS non_final,
        |        coalesce(nullif(o_orderstatus, 'F'), 'DONE') AS status_or_done
        | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Query("q26_distinct_count", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |        count(DISTINCT l_suppkey) AS n_supps
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    Query("q27_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .withColumnsRenamed(Map("A" -> "a_qty", "N" -> "n_qty", "R" -> "r_qty"))
        .orderBy("l_linestatus"),
      oracle = """SELECT l_linestatus,
        |        round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS a_qty,
        |        round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS n_qty,
        |        round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS r_qty
        | FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin.replace("\n", " ")),

    // Capture-group extraction into typed columns — the regexp-ETL
    // surface (parse an id out of a tag, pull positional words):
    // group-indexed regexp_extract has identical semantics on both
    // engines; a no-match yields '' (never NULL), so the empty string
    // is the honest sentinel and nothing trips ANSI casts.
    Query("q47_regex_extract", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("source"), "^src([0-9]+)$", 1).cast("long").as("src_num"),
        regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 2).as("second_word"),
        regexp_extract(col("text"), "\\b(ta[a-z]+)", 1).as("first_ta"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |   regexp_extract(source, '^src([0-9]+)$', 1)::BIGINT AS src_num,
        |   regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |   regexp_extract(text, '\b(ta[a-z]+)', 1) AS first_ta
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Collections-function surface over token arrays (sort, distinct,
    // position, containment, slice, string reverse) — scalar outputs
    // only (the driver compare bans complex types). array_position is
    // 1-based on both engines, but Spark returns 0 for absent where
    // DuckDB returns NULL — the oracle coalesces.
    Query("q46_collections", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("doc_id"),
          size(col("a")).as("n"),
          expr("element_at(array_sort(a), 1)").as("first_sorted"),
          size(array_distinct(col("a"))).as("n_distinct"),
          expr("array_position(a, 'data')").as("pos_data"),
          expr("array_contains(a, 'spark')").cast("int").as("has_spark"),
          expr("array_join(slice(array_sort(array_distinct(a)), 1, 3), ',')")
            .as("top3_sorted"),
          (expr("array_contains(a, 'data')").cast("int")
            + expr("array_contains(a, 'table')").cast("int")
            + expr("array_contains(a, 'row')").cast("int")).as("n_core"),
          reverse(expr("array_join(slice(a, 1, 2), ' ')")).as("rev_head"))
        .orderBy("doc_id"),
      oracle = """WITH d AS (SELECT doc_id,
        |   list_filter(string_split(text, ' '), x -> x <> '') AS a
        |   FROM documents)
        | SELECT doc_id, len(a)::INT AS n,
        |   list_sort(a)[1] AS first_sorted,
        |   len(list_distinct(a))::INT AS n_distinct,
        |   coalesce(list_position(a, 'data'), 0)::BIGINT AS pos_data,
        |   list_contains(a, 'spark')::INT AS has_spark,
        |   array_to_string(list_sort(list_distinct(a))[1:3], ',') AS top3_sorted,
        |   (list_contains(a, 'data')::INT + list_contains(a, 'table')::INT
        |     + list_contains(a, 'row')::INT) AS n_core,
        |   reverse(array_to_string(a[1:2], ' ')) AS rev_head
        | FROM d WHERE len(a) >= 2 ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Grouped top-k WITH ties (RANK ≤ 3): per order priority, the top
    // spending customers — the grouped, tie-preserving complement of
    // q11's global TakeOrderedAndProject and q37's LATERAL top-2 (which
    // decorrelates to a tie-free row_number). One key shuffle, then a
    // partition-local window; decimal sums so the rank key is
    // aggregation-order-independent cross-engine.
    Query("q45_topk_per_group", (s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(round(sum(col("o_totalprice").cast("decimal(20,6)")), 2)
          .cast("double").as("spend"))
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("spend").desc, col("o_custkey"))
      spend.withColumn("rk", rank().over(w)).where(col("rk") <= 3)
        .orderBy("o_orderpriority", "rk", "o_custkey")
    },
      oracle = """WITH spend AS (SELECT o_orderpriority, o_custkey,
        |   round(sum(o_totalprice::DECIMAL(20,6)), 2)::DOUBLE AS spend
        |   FROM orders GROUP BY 1, 2),
        | r AS (SELECT o_orderpriority, o_custkey, spend,
        |   rank() OVER (PARTITION BY o_orderpriority
        |     ORDER BY spend DESC, o_custkey) AS rk FROM spend)
        | SELECT o_orderpriority, o_custkey, spend, rk::INT AS rk FROM r
        | WHERE rk <= 3 ORDER BY o_orderpriority, rk, o_custkey"""
        .stripMargin.replace("\n", " ")),

    // Market-basket co-occurrence with lift: part pairs within an order
    // (canonical a < b), support counts and integer-basis-point lift =
    // 10000·N·c(a,b) div (c(a)·c(b)). Baskets are GROUP-shaped, so ONE
    // order-key aggregation builds the sorted basket arrays (collect_set
    // dedups (ok, pk) in the same pass) and the within-order pairs explode
    // ROW-LOCALLY from each array — no order-key self-join exchange, no
    // separate distinct pass (the labelprop adjacency-from-groups shape).
    // Pair volume per order is C(basket, 2), bounded by lineitems/order
    // (≤ 7 in this schema) — row-local explode, never a global cross
    // join. Marginals and the order count re-derive from the same lazily
    // persisted basket table. Top-20 pairs by support for a stable report.
    Query("orders_basket_lift", (s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = baskets.select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"))
          .as("p"))
        .select(col("p.pa"), col("p.pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cab"))
      val marg = baskets.select(explode(col("ps")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("cp"))
      val n = baskets.agg(count(lit(1)).as("n_orders"))
      // marginals are dimension-sized: no forced broadcast — AQE picks
      // broadcast vs shuffle by the actual build size at runtime
      pairs
        .join(marg.withColumnsRenamed(Map("pk" -> "pa", "cp" -> "ca")), "pa")
        .join(marg.withColumnsRenamed(Map("pk" -> "pb", "cp" -> "cb")), "pb")
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("cab"),
          expr("CAST(10000 * n_orders * cab div (ca * cb) AS BIGINT)").as("lift_bp"))
        .orderBy(col("cab").desc, col("pa"), col("pb")).limit(20)
    },
      oracle = """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        | pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS cab
        |           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |           GROUP BY a.pk, b.pk),
        | marg AS (SELECT pk, count(*) AS cp FROM li GROUP BY pk),
        | n AS (SELECT count(DISTINCT ok) AS n_orders FROM li)
        | SELECT pa, pb, cab,
        |   CAST((10000 * n_orders * cab) // (ca.cp * cb.cp) AS BIGINT) AS lift_bp
        | FROM pairs JOIN marg ca ON pairs.pa = ca.pk
        |            JOIN marg cb ON pairs.pb = cb.pk, n
        | ORDER BY cab DESC, pa, pb LIMIT 20""".stripMargin.replace("\n", " ")),

    // Data-validation battery (ops/Validate.scala): row-rule violation
    // counts in ONE scan per table + referential-integrity anti-joins,
    // unioned into one (rule, n_viol, n_rows) report. Two rules are
    // deliberately tight so the report carries non-zero counts.
    Query("validate_orders", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val c = t(s, dir, "customer")
      val oRules = Validate.checkRows(o, Seq(
        "o_custkey_not_null" -> col("o_custkey").isNotNull,
        "o_date_not_null" -> col("o_orderdate").isNotNull,
        "o_status_in_set" -> col("o_orderstatus").isin("O", "F", "P"),
        "o_totalprice_positive" -> (col("o_totalprice") > 0),
        "o_totalprice_under_400k" -> (col("o_totalprice") <= 400000)))
      val lRules = Validate.checkRows(l, Seq(
        "l_discount_bounds" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
        "l_quantity_in_1_50" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "l_quantity_under_45" -> (col("l_quantity") <= 45)))
      val fk1 = Validate.checkFk("fk_lineitem_orders", l, "l_orderkey", o, "o_orderkey")
      val fk2 = Validate.checkFk("fk_orders_customer", o, "o_custkey", c, "c_custkey")
      oRules.unionByName(lRules).unionByName(fk1).unionByName(fk2)
        .orderBy("rule")
    },
      oracle = """WITH ov AS (SELECT
        |   sum(CASE WHEN coalesce(o_custkey IS NOT NULL, false) THEN 0 ELSE 1 END) AS v_custkey,
        |   sum(CASE WHEN coalesce(o_orderdate IS NOT NULL, false) THEN 0 ELSE 1 END) AS v_date,
        |   sum(CASE WHEN coalesce(o_orderstatus IN ('O', 'F', 'P'), false) THEN 0 ELSE 1 END) AS v_status,
        |   sum(CASE WHEN coalesce(o_totalprice > 0, false) THEN 0 ELSE 1 END) AS v_pos,
        |   sum(CASE WHEN coalesce(o_totalprice <= 400000, false) THEN 0 ELSE 1 END) AS v_400k,
        |   count(*) AS n FROM orders),
        | lv AS (SELECT
        |   sum(CASE WHEN coalesce(l_discount >= 0 AND l_discount <= 0.1, false) THEN 0 ELSE 1 END) AS v_disc,
        |   sum(CASE WHEN coalesce(l_quantity >= 1 AND l_quantity <= 50, false) THEN 0 ELSE 1 END) AS v_q50,
        |   sum(CASE WHEN coalesce(l_quantity <= 45, false) THEN 0 ELSE 1 END) AS v_q45,
        |   count(*) AS n FROM lineitem),
        | fk1 AS (SELECT count(*) AS v, (SELECT count(*) FROM lineitem) AS n FROM lineitem li
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)),
        | fk2 AS (SELECT count(*) AS v, (SELECT count(*) FROM orders) AS n FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        | SELECT rule, CAST(n_viol AS BIGINT) AS n_viol, CAST(n_rows AS BIGINT) AS n_rows FROM (
        |   SELECT 'o_custkey_not_null' AS rule, v_custkey AS n_viol, n AS n_rows FROM ov
        |   UNION ALL SELECT 'o_date_not_null', v_date, n FROM ov
        |   UNION ALL SELECT 'o_status_in_set', v_status, n FROM ov
        |   UNION ALL SELECT 'o_totalprice_positive', v_pos, n FROM ov
        |   UNION ALL SELECT 'o_totalprice_under_400k', v_400k, n FROM ov
        |   UNION ALL SELECT 'l_discount_bounds', v_disc, n FROM lv
        |   UNION ALL SELECT 'l_quantity_in_1_50', v_q50, n FROM lv
        |   UNION ALL SELECT 'l_quantity_under_45', v_q45, n FROM lv
        |   UNION ALL SELECT 'fk_lineitem_orders', v, n FROM fk1
        |   UNION ALL SELECT 'fk_orders_customer', v, n FROM fk2)
        | ORDER BY rule""".stripMargin.replace("\n", " ")),

    // Salted two-phase collect_set over a genuinely hot key (3 returnflag
    // groups × 200k rows each at sf0.1) — the bounded-group-state pattern
    // for holistic aggregates at scale.
    Query("skew_salted_collect", (s, dir) =>
      graft.ops.Skew.saltedCollectSet(
        t(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity").cast(IntegerType))
        .select(col("l_returnflag"), to_json(col("values")).as("values"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag,
        |        to_json(list_sort(list_distinct(list(CAST(trunc(l_quantity) AS INTEGER)))))::VARCHAR AS values
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " ")),

    // Runtime-filter pattern: a 128 KB broadcast Bloom filter of the
    // selective dim keys drops non-matching fact rows BEFORE the join's
    // shuffle; the exact semi join after it makes false positives
    // harmless — so the oracle is the plain semi join.
    Query("bloom_prune_join", (s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val bloom = graft.ops.Bloom.build(urgent, "o_orderkey", mBits = 1 << 20, k = 5)
      val pruned = graft.ops.Bloom.prune(t(s, dir, "lineitem"), "l_orderkey", bloom, k = 5)
      pruned.join(urgent, pruned("l_orderkey") === urgent("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },
      oracle = """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        | FROM lineitem
        | WHERE l_orderkey IN
        |   (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "))
  )
}

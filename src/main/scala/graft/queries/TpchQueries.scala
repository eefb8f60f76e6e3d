package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers.t

/** The TPC-H queries and TPC-style variants over the relational fixture.
  */
object TpchQueries {

  val all: Seq[Query] = Seq(

    // TPC-H classics over the fixture subset — the recognizable relational
    // benchmark shapes. Money sums accumulate as DECIMAL(20,6) per the
    // q45 pattern (order-independent, no float drift); doubles only at
    // the rounded output surface. Joins stay hint-free: dims broadcast by
    // AQE at this scale, shuffle-join at 1000× — both correct.
    // Q1 sums run in integer MICRO-UNITS (round(x·1e6) as BIGINT), not
    // DECIMAL(20,6): precision 20 is past Spark's compact-long decimal
    // range (18), so the decimal spelling pays a BigDecimal object per
    // row in the hottest scan-agg of the suite (measured 1.37 s vs
    // ~0.3 s at sf0.1). Long sums stay exact (≤ 2e11 micro/row, ≤ 1.2e17
    // per group ≪ 2^63) and identical cross-engine; the final 2-dp round
    // happens in INTEGER space ((Σ + 5000) div 10⁴, half-up) and only the
    // ≤ 1.2e13 centi-unit result — exact in a double — is cast out.
    Query("tpch_q1", (s, dir) => {
      def mu(c: Column) = round(c * lit(1000000)).cast("long")
      def out(c: String) = expr(s"CAST((($c + 5000) div 10000) AS DOUBLE) / 100")
      // r17: widen measured ~30% SLOWER here (paired A/B) — the filtered
      // partial aggregation absorbs the rows in the scan stage and the
      // added 7-column exchange never pays for itself
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(mu(col("l_quantity"))).as("_q"),
          sum(mu(col("l_extendedprice"))).as("_p"),
          sum(mu(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("_d"),
          sum(mu(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")))).as("_c"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          out("_q").as("sum_qty"), out("_p").as("sum_base_price"),
          out("_d").as("sum_disc_price"), out("_c").as("sum_charge"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      oracle = """SELECT l_returnflag, l_linestatus,
        |   CAST((sum(CAST(round(l_quantity * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_qty,
        |   CAST((sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_base_price,
        |   CAST((sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_disc_price,
        |   CAST((sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) + 5000) // 10000 AS DOUBLE) / 100 AS sum_charge,
        |   count(*) AS count_order
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")),

    Query("tpch_q3", (s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      val cst = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cst, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
      oracle = """SELECT l_orderkey,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue,
        |   o_orderdate
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE c_mktsegment = 'BUILDING'
        |   AND o_orderdate < TIMESTAMP '1998-01-01'
        |   AND l_shipdate > TIMESTAMP '1998-01-01'
        | GROUP BY l_orderkey, o_orderdate
        | ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin.replace("\n", " ")),

    // Q6: the one-row forecast-revenue filter-aggregate — pure scan +
    // pushed predicates, the simplest shape that must NOT shuffle.
    Query("tpch_q6", (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(20,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n")),
      oracle = """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue,
        |        count(*) AS n
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |   AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24
        | ORDER BY revenue""".stripMargin.replace("\n", " ")),

    // Q14: promo revenue share — conditional aggregation over one join,
    // integer-exact via cents (cross-engine decimal-promotion rule).
    Query("tpch_q14", (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          expr("""CAST(round(sum(CASE WHEN p_type = 'PROMO'
                 | THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
                 | ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("promo_cents"),
          expr("CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT)")
            .as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          expr("CAST(promo_cents * 10000 div total_cents AS BIGINT)").as("promo_bp")),
      oracle = """WITH j AS (SELECT l_extendedprice, l_discount, p_type
        |   FROM lineitem JOIN part ON l_partkey = p_partkey
        |   WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'),
        | c AS (SELECT
        |   CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
        |     ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT) AS promo_cents,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS total_cents
        |   FROM j)
        | SELECT promo_cents, total_cents,
        |   CAST((promo_cents * 10000) // total_cents AS BIGINT) AS promo_bp
        | FROM c ORDER BY promo_bp""".stripMargin.replace("\n", " ")),

    Query("tpch_q10", (s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_returnflag") === "R")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      oracle = """SELECT c_custkey, c_name, c_acctbal, n_name,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        |               JOIN nation ON c_nationkey = n_nationkey
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1996-04-01'
        |   AND l_returnflag = 'R'
        | GROUP BY c_custkey, c_name, c_acctbal, n_name
        | ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", " ")),

    Query("tpch_q18", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("_q")).where(col("_q") > 180)
        .select(col("l_orderkey").as("_big_ok"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("_big_ok"), "left_semi")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
      oracle = """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |   round(sum(l_quantity), 2) AS total_qty
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                      GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
        | GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin.replace("\n", " ")),

    Query("tpch_q5", (s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      val asia = t(s, dir, "region").where(col("r_name") === "ASIA")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(asia, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      oracle = """SELECT n_name,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue
        | FROM customer JOIN orders ON c_custkey = o_custkey
        |               JOIN lineitem ON o_orderkey = l_orderkey
        |               JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |               JOIN nation ON s_nationkey = n_nationkey
        |               JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1997-01-01'
        | GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replace("\n", " ")),

    // Q4: order-priority checking — the EXISTS shape. The fixture has no
    // l_commitdate/l_receiptdate, so "late" is adapted to l_shipdate more
    // than 60 days after o_orderdate (pure timestamp comparison — exact on
    // both engines, no date-diff rounding). Spark plans the EXISTS as a
    // left-semi hash join on l_orderkey with the non-equi lateness residual.
    Query("tpch_q4", (s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority"),
      oracle = """SELECT o_orderpriority, count(*) AS order_count
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1996-04-01'
        |   AND EXISTS (SELECT 1 FROM lineitem
        |               WHERE l_orderkey = o_orderkey
        |                 AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " ")),

    // Q7: volume shipping between two nations — the classic two-role
    // nation join (supplier nation × customer nation, both directions).
    // Both nation dims are 25 rows → broadcast; the only shuffle is the
    // final 2×2×years group.
    Query("tpch_q7", (s, dir) => {
      def dec(c: Column) = c.cast("decimal(20,6)")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("_sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("_cn_key"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      oracle = """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |   year(l_shipdate) AS l_year,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |               JOIN customer ON o_custkey = c_custkey
        |               JOIN supplier ON l_suppkey = s_suppkey
        |               JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |               JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1998-01-01'
        |   AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        | GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " ")),

    // Q12: shipping-mode priority split — the CASE-conditional aggregation
    // shape. No l_shipmode in the fixture: lines are bucketed by shipping
    // DELAY instead (timestamp-interval comparisons, engine-exact), and the
    // high/low split keeps Q12's priority CASE verbatim.
    Query("tpch_q12", (s, dir) => {
      val hi = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("ship_bucket",
          when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"), "SLOW")
            .when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"), "MEDIUM")
            .otherwise("FAST"))
        .groupBy("ship_bucket")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("ship_bucket")
    },
      oracle = """SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY THEN 'SLOW'
        |             WHEN l_shipdate >= o_orderdate + INTERVAL 30 DAY THEN 'MEDIUM'
        |             ELSE 'FAST' END AS ship_bucket,
        |   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-01-01'
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // Q13: customer order-count distribution — the left-outer-join +
    // double aggregation shape (customers with zero orders must survive
    // into the c_count=0 bucket). The o_comment NOT LIKE filter is adapted
    // to excluding 5-LOW priority orders (the fixture has no comments).
    Query("tpch_q13", (s, dir) => {
      val ord = t(s, dir, "orders").where(col("o_orderpriority") =!= "5-LOW")
      t(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      oracle = """SELECT c_count, count(*) AS custdist FROM (
        |   SELECT c_custkey, count(o_orderkey) AS c_count
        |   FROM customer LEFT OUTER JOIN orders
        |     ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |   GROUP BY c_custkey)
        | GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin.replace("\n", " ")),

    // Q15: top supplier — the view + scalar-max shape. Revenue totals stay
    // DECIMAL (never rounded doubles) so the `= max` equality is exact on
    // both engines; the one-row max is a broadcast join, not a window.
    Query("tpch_q15", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,6)")).as("_total"))
      val top = rev.agg(max(col("_total")).as("_max"))
      t(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("_total") === col("_max"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("_total"), 2).cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      oracle = """WITH revenue AS (
        |   SELECT l_suppkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS total
        |   FROM lineitem
        |   WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |     AND l_shipdate < TIMESTAMP '1996-04-01'
        |   GROUP BY l_suppkey)
        | SELECT s_suppkey, s_name,
        |   CAST(round(total, 2) AS DOUBLE) AS total_revenue
        | FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        | WHERE total = (SELECT max(total) FROM revenue)
        | ORDER BY s_suppkey""".stripMargin.replace("\n", " ")),

    // Q17: small-quantity-order revenue — the correlated scalar-subquery
    // shape (per-part average), decorrelated into an aggregate + join as
    // Catalyst itself would. The 0.2·avg threshold is cross-multiplied to
    // 5·qty·n < sum_qty so the comparison is exact in integer-valued
    // doubles (no float-division ulp flips); p_container (absent) → p_brand.
    Query("tpch_q17", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("_pk"))
        .agg(sum("l_quantity").as("_sum_q"), count(lit(1)).as("_n_q"))
      li.join(t(s, dir, "part").where(col("p_brand") === "Brand#1"),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("_pk"))
        .where(col("l_quantity") * 5 * col("_n_q") < col("_sum_q"))
        .agg(expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))) * 100) AS BIGINT)")
          .as("total_cents"))
        .select(col("total_cents"),
          expr("total_cents div 7").as("avg_yearly_cents"))
    },
      oracle = """WITH pp AS (SELECT l_partkey AS pk, sum(l_quantity) AS sq, count(*) AS nq
        |            FROM lineitem GROUP BY l_partkey)
        | SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))) * 100) AS BIGINT) AS total_cents,
        |   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))) * 100) AS BIGINT) // 7 AS avg_yearly_cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |               JOIN pp ON l_partkey = pk
        | WHERE p_brand = 'Brand#1' AND l_quantity * 5 * nq < sq
        | ORDER BY total_cents""".stripMargin.replace("\n", " ")),

    // Q19: discounted revenue — the OR-of-conjunctions shape. Each branch
    // pairs part predicates (brand, size) with lineitem predicates
    // (quantity); shipmode/shipinstruct (absent) are dropped. The partkey
    // equi-join stays a hash join; the disjunction is a post-join residual
    // the scan can still partially push (l_quantity ≤ 30 bounds all
    // branches).
    Query("tpch_q19", (s, dir) => {
      def branch(b: String, sizeHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === b && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(branch("Brand#1", 10, 1, 11) || branch("Brand#2", 20, 10, 20) ||
          branch("Brand#3", 30, 20, 30))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
      oracle = """SELECT
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 2) AS DOUBLE) AS revenue,
        |   count(*) AS n
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)
        | ORDER BY revenue""".stripMargin.replace("\n", " ")),

    // Q22: global sales opportunity — the NOT EXISTS + scalar-threshold
    // shape. No c_phone in the fixture: the country code is the nationkey
    // mod 5, "no orders" is scoped to the recent window (lapsed customers
    // — every fixture customer has SOME order), and the above-average-
    // balance test is cross-multiplied in integer cents (cents·n >
    // sum_cents) so the threshold is engine-exact.
    Query("tpch_q22", (s, dir) => {
      val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
      val cust = t(s, dir, "customer").withColumn("_cents", cents)
      val stats = cust.where(col("_cents") > 0)
        .agg(sum("_cents").as("_sum_c"), count(lit(1)).as("_n_c"))
      cust.join(broadcast(stats))
        .where(col("_cents") * col("_n_c") > col("_sum_c"))
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("_cents").as("totacctbal_cents"))
        .orderBy("cntrycode")
    },
      oracle = """WITH c AS (SELECT *, CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        | s AS (SELECT sum(cents) AS sum_c, count(*) AS n_c FROM c WHERE cents > 0)
        | SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
        |   CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        | FROM c, s
        | WHERE cents * n_c > sum_c
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                   AND o_orderdate >= TIMESTAMP '1999-01-01')
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // Q2: minimum-cost supplier — the correlated-min subquery shape,
    // decorrelated into a per-part min + equality join. The fixture has no
    // partsupp: the part↔supplier catalog is DISTINCT (l_partkey,
    // l_suppkey) from lineitem, and "cost" is s_acctbal. The min-equality
    // compares STORED doubles (no arithmetic) so it is engine-exact.
    Query("tpch_q2", (s, dir) => {
      val europe = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("_nk"), col("n_name"))
      val cat = t(s, dir, "lineitem")
        .select(col("l_partkey").as("_pk"), col("l_suppkey").as("_sk")).distinct()
        .join(t(s, dir, "supplier"), col("_sk") === col("s_suppkey"))
        .join(broadcast(europe), col("s_nationkey") === col("_nk"))
      val minCost = cat.groupBy(col("_pk").as("_mpk"))
        .agg(min(col("s_acctbal")).as("_min_bal"))
      cat.join(minCost, col("_pk") === col("_mpk") && col("s_acctbal") === col("_min_bal"))
        .join(t(s, dir, "part")
          .where(col("p_size") === 15 && col("p_type") === "LARGE"),
          col("_pk") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
      oracle = """WITH cat AS (
        |   SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        | eu AS (
        |   SELECT s_suppkey, s_name, s_acctbal, n_name
        |   FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |                 JOIN region ON n_regionkey = r_regionkey
        |   WHERE r_name = 'EUROPE'),
        | costs AS (
        |   SELECT pk, s_suppkey, s_name, s_acctbal, n_name
        |   FROM cat JOIN eu ON sk = s_suppkey)
        | SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        | FROM costs JOIN part ON pk = p_partkey
        | WHERE p_size = 15 AND p_type = 'LARGE'
        |   AND s_acctbal = (SELECT min(s_acctbal) FROM costs c2 WHERE c2.pk = costs.pk)
        | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        | LIMIT 100""".stripMargin.replace("\n", " ")),

    // Q8: national market share — share of a target nation's revenue
    // inside a region+type market per year. The share is emitted in basis
    // points via integer division of cents (the q14 promo_bp rule) so no
    // float division crosses the engine boundary.
    Query("tpch_q8", (s, dir) => {
      val dec20 = "decimal(20,6)"
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("_ck"))
      val suppNat = t(s, dir, "nation")
        .select(col("n_nationkey").as("_snk"), col("n_name").as("_supp_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("_ck"), "left_semi")
        .join(broadcast(t(s, dir, "part").where(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("_snk"))
        .withColumn("_vol", (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec20))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          expr("CAST(round(sum(CASE WHEN _supp_nation = 'NATION_5' THEN _vol ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT)")
            .as("nation_cents"),
          expr("CAST(round(sum(_vol) * 100) AS BIGINT)").as("total_cents"))
        .select(col("o_year"), col("nation_cents"), col("total_cents"),
          expr("nation_cents * 10000 div total_cents").as("mkt_share_bp"))
        .orderBy("o_year")
    },
      oracle = """SELECT year(o_orderdate) AS o_year,
        |   CAST(round(sum(CASE WHEN n1.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
        |     ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT) AS nation_cents,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS total_cents,
        |   CAST(round(sum(CASE WHEN n1.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
        |     ELSE CAST(0 AS DECIMAL(20,6)) END) * 100) AS BIGINT) * 10000
        |     // CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS mkt_share_bp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |               JOIN part ON l_partkey = p_partkey
        |               JOIN supplier ON l_suppkey = s_suppkey
        |               JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1998-01-01'
        |   AND p_type = 'ECONOMY'
        |   AND EXISTS (SELECT 1 FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |               JOIN region ON n2.n_regionkey = r_regionkey
        |               WHERE c_custkey = o_custkey AND r_name = 'ASIA')
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // Q9: product-type profit — profit per supplier nation per order year
    // over 'red' parts. No ps_supplycost: cost is proxied at 10% of
    // p_retailprice per unit, computed inside ONE double expression before
    // the decimal cast (identical operation order on both engines).
    Query("tpch_q9", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").where(col("p_name").like("%red%"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .withColumn("_amount",
          (col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("p_retailprice") * col("l_quantity") * lit(0.1)).cast("decimal(20,6)"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("_amount")), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc),
      oracle = """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |     - p_retailprice * l_quantity * 0.1 AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_profit
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |               JOIN orders ON l_orderkey = o_orderkey
        |               JOIN supplier ON l_suppkey = s_suppkey
        |               JOIN nation ON s_nationkey = n_nationkey
        | WHERE p_name LIKE '%red%'
        | GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin.replace("\n", " ")),

    // Q11: important stock — the HAVING-above-global-fraction shape. No
    // partsupp: per-part "value" is revenue via NATION_7 suppliers, and the
    // 0.1% threshold is the integer cross-product value_cents·1000 >
    // total_cents (scalar-subquery total rides a one-row broadcast).
    Query("tpch_q11", (s, dir) => {
      val n7 = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").where(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("_sk"))
      val perPart = t(s, dir, "lineitem")
        .join(broadcast(n7), col("l_suppkey") === col("_sk"), "left_semi")
        .groupBy("l_partkey")
        .agg(expr("CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT)")
          .as("value_cents"))
      val total = perPart.agg(sum("value_cents").as("_total_cents"))
      perPart.join(broadcast(total))
        .where(col("value_cents") * 1000 > col("_total_cents"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("l_partkey"))
    },
      oracle = """WITH pv AS (
        |   SELECT l_partkey,
        |     CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) * 100) AS BIGINT) AS value_cents
        |   FROM lineitem
        |   WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
        |     ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7')
        |   GROUP BY l_partkey)
        | SELECT l_partkey, value_cents FROM pv
        | WHERE value_cents * 1000 > (SELECT sum(value_cents) FROM pv)
        | ORDER BY value_cents DESC, l_partkey""".stripMargin.replace("\n", " ")),

    // Q16: parts/supplier relationship count — count DISTINCT suppliers
    // per (brand, type, size) bucket, excluding a brand and excluding
    // "complaint" suppliers via the NOT-IN-subquery shape (adapted to
    // negative account balance; the fixture has no comments).
    Query("tpch_q16", (s, dir) => {
      val bad = t(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("_bad_sk"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(t(s, dir, "part")
          .where(col("p_brand") =!= "Brand#5" && col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("_bad_sk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
      oracle = """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |   JOIN part ON l_partkey = p_partkey
        | WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        | GROUP BY p_brand, p_type, p_size
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin.replace("\n", " ")),

    // Q20: potential part promotion — the nested-IN + correlated-aggregate
    // shape: suppliers who shipped more than 60 units of any 'red' part
    // in 1996 (the ps_availqty half-stock test is adapted to a shipped-
    // quantity threshold; same group-by-pair + HAVING decorrelation).
    Query("tpch_q20", (s, dir) => {
      val redParts = t(s, dir, "part").where(col("p_name").like("red%"))
        .select(col("p_partkey").as("_rpk"))
      val heavy = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(redParts), col("l_partkey") === col("_rpk"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum("l_quantity").as("_q"))
        .where(col("_q") > 60)
        .select(col("l_suppkey").as("_hsk")).distinct()
      t(s, dir, "supplier")
        .join(heavy, col("s_suppkey") === col("_hsk"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    },
      oracle = """SELECT s_suppkey, s_name FROM supplier
        | WHERE s_suppkey IN (
        |   SELECT l_suppkey FROM lineitem
        |   WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |     AND l_shipdate >= TIMESTAMP '1996-01-01'
        |     AND l_shipdate < TIMESTAMP '1997-01-01'
        |   GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 60)
        | ORDER BY s_suppkey""".stripMargin.replace("\n", " ")),

    // Q21: suppliers who kept orders waiting — the EXISTS + NOT EXISTS
    // double self-join shape on lineitem: NATION_3 suppliers whose line
    // shipped >90 days after the order date on a finished multi-supplier
    // order where NO other supplier was that late. Lateness is a pure
    // timestamp-interval comparison (no receipt/commit dates in the
    // fixture).
    Query("tpch_q21", (s, dir) => {
      val late = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val anyLine = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("_ok2"), col("l_suppkey").as("_sk2"))
      val otherLate = late.select(col("l_orderkey").as("_ok3"), col("l_suppkey").as("_sk3"))
      late
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation").where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(anyLine, col("l_orderkey") === col("_ok2") && col("l_suppkey") =!= col("_sk2"),
          "left_semi")
        .join(otherLate, col("l_orderkey") === col("_ok3") && col("l_suppkey") =!= col("_sk3"),
          "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      oracle = """WITH late AS (
        |   SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders
        |     ON l_orderkey = o_orderkey
        |   WHERE o_orderstatus = 'F'
        |     AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        | SELECT s_name, count(*) AS numwait
        | FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |              JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_3'
        |   AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        |               AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey
        |                   AND l3.l_suppkey <> l1.l_suppkey)
        | GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " ")),

    // TPC-H Q17-style correlated-average subquery, decorrelated the way
    // Catalyst's plan should read at scale: filter lineitem by the tiny
    // brand part set (broadcast), derive the per-part quantity average
    // from the FILTERED rows (the correlation is on a part attribute, so
    // the filtered set contains every row of each surviving part), and
    // compare in cross-multiplied integer arithmetic
    // (5·qty_cents·cnt < sum_qty_cents  ⇔  qty < 0.2·avg) — no float
    // division on either engine.
    Query("tpch_q17_style", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"),
        col("l_extendedprice").cast("decimal(20,6)").as("price"))
      val pk = t(s, dir, "part").where(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
      val liF = graft.ops.Iterate.materialize(
        li.join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .select("l_partkey", "qc", "price")).df
      val perPart = liF.groupBy("l_partkey")
        .agg(sum("qc").as("sumq"), count(lit(1)).as("cnt"))
      liF.join(perPart, "l_partkey")
        .where(lit(5L) * col("qc") * col("cnt") < col("sumq"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(round(coalesce(sum(price), 0) * 100) AS BIGINT)").as("sum_cents"))
    },
      oracle = """WITH li AS (SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |              CAST(l_extendedprice AS DECIMAL(20,6)) AS price FROM lineitem),
        | pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
        | lif AS (SELECT li.l_partkey, li.qc, li.price FROM li JOIN pk ON l_partkey = p_partkey),
        | pp AS (SELECT l_partkey, sum(qc) AS sumq, count(*) AS cnt FROM lif GROUP BY 1)
        | SELECT count(*) AS n_rows,
        |   CAST(round(coalesce(sum(price), 0) * 100) AS BIGINT) AS sum_cents
        | FROM lif JOIN pp USING (l_partkey) WHERE 5 * qc * cnt < sumq
        | ORDER BY n_rows""".stripMargin.replace("\n", " ")),

    // TPC-H Q22-style "global sales opportunity": per nation, customers
    // whose balance is strictly above their nation's positive-balance
    // average AND who are LAPSED (no order since 2000-01-01 — the
    // fixture has no order-less customers, so the recency predicate
    // keeps Q22's anti-join shape non-vacuous). The scalar correlated
    // average decorrelates into one per-nation aggregate (broadcast —
    // O(nations) rows at any scale); the date filter pushes into the
    // orders scan ahead of the anti-join; the comparison is
    // cross-multiplied integer cents (bal·cnt > sum), no float division.
    Query("tpch_q22_style", (s, dir) => {
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey").as("nation"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val avgPos = cust.where(col("cents") > 0L)
        .groupBy("nation")
        .agg(sum("cents").as("sum_pos"), count(lit(1)).as("n_pos"))
      val recent = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.join(broadcast(avgPos), Seq("nation"))
        .where(col("cents") * col("n_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("nation")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("total_cents"))
        .orderBy("nation")
    },
      oracle = """WITH cust AS (SELECT c_custkey, c_nationkey AS nation,
        |                CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        | avgpos AS (SELECT nation, sum(cents) AS sum_pos, count(*) AS n_pos
        |            FROM cust WHERE cents > 0 GROUP BY nation)
        | SELECT nation, count(*) AS n_cust, sum(cents)::BIGINT AS total_cents
        | FROM cust JOIN avgpos USING (nation)
        | WHERE cents * n_pos > sum_pos
        |   AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cust.c_custkey
        |                   AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        | GROUP BY nation ORDER BY nation""".stripMargin.replace("\n", " "))
  )
}

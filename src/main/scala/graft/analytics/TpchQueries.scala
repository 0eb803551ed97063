package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** General analytical capability over the driver's TPC-H-style tables —
  * the queries external engines run against warehouse tables, shaped the
  * way a 100 TB deployment wants them:
  *
  *  - money/quantity aggregates in DECIMAL (exact, order-independent —
  *    double sums would be nondeterministic under parallel aggregation),
  *    emitted as scaled BIGINTs so results are hash-stable everywhere
  *  - BOUNDED dimension chains (region→nation, the nation-filtered
  *    supplier chain) carry explicit broadcast hints; customer and orders
  *    GROW with scale factor, so their join strategy is left to
  *    statistics/AQE — at test scale they auto-broadcast under the
  *    threshold, at 100 TB they shuffle, both correct
  *  - group-by aggregates with partial (map-side) aggregation, one shuffle
  */
object TpchQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.ParquetTables.read(s, s"$dir/$name.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: pricing summary over lineitem
    "tpch_q1_pricing" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(col("l_quantity").cast("decimal(18,3)")) * 1000).cast("long").as("sum_qty_milli"),
          (sum(col("l_extendedprice").cast("decimal(18,3)")) * 1000).cast("long").as("sum_base_milli"),
          (sum((col("l_extendedprice").cast("decimal(18,3)") *
                (lit(java.math.BigDecimal.ONE).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)")))) * 1000000)
            .cast("long").as("sum_disc_price_micro"),
          count(lit(1)).as("count_order")
        )
    },
    // TPC-H Q3 shape: shipping priority — top-10 over a two-fact join.
    // No forced hints: orders⋈customer is fact-sized at warehouse scale,
    // so strategy is left to statistics/AQE (auto-broadcast at test SF,
    // shuffle join at 100 TB).
    "tpch_q3_shipping" -> { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord  = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li   = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(
          (sum(col("l_extendedprice").cast("decimal(18,3)") *
               (lit(java.math.BigDecimal.ONE).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)"))) * 1000000)
            .cast("long").as("revenue_micro")
        )
        .orderBy(col("revenue_micro").desc, col("o_orderkey"))
        .limit(10)
        .select(
          col("o_orderkey"),
          // parquet TIMESTAMP here is NTZ; pin to UTC millis like the oracle
          unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC")).as("o_orderdate_ms"),
          col("revenue_micro"))
    },
    // TPC-H Q5 shape: local supplier volume — a 6-way join where the
    // bounded region→nation→supplier chain broadcasts and the fact joins
    // (lineitem⋈orders⋈customer) are left to statistics/AQE
    "tpch_q5_local_supplier" -> { (s, dir) =>
      val nations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val supp = t(s, dir, "supplier")
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li  = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
                                             col("l_extendedprice"), col("l_discount"))
      li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        // customer grows with SF: no hint, statistics/AQE choose
        .join(cust, col("o_custkey") === col("c_custkey") &&
                    col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          (sum(col("l_extendedprice").cast("decimal(18,3)") *
               (lit(java.math.BigDecimal.ONE).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)"))) * 1000000)
            .cast("long").as("revenue_micro"))
    },
    // TPC-H Q10 shape: returned-item reporting — who returned the most
    // revenue in a quarter. The fact join shuffles once on orderkey; only
    // the bounded nation dim is hinted; top-20 via a total-order limit.
    "tpch_q10_returns" -> { (s, dir) =>
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat  = t(s, dir, "nation").select("n_nationkey", "n_name")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        // customer grows with SF: no hint; nation is genuinely bounded (25)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
                 (col("c_acctbal").cast("decimal(18,3)") * 1000).cast("long").as("acctbal_milli"),
                 col("n_name"))
        .agg(
          (sum(col("l_extendedprice").cast("decimal(18,3)") *
               (lit(java.math.BigDecimal.ONE).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)"))) * 1000000)
            .cast("long").as("revenue_micro"))
        .orderBy(col("revenue_micro").desc, col("c_custkey"))
        .limit(20)
    },
    // TPC-H Q4 shape: order-priority checking — the EXISTS/semi-join
    // query. Adapted to the driver schema (no commit/receipt dates): an
    // order qualifies if at least one of its lines was returned. The
    // left-semi join never duplicates the orders side (no post-join
    // distinct), and the group-by key is bounded (5 priorities).
    "tpch_q4_priority" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select("o_orderkey", "o_orderpriority")
      val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R").select("l_orderkey")
      ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
    // TPC-H Q14 shape: promotion effect — CASE-split aggregate over the
    // lineitem⋈part join. The promo share is emitted as two exact scaled
    // DECIMAL sums (promo, total) instead of a double ratio; consumers
    // divide client-side. part grows with SF: join strategy left to
    // statistics/AQE, same policy as orders/customer.
    "tpch_q14_promo" -> { (s, dir) =>
      val one = lit(java.math.BigDecimal.ONE).cast("decimal(18,3)")
      val disc = col("l_extendedprice").cast("decimal(18,3)") *
        (one - col("l_discount").cast("decimal(18,3)"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      li.join(t(s, dir, "part").select("p_partkey", "p_type"),
              col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO", disc)
                 .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,3)"))) * 1000000)
            .cast("long").as("promo_revenue_micro"),
          (sum(disc) * 1000000).cast("long").as("total_revenue_micro"),
          count(lit(1)).as("n_items"))
    },
    // TPC-H Q7 shape: volume shipping between two nations — both
    // dimension chains resolve to nation names via broadcast (nation is
    // bounded; the nation-filtered supplier chain broadcasts like Q5),
    // the disjunctive nation-pair predicate runs before the bounded
    // (nation, nation, year) group-by, and lineitem⋈orders⋈customer stay
    // the only fact-sized joins (strategy left to statistics/AQE).
    "tpch_q7_volume" -> { (s, dir) =>
      val (na, nb) = ("NATION_1", "NATION_2")
      val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
                .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
              col("s_nationkey") === col("s_nk"))
        .filter(col("supp_nation").isin(na, nb))
        .select("s_suppkey", "supp_nation")
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")
                .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))),
              col("c_nationkey") === col("c_nk"))
        .filter(col("cust_nation").isin(na, nb))
        .select("c_custkey", "cust_nation")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
              col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
                (col("supp_nation") === nb && col("cust_nation") === na))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(
          (sum(col("l_extendedprice").cast("decimal(18,3)") *
               (lit(java.math.BigDecimal.ONE).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)"))) * 1000000)
            .cast("long").as("revenue_micro"))
    },
    // TPC-H Q18 shape: large-volume customers — aggregate-then-join with
    // a HAVING gate. The lineitem group-by reduces the fact table BEFORE
    // any join (one shuffle on l_orderkey); only the rare qualifying
    // orders reach the orders/customer joins, so the join input is tiny
    // at any SF. Quantities and prices as exact scaled DECIMAL longs.
    "tpch_q18_large_orders" -> { (s, dir) =>
      val bigOrders = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg((sum(col("l_quantity").cast("decimal(18,3)")) * 1000).cast("long").as("sum_qty_milli"))
        .filter(col("sum_qty_milli") > 300L * 1000)
      bigOrders
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
              col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_name"),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC")).as("o_orderdate_ms"),
          (col("o_totalprice").cast("decimal(18,3)") * 1000).cast("long").as("totalprice_milli"),
          col("sum_qty_milli"))
        .orderBy(col("totalprice_milli").desc, col("o_orderkey"))
        .limit(100)
    },
    // TPC-H Q6 shape: forecasting revenue change — the pure scan+filter+agg
    // query. No join, no shuffle beyond the final partial-agg merge; the
    // three predicates and both projected columns push into the parquet scan.
    "tpch_q6_revenue" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          (sum(col("l_extendedprice").cast("decimal(18,3)") * col("l_discount").cast("decimal(18,3)")) * 1000000)
            .cast("long").as("revenue_micro"),
          count(lit(1)).as("n_items"))
    }
  )

  def oracles: Map[String, String] = Map(
    "tpch_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) * 1000 AS BIGINT) AS sum_qty_milli,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3))) * 1000 AS BIGINT) AS sum_base_milli,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))) * 1000000 AS BIGINT) AS sum_disc_price_micro,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "tpch_q3_shipping" ->
      """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2
        |ORDER BY revenue_micro DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "tpch_q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,
    "tpch_q10_returns" ->
      """SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,3)) * 1000 AS BIGINT) AS acctbal_milli,
        |  n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_micro DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "tpch_q4_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,
    "tpch_q14_promo" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))
        |           ELSE CAST(0 AS DECIMAL(18,3)) END) * 1000000 AS BIGINT) AS promo_revenue_micro,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))) * 1000000 AS BIGINT) AS total_revenue_micro,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00' AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin,
    "tpch_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3)))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,
    "tpch_q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) * 1000 AS BIGINT) AS sum_qty_milli
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) * 1000 AS BIGINT) > 300000
        |)
        |SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,3)) * 1000 AS BIGINT) AS totalprice_milli,
        |  sum_qty_milli
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY totalprice_milli DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "tpch_q6_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) * 1000000 AS BIGINT) AS revenue_micro,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin
  )
}

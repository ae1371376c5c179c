package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.Tables
import Q.QueryFn

/** Join-heavy headline queries (TPC-H q3/q5-shaped) — beyond the
  * reference's no-join surface, these exercise the engine's join planning
  * at scale: dimension tables are broadcast (customer/nation/region/
  * supplier are orders-of-magnitude smaller than lineitem), the big
  * fact-fact join (orders x lineitem) shuffles on the join key once, and
  * filters reach the parquet scans.
  */
object JoinQueries {

  /** Per-JVM namespace for q16's bucketed table names: cleanup only ever
    * touches THIS session's previous copies, so a concurrent gate run in
    * another JVM (different tag) never has its freshly written tables
    * dropped mid-query. */
  private val q16SessionTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  val queries: Map[String, QueryFn] = Map(
    "q3_shipping_priority" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(Q.money("l_extendedprice") * (lit(1) - Q.money("l_discount"))), 2)
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    "q5_local_supplier_volume" -> ((s, dir) => {
      // revenue per nation: lineitem ⋈ orders ⋈ supplier ⋈ nation, with
      // the supplier and customer nation required to match (TPC-H q5 uses
      // customer-supplier nation equality; testdata has no c/s address
      // regions so the shape is supplier-nation revenue by order year)
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val sup = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(Q.money("l_extendedprice") * (lit(1) - Q.money("l_discount"))), 2)
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q13_semi_join" -> ((s, dir) => {
      // EXISTS surface (TPC-H q4 shape on this schema): orders with at
      // least one returned lineitem, counted per priority. LEFT SEMI
      // emits each order once however many lineitems match — one
      // shuffle on the order key, no fact-fact row blowup
      val ord = Tables.orders(s, dir)
      val returned = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      ord.join(returned, ord("o_orderkey") === returned("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    }),

    "q14_anti_join" -> ((s, dir) => {
      // NOT EXISTS surface: dormant customers — no order since
      // 2001-01-01 — per market segment. LEFT ANTI against the
      // date-filtered orders key set (the filter reaches the parquet
      // scan); the complement of q13's semi-join under the same
      // single-shuffle plan shape
      val cust = Tables.customer(s, dir)
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      cust.join(recent, cust("c_custkey") === recent("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
    }),

    "q16_bucketed_join" -> ((s, dir) => {
      // the co-located-join story exercised end to end in the driver
      // gate: both fact tables written bucketed by the join key, then a
      // join that plans with NO shuffle exchange on either side
      // (BucketingSpec pins the plan; this query oracles the content).
      // session-namespaced table names keep concurrent runs from
      // colliding; cleanup drops only THIS session's previous copies
      // (wildcard-dropping all q16_* would delete a concurrent gate
      // run's freshly written tables mid-query)
      val pre = s"q16_${q16SessionTag}_"
      s.catalog.listTables().collect().map(_.name)
        .filter(t => t.startsWith(s"orders_$pre") || t.startsWith(s"lineitem_$pre"))
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val (to, tl) = (s"orders_$pre$tag", s"lineitem_$pre$tag")
      graft.io.Bucketing.writeBucketed(Tables.orders(s, dir), to, "o_orderkey", 8)
      graft.io.Bucketing.writeBucketed(Tables.lineitem(s, dir), tl, "l_orderkey", 8)
      graft.io.Bucketing.table(s, tl)
        .join(graft.io.Bucketing.table(s, to),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    }),

    "q15_correlated_subquery" -> ((s, dir) => {
      // correlated-scalar-subquery surface: orders priced above their
      // customer's average order value, counted per status. Decorrelated
      // as a per-customer aggregate + equi-join (what Catalyst does to
      // the SQL form); the oracle keeps the correlated spelling. The
      // "above average" test is cross-multiplied in DECIMAL (price * n
      // > sum) — division-free and order-exact on both engines (the q9
      // rule: float aggregation depends on partition order, and avg()
      // is a float in some engines even over decimals).
      val ord = Tables.orders(s, dir)
      val byCust = ord.groupBy(col("o_custkey").as("__ck"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("__sum"),
          count(lit(1)).as("__n"))
      ord.join(byCust, col("o_custkey") === col("__ck"))
        .filter(col("o_totalprice").cast("decimal(18,4)") * col("__n") > col("__sum"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_above_avg"))
    }),

    "q7_range_join" -> ((s, dir) => {
      // view -> purchase by the same user within 1 hour: the bucketed
      // range join (no per-user cartesian); exact-microsecond oracle
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val buys = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.ops.RangeJoin.within(views, buys, "user_id", "ts", gapSec = 3600)
        .select(col("l_event_id").as("view_id"), col("r_event_id").as("purchase_id"))
    }),

    "q8_asof_join" -> ((s, dir) => {
      // each purchase matched to the user's LATEST error at-or-before it
      // (left-join semantics) — verified against DuckDB's native ASOF JOIN
      val ev = Tables.events(s, dir)
      val buys = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val errs = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      graft.ops.RangeJoin.asOf(buys, errs, "user_id", "ts")
        .select(col("l_event_id").as("purchase_id"),
          col("r_event_id").as("error_id"))
    }))

  val oracles: Map[String, String] = Map(
    "q3_shipping_priority" -> s"""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(round(sum(${Q.moneySql("l_extendedprice")}
                 * (1 - ${Q.moneySql("l_discount")})), 2) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l_orderkey ASC
      LIMIT 10""",

    "q5_local_supplier_volume" -> s"""
      SELECT n_name, year(o_orderdate) AS o_year,
             CAST(round(sum(${Q.moneySql("l_extendedprice")}
                 * (1 - ${Q.moneySql("l_discount")})), 2) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2""",

    "q13_semi_join" -> """
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      GROUP BY o_orderpriority""",

    "q14_anti_join" -> """
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY c_mktsegment""",

    "q16_bucketed_join" -> """
      SELECT o_orderpriority, count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o_orderpriority""",

    "q15_correlated_subquery" -> """
      SELECT o_orderstatus, count(*) AS n_above_avg
      FROM orders o
      WHERE CAST(o_totalprice AS DECIMAL(18,4)) *
            (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
            (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders i
             WHERE i.o_custkey = o.o_custkey)
      GROUP BY o_orderstatus""",

    "q7_range_join" -> """
      SELECT a.event_id AS view_id, b.event_id AS purchase_id
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'view' AND b.event_type = 'purchase'
       AND epoch_us(b.ts) >= epoch_us(a.ts)
       AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000""",

    // microsecond-truncated timestamps on both sides (the engine compares
    // unix_micros; the raw parquet carries nanoseconds)
    "q8_asof_join" -> """
      WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tus
                 FROM events WHERE event_type = 'purchase'),
      r AS (SELECT event_id, user_id, epoch_us(ts) AS tus
            FROM events WHERE event_type = 'error')
      SELECT l.event_id AS purchase_id, r.event_id AS error_id
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.tus >= r.tus""")
}

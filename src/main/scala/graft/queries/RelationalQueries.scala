package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Tables
import graft.ops.Relational._
import Q.QueryFn

/** Driver-checked queries for the relational core (SURVEY §2.2 + §2.3).
  * Each query exercises one inventory operator on the star-schema tables;
  * the oracle is the equivalent DuckDB SQL.
  */
object RelationalQueries {

  val queries: Map[String, QueryFn] = Map(
    "q1_pricing_summary" -> ((s, dir) => {
      // exact decimal sums (Q.money); an average is the decimal sum over
      // the count, exact to 15 places before the round to 4
      def total(e: Column) = round(sum(e), 2).cast(DoubleType)
      def mean(c: String) = round(sum(Q.money(c)) / count(c), 4).cast(DoubleType)
      val disc = Q.money("l_extendedprice") * (lit(1) - Q.money("l_discount"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          total(Q.money("l_quantity")).as("sum_qty"),
          total(Q.money("l_extendedprice")).as("sum_base_price"),
          total(disc).as("sum_disc_price"),
          total(disc * (lit(1) + Q.money("l_tax"))).as("sum_charge"),
          mean("l_quantity").as("avg_qty"),
          mean("l_extendedprice").as("avg_price"),
          mean("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    "p1_drop_column" -> ((s, dir) =>
      DropColumns("l_comment_none", "l_tax", "l_discount", "l_extendedprice",
        "l_shipdate", "l_returnflag", "l_linestatus", "l_suppkey", "l_partkey")(
        Tables.lineitem(s, dir))),

    "p2_numeric_projection" -> ((s, dir) =>
      NumericProjection()(Tables.lineitem(s, dir))),

    "p3_range_filter" -> ((s, dir) =>
      RangeFilter("l_quantity", Some(10), Some(20))(Tables.lineitem(s, dir))
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    "p4_in_filter" -> ((s, dir) =>
      InFilter("o_orderpriority", Seq("1-URGENT", "2-HIGH"))(Tables.orders(s, dir))
        .select("o_orderkey", "o_orderpriority")),

    "p5_null_partition" -> ((s, dir) => {
      val df = Q.lineitemWithNulls(s, dir)
      val (nn, isn) = nullPartition(df, "l_quantity")
      nn.select(lit("notnull").as("bucket")).unionAll(isn.select(lit("null").as("bucket")))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }),

    "p6_drop_null_rows" -> ((s, dir) =>
      DropNullRows("l_quantity")(Q.lineitemWithNulls(s, dir))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))),

    "p7_merge_interval" -> ((s, dir) =>
      valueCounts(MergeInterval("l_quantity", 1, 5, 1)(Tables.lineitem(s, dir)), "l_quantity")),

    "p8_align_columns" -> ((s, dir) =>
      AlignColumns(Seq("c_name", "c_custkey", "c_mktsegment"))(Tables.customer(s, dir))),

    "p9_align_types" -> ((s, dir) => {
      val withStr = Tables.customer(s, dir)
        .withColumn("c_code",
          when(col("c_custkey") % 10 === 0, lit("N/A"))
            .otherwise(col("c_custkey").cast("string")))
      AlignTypes(Map(
        "c_nationkey" -> LongType,     // widen int -> bigint
        "c_custkey" -> DoubleType,     // bigint -> double
        "c_code" -> DoubleType         // string -> double, coerce bad to null
      ))(withStr).select("c_custkey", "c_nationkey", "c_code")
    }),

    "p10_trim_headers" -> ((s, dir) =>
      TrimHeaders(Tables.region(s, dir).toDF("  r_regionkey", "r_name  "))),

    "a1_value_counts" -> ((s, dir) =>
      valueCounts(Tables.lineitem(s, dir), "l_returnflag")),

    "a2_rare_values" -> ((s, dir) =>
      rareValues(Tables.part(s, dir), "p_size", maxCount = 45, lo = Some(1), hi = Some(25))),

    "a3_freq_table" -> ((s, dir) =>
      freqTable(Tables.orders(s, dir), "o_orderpriority")
        .select(col("o_orderpriority"), col("count"), round(col("freq"), 6).as("freq"))),

    "a4_group_mean" -> ((s, dir) =>
      groupMean(Tables.orders(s, dir), "o_orderpriority", "o_totalprice")
        .select(col("o_orderpriority"), round(col("mean_target"), 4).as("mean_target"))),

    "a5_missing_profile" -> ((s, dir) =>
      missingProfile(Q.lineitemWithNulls(s, dir).select("l_orderkey", "l_quantity", "l_returnflag"))
        .select(col("column"), col("null_count"), round(col("null_pct"), 4).as("null_pct"))),

    "a6_distinct_stats" -> ((s, dir) =>
      Tables.lineitem(s, dir).agg(
        count_distinct(col("l_returnflag")).as("d_returnflag"),
        count_distinct(col("l_linestatus")).as("d_linestatus"),
        count_distinct(col("l_partkey")).as("d_partkey"))),

    "a7_column_stats" -> ((s, dir) =>
      columnStats(Tables.lineitem(s, dir), Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("column"), round(col("mean"), 4).as("mean"),
          round(col("median"), 4).as("median"), round(col("min"), 4).as("min"),
          round(col("max"), 4).as("max"), round(col("std"), 6).as("std"))),

    "a8_corr_matrix" -> ((s, dir) =>
      corrMatrix(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col1"), col("col2"), round(col("corr"), 6).as("corr"))),

    "a9_histogram" -> ((s, dir) =>
      histogram(Tables.lineitem(s, dir), "l_quantity", lo = 0, hi = 50, bins = 10)),

    "a10_grouped_counts" -> ((s, dir) =>
      groupedCounts(Tables.lineitem(s, dir), "l_returnflag", "l_linestatus")),

    "a11_class_summary" -> ((s, dir) =>
      classSummary(Tables.part(s, dir), "p_brand")),

    "a12_dedup" -> ((s, dir) =>
      dedupKeepFirst(Tables.orders(s, dir), Seq("o_orderstatus", "o_orderpriority"), "o_orderkey")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")),

    "a13_skew_report" -> ((s, dir) =>
      // pre-shuffle diagnostic: the 20 hottest user_id keys with share
      // and skew factor (count / mean-rows-per-key)
      skewReport(Tables.events(s, dir), "user_id", topK = 20)),

    "a16_pivot" -> ((s, dir) =>
      // cross-tabulation via the pivot surface: status x priority
      // counts as columns. Explicit pivot values pin the schema AND
      // skip the values-discovery scan — one aggregate pass total.
      // na.fill(0): Spark's pivot-count leaves an absent (status,
      // priority) cell NULL where the oracle's count FILTER says 0 —
      // the cross-tab contract is 0-for-empty
      Tables.orders(s, dir).groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0)
        .toDF("o_orderstatus", "urgent", "high", "medium",
          "not_specified", "low")),

    "a19_quality_audit" -> ((s, dir) =>
      // Deequ-style declarative data-quality audit (r6): five
      // constraints verified in ONE aggregate scan over the nullified
      // lineitem (planted l_quantity nulls make completeness
      // non-trivial); each metric a ratio of two long counts
      graft.ops.Audit.auditReport(Q.lineitemWithNulls(s, dir), Seq(
        graft.ops.Audit.Complete("l_quantity", atLeast = 0.8),
        graft.ops.Audit.Complete("l_orderkey"),
        graft.ops.Audit.Unique("l_orderkey", atLeast = 0.9),
        graft.ops.Audit.InRange("l_quantity", 1, 50, atLeast = 0.8),
        graft.ops.Audit.InSet("l_returnflag", Seq("A", "N", "R"))))),

    "a15_group_mode" -> ((s, dir) =>
      // most frequent order priority per status, ties to the smallest
      // value — the I3 mode contract per group, aggregate-only
      groupMode(Tables.orders(s, dir), "o_orderstatus", "o_orderpriority")),

    "a14_winsorize" -> ((s, dir) => {
      // exact-percentile clipping of the tail-heavy price column; the
      // summary row proves bounds, clipped extremes, and tail counts
      val li = Tables.lineitem(s, dir).withColumn("__orig", col("l_extendedprice"))
      val (lo, hi) = winsorizeBounds(li, "l_extendedprice", 5, 95)
      winsorizeWith(li, "l_extendedprice", lo, hi).agg(
          round(min("l_extendedprice"), 6).as("min_after"),
          round(max("l_extendedprice"), 6).as("max_after"),
          count(when(col("__orig") < lo, 1)).as("n_below"),
          count(when(col("__orig") > hi, 1)).as("n_above"),
          count(lit(1)).as("n"))
        .withColumn("lo_bound", round(lit(lo), 6))
        .withColumn("hi_bound", round(lit(hi), 6))
    }),

    "a14b_sketch_winsorize" -> ((s, dir) =>
      // sketch-backed winsorization (r11): a14's 100 TB path — clip
      // bounds from ONE kll_quantiles aggregate instead of the exact
      // rank sort; the a46 rank-interval audit at p5/p95 plus the clip
      // proof (no row lost, clipped column inside [lo_est, hi_est])
      graft.ops.Quantiles.sketchWinsorizeAudit(Tables.lineitem(s, dir),
        "l_extendedprice", pLo = 0.05, pHi = 0.95, sketchK = 64)))

  val oracles: Map[String, String] = Map(
    // a19: one aggregate CTE feeds one row per constraint; "constraint"
    // is reserved in DuckDB, hence the quoted alias. passed replays the
    // engine's `metric >= atLeast - 1e-12` double compare verbatim.
    "a19_quality_audit" -> """
      WITH m AS (
        SELECT count(*) AS n_total,
               count(CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END) AS c_qty,
               count(l_orderkey) AS c_ok,
               count(DISTINCT l_orderkey) AS d_ok,
               count(CASE WHEN (CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END)
                          BETWEEN 1 AND 50 THEN 1 END) AS r_qty,
               count(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 END) AS s_flag
        FROM lineitem)
      SELECT 'complete(l_quantity)' AS "constraint",
             round(CAST(c_qty AS DOUBLE) / CAST(n_total AS DOUBLE), 9) AS metric,
             CAST(c_qty AS DOUBLE) / CAST(n_total AS DOUBLE) >= 0.8 - 1e-12 AS passed
      FROM m
      UNION ALL
      SELECT 'complete(l_orderkey)',
             round(CAST(c_ok AS DOUBLE) / CAST(n_total AS DOUBLE), 9),
             CAST(c_ok AS DOUBLE) / CAST(n_total AS DOUBLE) >= 1.0 - 1e-12
      FROM m
      UNION ALL
      SELECT 'unique(l_orderkey)',
             round(CAST(d_ok AS DOUBLE) / CAST(c_ok AS DOUBLE), 9),
             CAST(d_ok AS DOUBLE) / CAST(c_ok AS DOUBLE) >= 0.9 - 1e-12
      FROM m
      UNION ALL
      SELECT 'in_range(l_quantity,1.0,50.0)',
             round(CAST(r_qty AS DOUBLE) / CAST(n_total AS DOUBLE), 9),
             CAST(r_qty AS DOUBLE) / CAST(n_total AS DOUBLE) >= 0.8 - 1e-12
      FROM m
      UNION ALL
      SELECT 'in_set(l_returnflag)',
             round(CAST(s_flag AS DOUBLE) / CAST(n_total AS DOUBLE), 9),
             CAST(s_flag AS DOUBLE) / CAST(n_total AS DOUBLE) >= 1.0 - 1e-12
      FROM m""",

    // Exact decimal money on both sides (Q.money). DuckDB's `/` on
    // decimals returns DOUBLE, so an average is rounded half up in
    // integers: floor((200 * cents + n) / (2 * n)) / 10^4, n non-null.
    "q1_pricing_summary" -> s"""
      WITH g AS (
        SELECT l_returnflag, l_linestatus,
               sum(${Q.moneySql("l_quantity")}) AS q,
               sum(${Q.moneySql("l_extendedprice")}) AS p,
               sum(${Q.moneySql("l_discount")}) AS d,
               sum(${Q.moneySql("l_extendedprice")} * (1 - ${Q.moneySql("l_discount")})) AS dp,
               sum(${Q.moneySql("l_extendedprice")} * (1 - ${Q.moneySql("l_discount")})
                   * (1 + ${Q.moneySql("l_tax")})) AS ch,
               count(l_quantity) AS nq, count(l_extendedprice) AS np,
               count(l_discount) AS nd, count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus)
      SELECT l_returnflag, l_linestatus,
             CAST(round(q, 2) AS DOUBLE) AS sum_qty,
             CAST(round(p, 2) AS DOUBLE) AS sum_base_price,
             CAST(round(dp, 2) AS DOUBLE) AS sum_disc_price,
             CAST(round(ch, 2) AS DOUBLE) AS sum_charge,
             CAST((CAST(q * 100 AS HUGEINT) * 200 + nq) // (2 * nq) AS DOUBLE) / 10000 AS avg_qty,
             CAST((CAST(p * 100 AS HUGEINT) * 200 + np) // (2 * np) AS DOUBLE) / 10000 AS avg_price,
             CAST((CAST(d * 100 AS HUGEINT) * 200 + nd) // (2 * nd) AS DOUBLE) / 10000 AS avg_disc,
             n AS count_order
      FROM g""",

    "p1_drop_column" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",

    "p2_numeric_projection" -> """
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax FROM lineitem""",

    "p3_range_filter" -> """
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      WHERE l_quantity BETWEEN 10 AND 20""",

    "p4_in_filter" -> """
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""",

    "p5_null_partition" -> s"""
      SELECT CASE WHEN ${Q.NullifiedQtySql} IS NULL THEN 'null' ELSE 'notnull' END AS bucket,
             count(*) AS n
      FROM lineitem GROUP BY 1""",

    "p6_drop_null_rows" -> s"""
      SELECT l_returnflag, count(*) AS n FROM lineitem
      WHERE ${Q.NullifiedQtySql} IS NOT NULL
      GROUP BY l_returnflag""",

    "p7_merge_interval" -> """
      SELECT CASE WHEN l_quantity BETWEEN 1 AND 5 THEN 1 ELSE l_quantity END AS l_quantity,
             count(*) AS count
      FROM lineitem GROUP BY 1""",

    "p8_align_columns" ->
      "SELECT c_name, c_custkey, c_mktsegment FROM customer",

    "p9_align_types" -> """
      SELECT CAST(c_custkey AS DOUBLE) AS c_custkey,
             CAST(c_nationkey AS BIGINT) AS c_nationkey,
             try_cast(CASE WHEN c_custkey % 10 = 0 THEN 'N/A'
                           ELSE CAST(c_custkey AS VARCHAR) END AS DOUBLE) AS c_code
      FROM customer""",

    "p10_trim_headers" ->
      "SELECT r_regionkey, r_name FROM region",

    "a1_value_counts" ->
      "SELECT l_returnflag, count(*) AS count FROM lineitem GROUP BY 1",

    "a2_rare_values" -> """
      SELECT p_size, count(*) AS count FROM part
      WHERE p_size BETWEEN 1 AND 25
      GROUP BY 1 HAVING count(*) <= 45""",

    "a3_freq_table" -> """
      SELECT o_orderpriority, count(*) AS count,
             round(count(*) / (SELECT count(*) FROM orders), 6) AS freq
      FROM orders GROUP BY 1""",

    "a4_group_mean" -> """
      SELECT o_orderpriority, round(avg(o_totalprice), 4) AS mean_target
      FROM orders GROUP BY 1""",

    "a5_missing_profile" -> s"""
      WITH t AS (SELECT l_orderkey, ${Q.NullifiedQtySql} AS l_quantity, l_returnflag FROM lineitem),
      n AS (SELECT count(*) AS n_rows FROM t)
      SELECT 'l_orderkey' AS "column",
             (SELECT count(*) FROM t WHERE l_orderkey IS NULL) AS null_count,
             round((SELECT count(*) FROM t WHERE l_orderkey IS NULL) * 100.0 / n.n_rows, 4) AS null_pct FROM n
      UNION ALL
      SELECT 'l_quantity',
             (SELECT count(*) FROM t WHERE l_quantity IS NULL),
             round((SELECT count(*) FROM t WHERE l_quantity IS NULL) * 100.0 / n.n_rows, 4) FROM n
      UNION ALL
      SELECT 'l_returnflag',
             (SELECT count(*) FROM t WHERE l_returnflag IS NULL),
             round((SELECT count(*) FROM t WHERE l_returnflag IS NULL) * 100.0 / n.n_rows, 4) FROM n""",

    "a6_distinct_stats" -> """
      SELECT count(DISTINCT l_returnflag) AS d_returnflag,
             count(DISTINCT l_linestatus) AS d_linestatus,
             count(DISTINCT l_partkey) AS d_partkey
      FROM lineitem""",

    "a7_column_stats" -> """
      SELECT 'l_quantity' AS "column", round(avg(l_quantity), 4) AS mean,
             round(CAST(median(l_quantity) AS DOUBLE), 4) AS median,
             round(CAST(min(l_quantity) AS DOUBLE), 4) AS min,
             round(CAST(max(l_quantity) AS DOUBLE), 4) AS max,
             round(stddev(l_quantity), 6) AS std FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', round(avg(l_extendedprice), 4),
             round(CAST(median(l_extendedprice) AS DOUBLE), 4),
             round(CAST(min(l_extendedprice) AS DOUBLE), 4),
             round(CAST(max(l_extendedprice) AS DOUBLE), 4),
             round(stddev(l_extendedprice), 6) FROM lineitem
      UNION ALL
      SELECT 'l_discount', round(avg(l_discount), 4),
             round(CAST(median(l_discount) AS DOUBLE), 4),
             round(CAST(min(l_discount) AS DOUBLE), 4),
             round(CAST(max(l_discount) AS DOUBLE), 4),
             round(stddev(l_discount), 6) FROM lineitem""",

    "a8_corr_matrix" -> """
      SELECT 'l_quantity' AS col1, 'l_extendedprice' AS col2, round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
      UNION ALL SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 6) FROM lineitem
      UNION ALL SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax), 6) FROM lineitem
      UNION ALL SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 6) FROM lineitem
      UNION ALL SELECT 'l_extendedprice', 'l_tax', round(corr(l_extendedprice, l_tax), 6) FROM lineitem
      UNION ALL SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax), 6) FROM lineitem""",

    "a9_histogram" -> """
      SELECT CAST(least(greatest(floor(l_quantity / 5.0), 0), 9) AS BIGINT) AS bucket,
             count(*) AS count
      FROM lineitem WHERE l_quantity IS NOT NULL
      GROUP BY 1""",

    "a10_grouped_counts" -> """
      SELECT l_returnflag, l_linestatus, count(*) AS count
      FROM lineitem GROUP BY 1, 2""",

    "a11_class_summary" -> """
      (SELECT p_brand, count(*) AS count FROM part GROUP BY 1
       ORDER BY count DESC, p_brand ASC LIMIT 10)
      UNION
      (SELECT p_brand, count(*) AS count FROM part GROUP BY 1
       ORDER BY count ASC, p_brand ASC LIMIT 2)""",

    "a12_dedup" -> """
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY o_orderkey) = 1""",

    // top-20 ties break on the key so the LIMIT selection is stable
    "a13_skew_report" -> """
      WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
      t AS (SELECT sum(n_rows) AS t, count(*) AS k FROM c)
      SELECT user_id, n_rows,
             round(CAST(n_rows AS DOUBLE) / t, 6) AS share,
             round(CAST(n_rows AS DOUBLE) * k / t, 4) AS skew
      FROM c, t
      ORDER BY n_rows DESC, user_id
      LIMIT 20""",

    "a16_pivot" -> """
      SELECT o_orderstatus,
             count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
             count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
             count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
             count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
             count(*) FILTER (o_orderpriority = '5-LOW') AS low
      FROM orders GROUP BY o_orderstatus""",

    "a15_group_mode" -> """
      WITH cnt AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
                   FROM orders GROUP BY 1, 2)
      SELECT o_orderstatus, o_orderpriority AS mode, n FROM cnt
      QUALIFY row_number() OVER (PARTITION BY o_orderstatus
        ORDER BY n DESC, o_orderpriority) = 1""",

    // nearest-rank bounds with INTEGER rank arithmetic ((n*p + 99)//100)
    // — a float p*n can ceil differently between engines
    "a14_winsorize" -> """
      WITH v AS (SELECT l_extendedprice AS x FROM lineitem
                 WHERE l_extendedprice IS NOT NULL),
      nn AS (SELECT count(*) AS n FROM v),
      r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM v),
      b AS (SELECT
        max(CASE WHEN rk = (SELECT greatest(1, (n*5 + 99)//100) FROM nn)
                 THEN x END) AS lo,
        max(CASE WHEN rk = (SELECT greatest(1, (n*95 + 99)//100) FROM nn)
                 THEN x END) AS hi
        FROM r)
      SELECT round(greatest(least((SELECT min(x) FROM v), hi), lo), 6) AS min_after,
             round(greatest(least((SELECT max(x) FROM v), hi), lo), 6) AS max_after,
             (SELECT count(*) FROM v WHERE x < b.lo) AS n_below,
             (SELECT count(*) FROM v WHERE x > b.hi) AS n_above,
             (SELECT count(*) FROM lineitem) AS n,
             round(lo, 6) AS lo_bound, round(hi, 6) AS hi_bound
      FROM b""",

    // a14b: the a46 exact-vs-bound idiom at p5/p95 — n and the exact
    // value at rank greatest(1, ceil(p*n)) replay exactly; within_bound
    // (the rank-interval check) and clip_ok (count preserved, clipped
    // column inside [lo_est, hi_est]) are engine-verified and pinned
    "a14b_sketch_winsorize" -> """
      WITH base AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                    FROM lineitem WHERE l_extendedprice IS NOT NULL),
      nn AS (SELECT count(*) AS n FROM base),
      p AS (SELECT unnest(CAST([0.05, 0.95] AS DOUBLE[])) AS percentile),
      tgt AS (SELECT p.percentile, nn.n,
                greatest(1, CAST(ceil(p.percentile * CAST(nn.n AS DOUBLE))
                                 AS BIGINT)) AS tr
              FROM nn CROSS JOIN p),
      rk AS (SELECT x, row_number() OVER (ORDER BY x) AS r FROM base)
      SELECT tgt.percentile, CAST(tgt.n AS BIGINT) AS n,
             round(rk.x, 6) AS exact_value,
             TRUE AS within_bound, TRUE AS clip_ok
      FROM tgt JOIN rk ON rk.r = tgt.tr""")
}

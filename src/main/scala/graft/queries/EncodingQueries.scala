package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Encoding, Hashing}
import Q.QueryFn

/** Driver-checked queries for encoders (E1-E6) and hashing (H1-H6).
  * Hash oracles are exact DuckDB reproductions of the same md5/sha256
  * arithmetic; H1 (Murmur3) is engine-internal, so its full oracle
  * hashes the derived invariants (total, bucket range, bucket count).
  */
object EncodingQueries {

  private val Md5IntSql = (c: String) =>
    s"CAST(('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"
  private val Sha256IntSql = (c: String) =>
    s"CAST(('0x' || substring(sha256(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"

  val queries: Map[String, QueryFn] = Map(
    "e1_onehot" -> ((s, dir) =>
      Encoding.OneHot("o_orderpriority")(Tables.orders(s, dir))
        .select("o_orderkey", "o_orderpriority_1_URGENT", "o_orderpriority_2_HIGH",
          "o_orderpriority_3_MEDIUM", "o_orderpriority_4_NOT_SPECIFIED",
          "o_orderpriority_5_LOW")),

    "e2_label" -> ((s, dir) =>
      Encoding.LabelEncode("c_mktsegment")(Tables.customer(s, dir))
        .select("c_custkey", "c_mktsegment", "c_mktsegment_label")),

    "e3_target_encode" -> ((s, dir) =>
      Encoding.TargetEncode("o_orderpriority", "o_totalprice")(Tables.orders(s, dir))
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_orderpriority_encoded"), 4).as("o_orderpriority_encoded"))),

    "e7_smoothed_target" -> ((s, dir) =>
      // m-estimate target encoding (integer-valued quantities keep all
      // sums order-exact, so the shrunk means replay bit-for-bit)
      Encoding.SmoothedTargetEncode("l_returnflag", "l_quantity", m = 10.0)(
          Tables.lineitem(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_returnflag_encoded"), 6).as("l_returnflag_encoded"))),

    "e8_quantile_bin" -> ((s, dir) =>
      // equi-depth 8-bin discretization (r8): exact rank-based buckets
      // via the distributed global rank — never a single-partition
      // ntile; (value, orderkey, linenumber) is a total order so every
      // row's bin is deterministic
      Encoding.QuantileBin("l_extendedprice", k = 8,
          tieCols = Seq("l_orderkey", "l_linenumber"))(Tables.lineitem(s, dir))
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_extendedprice_bin")),

    "e8b_sketch_bin" -> ((s, dir) =>
      // sketch-backed equi-depth binning (r11): e8's 100 TB path —
      // edges from ONE kll_quantiles aggregate, map-only assignment,
      // no range sort; per-bin exact occupancy proven inside the
      // sketch's self-reported rank-error interval (k=64 forces real
      // compactions at every SF)
      graft.ops.Quantiles.sketchBinAudit(Tables.lineitem(s, dir),
        "l_extendedprice", k = 8, sketchK = 64)),

    "e10_ordered_target_encode" -> ((s, dir) =>
      // CatBoost-style ORDERED target encoding (r9): each row's encode
      // uses only same-category rows PRECEDING it under the seeded md5
      // permutation — exclusive per-category prefix sums from one
      // RunningTotal that restarts per category
      // tieCols include the TARGET: (orderkey, linenumber) is not
      // unique in the fixture (11k planted dup keys), and rows tying on
      // the full (key..., quantity) tuple are interchangeable — the
      // output multiset is order-invariant, so the oracle stays exact.
      // The projection keeps the operator's final tie-breaker (every
      // other input column) empty.
      Encoding.OrderedTargetEncode("l_returnflag", "l_quantity",
          m = 10.0, seed = 42L,
          tieCols = Seq("l_orderkey", "l_linenumber", "l_quantity"))(
          Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber",
            "l_returnflag", "l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_returnflag_ord_encoded"), 6)
            .as("l_returnflag_ord_encoded"))),

    "e9_oof_target_encode" -> ((s, dir) =>
      // out-of-fold target encoding (r8): each row's encoding excludes
      // its own fold's targets (the leakage-safe cross-fitting form);
      // folds = m5's rank-mod rule under the (orderkey, linenumber)
      // total order, stats from ONE (category, fold) cell aggregate
      Encoding.OofTargetEncode("l_returnflag", "l_quantity", k = 5,
          tieCols = Seq("l_orderkey", "l_linenumber"))(Tables.lineitem(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_returnflag_oof_encoded"), 6)
            .as("l_returnflag_oof_encoded"))),

    "e4_freq_encode" -> ((s, dir) =>
      Encoding.FrequencyEncode("c_mktsegment")(Tables.customer(s, dir))
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_mktsegment_freq_encoded"), 6).as("c_mktsegment_freq_encoded"))),

    "e5_binary_encode" -> ((s, dir) =>
      Encoding.BinaryEncode("c_mktsegment")(Tables.customer(s, dir))
        .select("c_custkey", "c_mktsegment", "c_mktsegment_bin_0",
          "c_mktsegment_bin_1", "c_mktsegment_bin_2")),

    "e6_date_expand" -> ((s, dir) =>
      Encoding.DateExpand("o_orderdate")(Tables.orders(s, dir))
        .select("o_orderkey", "o_orderdate_year", "o_orderdate_month",
          "o_orderdate_day", "o_orderdate_dayofweek", "o_orderdate_week",
          "o_orderdate_quarter")),

    "h1_simple_hash" -> ((s, dir) => {
      // Murmur3 buckets aren't DuckDB-reproducible; the HASHED contract
      // is the derived invariants (full oracle, r5): total preserved,
      // buckets in [0,16), and this fixed column's bucket count (Spark's
      // Murmur3 is version-stable, so 5 segments -> 4 buckets is pinned)
      val h = Hashing.SimpleHash("c_mktsegment", 16)(Tables.customer(s, dir))
      h.agg(count(lit(1)).as("total"),
        count_distinct(col("c_mktsegment_hashed")).as("n_buckets"),
        (min("c_mktsegment_hashed") >= 0 &&
          max("c_mktsegment_hashed") < 16).as("in_range"))
    }),

    "h2_feature_hash" -> ((s, dir) =>
      Hashing.FeatureHash("c_mktsegment", 64)(Tables.customer(s, dir))
        .select("c_custkey", "c_mktsegment", "c_mktsegment_hashed")),

    "h3_onehot_hash" -> ((s, dir) =>
      Hashing.OneHotHash("c_mktsegment", 64)(Tables.customer(s, dir))
        .select("c_custkey", "c_mktsegment", "c_mktsegment_hashed")),

    "h4_embedding_hash" -> ((s, dir) =>
      Hashing.EmbeddingHash("c_mktsegment", 64)(Tables.customer(s, dir))
        .select("c_custkey", "c_mktsegment", "c_mktsegment_hashed")),

    "h5_universal_hash" -> ((s, dir) =>
      Hashing.UniversalHash("c_mktsegment", 64)(Tables.customer(s, dir))
        .select("c_custkey", "c_mktsegment", "c_mktsegment_hashed")),

    "h6_countmin" -> ((s, dir) =>
      // Wide sketch (eps 1e-4 -> width 27183) over 5 distinct values:
      // estimates are collision-free, so exact counts are the oracle.
      Hashing.CountMinFreq("o_orderpriority")(Tables.orders(s, dir))
        .groupBy("o_orderpriority")
        .agg(max("o_orderpriority_cms_count").as("cms_count"),
          count(lit(1)).as("exact_count"))))

  val oracles: Map[String, String] = Map(
    "h1_simple_hash" -> """
      SELECT count(*) AS total, CAST(4 AS BIGINT) AS n_buckets,
             true AS in_range
      FROM customer""",

    "e1_onehot" -> """
      SELECT o_orderkey,
             CAST(o_orderpriority = '1-URGENT' AS INT) AS "o_orderpriority_1_URGENT",
             CAST(o_orderpriority = '2-HIGH' AS INT) AS "o_orderpriority_2_HIGH",
             CAST(o_orderpriority = '3-MEDIUM' AS INT) AS "o_orderpriority_3_MEDIUM",
             CAST(o_orderpriority = '4-NOT SPECIFIED' AS INT) AS "o_orderpriority_4_NOT_SPECIFIED",
             CAST(o_orderpriority = '5-LOW' AS INT) AS "o_orderpriority_5_LOW"
      FROM orders""",

    "e2_label" -> """
      SELECT c_custkey, c_mktsegment,
             dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS c_mktsegment_label
      FROM customer""",

    // e7: (sum + m*global)/(n + m) — the same double operations in the
    // same order on both engines
    "e7_smoothed_target" -> """
      WITH g AS (SELECT avg(l_quantity) AS gm FROM lineitem),
      d AS (SELECT l_returnflag, sum(l_quantity) AS s, count(l_quantity) AS n
            FROM lineitem GROUP BY 1)
      SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
             round((d.s + 10.0 * g.gm) / (d.n + 10.0), 6) AS l_returnflag_encoded
      FROM lineitem l JOIN d USING (l_returnflag), g""",

    // e8: rank replayed with row_number under the same total order;
    // bucket formula token-identical to the engine (and to q29's)
    "e8_quantile_bin" -> """
      WITH nn AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      n AS (SELECT count(*) AS n FROM nn),
      r AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS rn
        FROM nn)
      SELECT r.l_orderkey, r.l_linenumber, r.l_extendedprice,
             CAST(floor(((rn - 1) * 8) / n.n) + 1 AS INT)
               AS l_extendedprice_bin
      FROM r CROSS JOIN n""",

    // e8b: bin ids and the total row count are cross-engine exact;
    // within_bound is pinned to literal TRUE — the engine computes the
    // real occupancy-interval check from exact per-edge rank counts,
    // so a sketch whose bins ever violated the bound hash-mismatches
    "e8b_sketch_bin" -> """
      WITH n AS (SELECT count(*) AS n FROM lineitem
                 WHERE l_extendedprice IS NOT NULL)
      SELECT CAST(b AS INT) AS bin, n.n AS n, TRUE AS within_bound
      FROM (SELECT unnest(range(1, 9)) AS b) CROSS JOIN n""",

    // e10: the seeded md5 permutation replayed raw (the b17/t54 idiom),
    // exclusive window prefix sums equal the engine's RunningTotal-
    // minus-offset integers exactly; the encode tree token-identical
    "e10_ordered_target_encode" -> """
      WITH k AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               round(l_quantity * 1000, 0) AS ts,
               l_quantity AS q,
               CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)
                    || ':' || CAST(l_linenumber AS VARCHAR)
                    || ':' || CAST(l_quantity AS VARCHAR) || ':42'),
                    1, 15)) AS BIGINT) AS ok
        FROM lineitem),
      g AS (SELECT sum(ts) AS gs, count(*) AS gn FROM k),
      w AS (SELECT l_orderkey, l_linenumber, l_returnflag,
              coalesce(sum(ts) OVER (PARTITION BY l_returnflag
                ORDER BY ok, l_orderkey, l_linenumber, q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS es,
              coalesce(count(*) OVER (PARTITION BY l_returnflag
                ORDER BY ok, l_orderkey, l_linenumber, q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS en
            FROM k)
      -- Spark's round(double, 6) rounds the SHORTEST STRING REPR of the
      -- double (BigDecimal.valueOf = Double.toString), not its exact
      -- binary expansion and not a *1e6 multiply — this fixture's
      -- ratios land on 6th-digit halves structurally (14 ties in 60k
      -- rows), so the oracle mirrors those semantics exactly:
      -- VARCHAR (shortest repr) -> exact DECIMAL -> half-up round
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(round(CAST(CAST(((CAST(es AS DOUBLE) / 1000.0)
                    + (10.0 * ((CAST(gs AS DOUBLE) / 1000.0)
                               / CAST(gn AS DOUBLE))))
                   / (CAST(en AS DOUBLE) + 10.0)
                   AS VARCHAR) AS DECIMAL(38,20)), 6)
               AS DOUBLE) AS l_returnflag_ord_encoded
      FROM w CROSS JOIN g""",

    // e9: folds replayed with the m5 row_number-mod rule under the same
    // total order; cell/category/global sums in DECIMAL(18,6) exactly
    // as the engine accumulates them; the encoded tree
    // ((cs-s)+m*(ts/tn))/((cn-n)+m) token-identical, global mean a
    // column (not a driver constant) on both sides
    "e9_oof_target_encode" -> """
      WITH f AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CAST(l_quantity AS DECIMAL(18,6)) AS t,
               CAST((row_number() OVER (ORDER BY l_orderkey, l_linenumber))
                    % 5 AS INT) AS fold
        FROM lineitem),
      cells AS (
        SELECT l_returnflag AS cat, fold, sum(t) AS s, count(t) AS n
        FROM f GROUP BY 1, 2),
      ct AS (SELECT cat, sum(s) AS cs, sum(n) AS cn FROM cells GROUP BY 1),
      tot AS (SELECT sum(cs) AS ts, sum(cn) AS tn FROM ct),
      dict AS (
        SELECT cells.cat, cells.fold,
               ((CAST(COALESCE(ct.cs, 0) - COALESCE(cells.s, 0) AS DOUBLE)
                 + (10.0 * (CAST(tot.ts AS DOUBLE) / CAST(tot.tn AS DOUBLE))))
                / (CAST(ct.cn - cells.n AS DOUBLE) + 10.0)) AS enc
        FROM cells JOIN ct USING (cat) CROSS JOIN tot)
      SELECT f.l_orderkey, f.l_linenumber, f.l_returnflag,
             round(dict.enc, 6) AS l_returnflag_oof_encoded
      FROM f JOIN dict ON f.l_returnflag = dict.cat AND f.fold = dict.fold""",

    "e3_target_encode" -> """
      SELECT o_orderkey, o_orderpriority,
             round(avg(o_totalprice) OVER (PARTITION BY o_orderpriority), 4)
               AS o_orderpriority_encoded
      FROM orders""",

    "e4_freq_encode" -> """
      SELECT c_custkey, c_mktsegment,
             round(CAST(count(*) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
                   / count(*) OVER (), 6) AS c_mktsegment_freq_encoded
      FROM customer""",

    "e5_binary_encode" -> """
      WITH coded AS (
        SELECT c_custkey, c_mktsegment,
               dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS code
        FROM customer)
      SELECT c_custkey, c_mktsegment,
             CAST((code >> 2) & 1 AS INT) AS c_mktsegment_bin_0,
             CAST((code >> 1) & 1 AS INT) AS c_mktsegment_bin_1,
             CAST(code & 1 AS INT) AS c_mktsegment_bin_2
      FROM coded""",

    "e6_date_expand" -> """
      SELECT o_orderkey,
             year(o_orderdate) AS o_orderdate_year,
             month(o_orderdate) AS o_orderdate_month,
             day(o_orderdate) AS o_orderdate_day,
             isodow(o_orderdate) - 1 AS o_orderdate_dayofweek,
             weekofyear(o_orderdate) AS o_orderdate_week,
             quarter(o_orderdate) AS o_orderdate_quarter
      FROM orders""",

    "h2_feature_hash" -> s"""
      SELECT c_custkey, c_mktsegment,
             ${Md5IntSql("c_mktsegment")} % 64 AS c_mktsegment_hashed
      FROM customer""",

    "h3_onehot_hash" -> s"""
      WITH coded AS (
        SELECT c_custkey, c_mktsegment,
               dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS code
        FROM customer)
      SELECT c_custkey, c_mktsegment,
             ${Md5IntSql("code")} % 64 AS c_mktsegment_hashed
      FROM coded""",

    "h4_embedding_hash" -> s"""
      SELECT c_custkey, c_mktsegment,
             CAST(((list_sum(list_transform(string_split(c_mktsegment, ''), x -> unicode(x))) % 2147483648)
              + ${Md5IntSql("c_mktsegment")}) % 64 AS BIGINT) AS c_mktsegment_hashed
      FROM customer""",

    "h5_universal_hash" -> s"""
      SELECT c_custkey, c_mktsegment,
             ((1103515245 * (${Sha256IntSql("c_mktsegment")} % 2147483647) + 12345)
              % 2147483647) % 64 AS c_mktsegment_hashed
      FROM customer""",

    "h6_countmin" -> """
      SELECT o_orderpriority, count(*) AS cms_count, count(*) AS exact_count
      FROM orders GROUP BY 1""")
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared plumbing for the driver-checked query packs. Every pack exposes
  * `queries` (name -> (spark, sfDir) => DataFrame) and `oracles`
  * (name -> equivalent DuckDB SQL over the same parquet tables). Column
  * names are aliased identically on both sides — the driver sorts columns
  * by name before hashing. Floating aggregates are rounded on BOTH sides
  * so double summation order can't flip the hash.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** lineitem with deterministic synthetic nulls: l_quantity nulled where
    * l_linenumber = 3 (the testdata has no nulls; imputation/missing-
    * profile operators need some). Mirrored in oracle SQL as
    * CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END.
    */
  def lineitemWithNulls(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.lineitem(s, dir)
      .withColumn("l_quantity",
        when(col("l_linenumber") === 3, lit(null)).otherwise(col("l_quantity")))

  val NullifiedQtySql: String =
    "CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END"

  /** A money column as exact decimal cents. A double sum rounded to
    * cents lets the row order decide an exact half cent (q5 read
    * 8183223.96 or .97 on one seed), so money sums and averages run in
    * decimal and cast to double only after the round, which keeps the
    * output schema. [[moneySql]] is the oracle's form. */
  def money(c: String): Column = col(c).cast(DecimalType(15, 2))

  def moneySql(c: String): String = s"CAST($c AS DECIMAL(15,2))"

  /** The Poisson(1) bootstrap replay over events (a47, a48, st16).
    * `base` holds the group `g`, the value `x` and ONE md5 seed per row
    * (m = 60-bit prefix of "id_42" mod 2^31-1) for the rows `where`
    * keeps; `reps` fans each row out over `replicates` replicates b;
    * `hv` is the row-dependent integer mix (m * (48271 + b*12345)) %
    * (2^31-1); `wts` maps it through the EXACT Poisson(1) CDF
    * thresholds floor(c_k * (2^31-1)), truncated at 6, as the engine
    * does. */
  def poissonWeightsSql(g: String, where: String, replicates: Int): String = s"""
      base AS (
        SELECT $g AS g, CAST(value AS DOUBLE) AS x,
               CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                                           || '_42'), 1, 15)) AS BIGINT)
                 % 2147483647 AS m
        FROM events WHERE $where),
      reps AS (SELECT g, x, m, unnest(range($replicates)) AS b FROM base),
      hv AS (SELECT g, x, b,
               (m * (48271 + (b * 12345))) % 2147483647 AS v
             FROM reps),
      wts AS (SELECT g, x, b,
                CASE WHEN v < 790015083 THEN 0
                     WHEN v < 1580030167 THEN 1
                     WHEN v < 1975037709 THEN 2
                     WHEN v < 2106706890 THEN 3
                     WHEN v < 2139624185 THEN 4
                     WHEN v < 2146207644 THEN 5
                     ELSE 6 END AS w
              FROM hv)"""

  /** The 2.5/97.5 bootstrap percentile picks: `lo` and `hi` take the
    * replicate statistic `v` of `rk` (rank r per g) at rank
    * greatest(1, ceil(p * be)), be being the group's replicate count in
    * `beff`. */
  def ciBoundsSql(v: String): String =
    Seq("lo" -> 0.025, "hi" -> 0.975).map { case (name, p) => s"""
      $name AS (SELECT rk.g, rk.$v AS $name FROM rk JOIN beff USING (g)
             WHERE rk.r = greatest(1, CAST(ceil($p * CAST(be AS DOUBLE))
                                           AS BIGINT)))""" }.mkString(",")

  /** Bootstrap CI of the per-group median (a48, st16): the
    * [[poissonWeightsSql]] replay, then EXACT weighted medians per
    * (group, replicate) — a window cumsum over the (g, b, x) cells and
    * the integer rank rule — and [[ciBoundsSql]] over them. All integer
    * or ordering arithmetic, so ci_lo/ci_hi hash exactly;
    * all_within_bound (each replicate's KLL estimate inside its
    * self-reported weighted-rank interval) is engine-verified, so
    * pinned. `key` names the group column. */
  def bootstrapMedianCiSql(key: String, g: String, where: String,
                           replicates: Int): String = s"""
      WITH ${poissonWeightsSql(g, where, replicates)},
      cells AS (SELECT g, b, x, sum(w) AS wc FROM wts WHERE w > 0
                GROUP BY 1, 2, 3),
      tot AS (SELECT g, b, sum(wc) AS wn FROM cells GROUP BY 1, 2),
      cum AS (SELECT g, b, x,
                     sum(wc) OVER (PARTITION BY g, b ORDER BY x) AS lc
              FROM cells),
      med AS (SELECT cum.g, cum.b, min(x) AS q
              FROM cum JOIN tot ON tot.g = cum.g AND tot.b = cum.b
              WHERE lc >= greatest(1, CAST(ceil(0.5 * CAST(wn AS DOUBLE))
                                           AS BIGINT))
              GROUP BY 1, 2),
      beff AS (SELECT g, count(*) AS be FROM med GROUP BY 1),
      rk AS (SELECT g, b, q,
                    row_number() OVER (PARTITION BY g ORDER BY q, b) AS r
             FROM med),${ciBoundsSql("q")},
      ov AS (SELECT g, count(*) AS n FROM base GROUP BY 1)
      SELECT ov.g AS $key, CAST(ov.n AS BIGINT) AS n,
             CAST(beff.be AS BIGINT) AS b_eff,
             round(lo.lo, 6) AS ci_lo, round(hi.hi, 6) AS ci_hi,
             TRUE AS all_within_bound
      FROM ov JOIN lo ON lo.g = ov.g JOIN hi ON hi.g = ov.g
              JOIN beff ON beff.g = ov.g"""

  /** The distinct word n-gram shingles `sh` of each `key` of `from`
    * (columns key, text): the n-grams of the trimmed text split on
    * whitespace, space-joined. A doc with fewer than n tokens (an empty
    * doc's token list is ['']) contributes its whole
    * whitespace-normalized text as ONE shingle — the short-doc branch
    * `Dedup.shingleRows` takes. The body of one CTE. */
  def shingleSetSql(key: String, from: String, n: Int): String = s"""
    SELECT $key, unnest(list_distinct(list_transform(
             range(len(string_split_regex(trim(text), '\\s+')) - ${n - 1}),
             i -> list_reduce(list_transform(range(i, i + $n),
                    j -> (string_split_regex(trim(text), '\\s+'))[j + 1]),
                  (a, b) -> a || ' ' || b)))) AS sh
           FROM $from
           WHERE len(string_split_regex(trim(text), '\\s+')) >= $n
           UNION ALL
           SELECT $key, regexp_replace(trim(text), '\\s+', ' ', 'g') AS sh
           FROM $from
           WHERE len(string_split_regex(trim(text), '\\s+')) < $n"""

  /** Connected components of the undirected pair CTE `pairs` (id_a,
    * id_b) as a recursive closure, the fixpoint the engine's label
    * propagation iterates to: `edges` both ways, `reach` (every node
    * each node reaches) and `nodes`. Node n's component is
    * [[ComponentSql]]; the query opens WITH RECURSIVE. */
  def reachSql(pairs: String): String = s"""
      edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs
                UNION SELECT id_b, id_a FROM $pairs),
      reach AS (
        SELECT src AS id, dst AS r FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
      nodes AS (SELECT DISTINCT src AS id FROM edges)"""

  /** The least id node `n` of [[reachSql]] reaches, itself included. */
  val ComponentSql = "least(n.id, (SELECT min(r) FROM reach WHERE reach.id = n.id))"

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

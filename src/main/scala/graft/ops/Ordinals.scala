package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Global ordinals WITHOUT the single-partition window.
  *
  * `row_number().over(Window.orderBy(...))` funnels the whole frame
  * through ONE partition — the r1/r2 verdict's SMOTE/NearMiss scale
  * killer. The fix SCALING.md names: sort (range-partitioned, each
  * partition O(partition)) then `zipWithIndex` (one lightweight
  * partition-size count job, then a narrow map). For a TOTAL sort order
  * the assigned ordinal is identical to the global window's row_number
  * regardless of where the range boundaries fall.
  */
object Ordinals {

  /** Append `out` = 1-based global rank of the row under `sortCols`
    * (must be a total order for a deterministic result).
    *
    * A global rank IS the inclusive running total of 1 under the total
    * order, so this delegates straight to the engine's
    * [[graft.plans.RunningTotal]] physical operator: ONE range exchange
    * (the sort a total order needs anyway), an O(#partitions) offset
    * collect, and a narrow map — no window (keyless windows funnel the
    * frame through one reducer AND drown the log in WindowExec
    * warnings), no self-join, and critically no layout-dependent
    * columns. The previous shape derived offsets from
    * `spark_partition_id`/`monotonically_increasing_id` computed in TWO
    * plan branches and relied on exchange reuse to keep both branches
    * on the SAME physical layout — whenever reuse broke (e.g. under
    * `.persist()`, whose cached-plan compilation reused nothing), range
    * boundaries diverged between the branches and rows silently
    * vanished from the pid join. Rank VALUES are order-deterministic
    * regardless of where range boundaries fall, so this shape has no
    * such failure mode. Exact for frames up to 2^53 rows (the running
    * total accumulates in double). */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column], out: String): DataFrame =
    rank(df, sortCols, resetKeys = 0, out)

  /** Rows at chosen 1-based GLOBAL ranks under `sortCols` (a total
    * order): one count job to size `ranksOf`, then a rank + `isin`
    * filter over [[withGlobalRank]]'s single sorted lineage. `ranksOf`
    * receives the total row count and returns the wanted ranks;
    * out-of-range ranks are ignored. Backs [[graft.ops.Relational.exactMedian]]
    * (order statistics without buffering a column in an agg).
    *
    * The previous shape located each rank's (partition, local offset)
    * on the driver from one action and filtered on
    * `spark_partition_id`/`monotonically_increasing_id` in a SECOND
    * action — but range boundaries are sampled per execution, so the
    * second sort could lay partitions out differently and the filter
    * would select the wrong physical rows. Rank values are
    * order-deterministic; physical layout is not. */
  def rowsAtRanks(df: DataFrame, sortCols: Seq[Column],
                  ranksOf: Long => Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = df.count()
    val targets = ranksOf(n).distinct.filter(r => r >= 1 && r <= n)
    if (targets.isEmpty) df.filter(lit(false))
    else withGlobalRank(df, sortCols, "__rt_at")
      .filter(col("__rt_at").isin(targets: _*)).drop("__rt_at")
  }

  /** Per-key 1-based rank under `sortCols` WITHOUT a per-key window
    * reducer: ONE [[graft.plans.RunningTotal]] of 1 under (key,
    * sortCols) that restarts where the key changes — one range sort, an
    * O(#partitions) offset collect and a narrow map; no aggregate, no
    * broadcast, no join, so the ranked frame is read once. A
    * pathologically hot key (a 50 TB majority class) no longer sorts
    * through ONE reducer: the range sort spreads it across many
    * partitions and the driver carries its count across them. Keys are
    * compared as the sort compares them, so null keys rank together and
    * -0.0/0.0 and NaN form one key each, as under `groupBy`. */
  def withPerKeyRank(df: DataFrame, key: String, sortCols: Seq[Column],
                     out: String): DataFrame =
    rank(df, org.apache.spark.sql.functions.col(key).asc +: sortCols, resetKeys = 1, out)

  /** The running total of 1 under `sortCols`, restarting at the first
    * `resetKeys` of them, as a long `out` column. */
  private def rank(df: DataFrame, sortCols: Seq[Column], resetKeys: Int,
                   out: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.plans.RunningTotal.multi(df.withColumn("__rt_one", lit(1.0)),
        sortCols, Seq("__rt_one" -> "__rt_rank"), resetKeys)
      .withColumn(out, col("__rt_rank").cast(LongType))
      .drop("__rt_one", "__rt_rank")
  }

  /** Append `out` = INCLUSIVE running total of numeric `valueCol` under
    * the total order `sortCols` — the distributed form of
    * `sum(v).over(Window.orderBy(...))`, now a CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.RunningTotalPlan]], planned by the injected
    * [[graft.plans.RunningTotalStrategy]]): the exec declares the range
    * sort as its required child distribution (no extra exchange) and
    * runs the two-phase offset scan over the materialized shuffle in
    * Tungsten rows — no `.rdd` GenericRow round trip, no codegen
    * barrier. (The previous RDD shape deserialized every row twice.) */
  def withRunningTotal(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                       out: String): DataFrame =
    graft.plans.RunningTotal(df, sortCols, valueCol, out)

  /** Several running totals under ONE order in a single two-pass node
    * (r15, guide §1.2): callers used to stack [[withRunningTotal]] —
    * the stack shared its exchange but re-ran the post-shuffle sort +
    * scan twice per extra node (k totals = k+1 sorted passes; this is
    * 2 for any k). Bit-identical to the stack: same per-partition sum
    * order, same float trees.
    *
    * `resetKeys` = n > 0 restarts every total where the first n of
    * `sortCols` change: `sum(v).over(Window.partitionBy(keys)
    * .orderBy(rest))` in the same two passes, with no per-key offset
    * for the caller to subtract. Keys are compared as the range sort
    * compares them (nulls together, -0.0/0.0 and NaN one key each,
    * strings in Spark's byte order). */
  def withRunningTotals(df: DataFrame, sortCols: Seq[Column],
                        valueOuts: Seq[(String, String)],
                        resetKeys: Int = 0): DataFrame =
    graft.plans.RunningTotal.multi(df, sortCols, valueOuts, resetKeys)
}

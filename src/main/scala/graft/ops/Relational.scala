package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.SchemaProfiler
import graft.pipeline.TableOp

/** Relational core: projection/filter/conditional-update ops (SURVEY §2.2)
  * and aggregation/statistics ops (§2.3). All are single-pass declarative
  * plans — Catalyst pushes the filters/projections into the parquet scan
  * and the groupBys get map-side partial aggregation for free.
  */
object Relational {

  // ---- §2.2 projection / filter / conditional update -------------------

  /** P1 — drop columns (`checking_data_formats_ui.py:418-442`). */
  case class DropColumns(cols: String*) extends TableOp {
    def describe = s"drop columns ${cols.mkString(",")}"
    def apply(df: DataFrame): DataFrame = df.drop(cols: _*)
  }

  /** P2 — numeric-only projection (`model_evaluation_logic.py:149`). */
  case class NumericProjection(includeBool: Boolean = false) extends TableOp {
    def describe = "numeric projection"
    def apply(df: DataFrame): DataFrame = SchemaProfiler.numericProjection(df, includeBool)
  }

  /** P3 — range predicate, open ends allowed (`checking_data_formats_ui.py:493-499`). */
  case class RangeFilter(c: String, lo: Option[Double], hi: Option[Double]) extends TableOp {
    def describe = s"filter $c in [${lo.getOrElse("-inf")},${hi.getOrElse("inf")}]"
    def apply(df: DataFrame): DataFrame = {
      val conds = lo.map(col(c) >= _).toSeq ++ hi.map(col(c) <= _).toSeq
      if (conds.isEmpty) df else df.filter(conds.reduce(_ && _))
    }
  }

  /** P4 — equality / IN predicate on string-cast values (`splitting_dataset_ui.py:389-406`). */
  case class InFilter(c: String, values: Seq[String]) extends TableOp {
    def describe = s"filter $c in (${values.mkString(",")})"
    def apply(df: DataFrame): DataFrame =
      df.filter(col(c).cast(StringType).isin(values: _*))
  }

  /** P5 — split rows into (target notna, target isna) (`splitting_dataset_ui.py:416-446`). */
  def nullPartition(df: DataFrame, c: String): (DataFrame, DataFrame) =
    (df.filter(col(c).isNotNull), df.filter(col(c).isNull))

  /** P6 — drop rows with null in a column (`dataset_processing_check_nan.py:295-312`). */
  case class DropNullRows(cols: String*) extends TableOp {
    def describe = s"drop rows null in ${cols.mkString(",")}"
    def apply(df: DataFrame): DataFrame = df.na.drop(cols)
  }

  /** P7 — merge a numeric interval into one value
    * (`checking_data_formats_ui.py:535-597`). */
  case class MergeInterval(c: String, lo: Double, hi: Double, target: Double) extends TableOp {
    def describe = s"merge $c [$lo,$hi] -> $target"
    def apply(df: DataFrame): DataFrame =
      df.withColumn(c, when(col(c).between(lo, hi), lit(target)).otherwise(col(c)))
  }

  /** P8 — column-order align to a reference schema; error on missing,
    * drop-or-append extras (`align_columns_ui.py:259-318`). */
  case class AlignColumns(refCols: Seq[String], keepExtras: Boolean = false) extends TableOp {
    def describe = s"align column order to ${refCols.mkString(",")}"
    def apply(df: DataFrame): DataFrame = {
      val missing = refCols.filterNot(df.columns.contains)
      require(missing.isEmpty, s"missing columns: ${missing.mkString(",")}")
      val extras = if (keepExtras) df.columns.filterNot(refCols.contains).toSeq else Nil
      df.select((refCols ++ extras).map(col): _*)
    }
  }

  /** P9 — cast shared columns to reference dtypes; casts null on failure
    * (`align_columns_ui.py:176-257`, pandas errors='coerce'). */
  case class AlignTypes(refTypes: Map[String, DataType]) extends TableOp {
    def describe = "align dtypes to reference"
    def apply(df: DataFrame): DataFrame = {
      val cols = df.schema.fields.map { f =>
        refTypes.get(f.name) match {
          case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
          case _ => col(f.name)
        }
      }
      df.select(cols.toSeq: _*)
    }
  }

  /** P10 — strip header whitespace (`eda.py:43`). */
  case object TrimHeaders extends TableOp {
    def describe = "trim headers"
    def apply(df: DataFrame): DataFrame = df.toDF(df.columns.map(_.trim): _*)
  }

  // ---- §2.3 aggregations / statistics -----------------------------------

  /** A1 — value counts with deterministic ordering (count desc, value asc);
    * keeps the null bucket like pandas dropna=False
    * (`checking_data_formats_ui.py:510-517`). */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), asc_nulls_last(c))

  /** A2 — rare-value report: HAVING count <= n, optional pre-range
    * (`checking_data_formats_ui.py:468-533`). */
  def rareValues(df: DataFrame, c: String, maxCount: Long,
                 lo: Option[Double] = None, hi: Option[Double] = None): DataFrame = {
    val pre = RangeFilter(c, lo, hi)(df)
    valueCounts(pre, c).filter(col("count") <= maxCount)
  }

  /** A3 — normalized frequency table (frequency encoding source,
    * `dataset_processing_fix_non_numeric_ui.py:263-271`). One scan: count
    * per group + window-sum for the total (no driver round-trip). */
  def freqTable(df: DataFrame, c: String): DataFrame = {
    // total rides a 1-row broadcast cross join, not a keyless window —
    // same dictionary-sized cost, zero WindowExec warning noise
    val counts = df.groupBy(col(c)).agg(count(lit(1)).as("count"))
    counts.crossJoin(broadcast(counts.agg(sum("count").as("__tot"))))
      .withColumn("freq", col("count") / col("__tot")).drop("__tot")
  }

  /** A4 — per-category mean of a target column (target encoding source,
    * `dataset_processing_fix_non_numeric_ui.py:250-261`). */
  def groupMean(df: DataFrame, c: String, target: String): DataFrame =
    df.groupBy(col(c)).agg(avg(col(target)).as("mean_target"))

  /** A5 — missing-value profile: one aggregate scan over all columns
    * (`checking_data_formats_ui.py:382-401`). */
  def missingProfile(df: DataFrame): DataFrame = {
    val n = df.columns.length
    val aggs = df.columns.map(c => count(when(col(c).isNull, 1)).as(s"nulls_$c")) :+
      count(lit(1)).as("n_rows")
    val row = df.agg(aggs.head, aggs.tail.toSeq: _*)
    val stackExpr = df.columns.map(c => s"'$c', `nulls_$c`").mkString(
      s"stack($n, ", ", ", ") as (column, null_count)")
    row.selectExpr("n_rows", stackExpr)
      .withColumn("null_pct", col("null_count") * 100.0 / col("n_rows"))
      .select("column", "null_count", "null_pct")
  }

  /** Shuffle-key skew report — the diagnostic a team runs BEFORE keying
    * a 100 TB join or aggregate: the `topK` hottest values of `keyCol`
    * with row count, share of all rows, and skew factor (count ÷ the
    * mean rows-per-key). A skew factor in the hundreds says "salt this
    * key or let AQE split it"; ~1 says the key is safe.
    *
    * Cost shape: one map-side-combined count aggregate (a hot key
    * collapses per input partition — counting skew never suffers it), a
    * 1-row broadcast of the totals, and TakeOrdered for the top-K (no
    * global sort). Ordering ties break on the key value, so the report
    * is deterministic. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum("n_rows").as("__t"), count(lit(1)).as("__k"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n_rows"),
        round(col("n_rows").cast("double") / col("__t"), 6).as("share"),
        round(col("n_rows").cast("double") * col("__k") / col("__t"), 4).as("skew"))
      .orderBy(desc("n_rows"), col(keyCol))
      .limit(topK)
  }

  /** Per-group mode: each group's most frequent non-null value of `c`,
    * ties to the smallest value (the I3 global-mode contract, per key).
    * Two map-side-combined aggregates — the (key, value) count then a
    * min-struct argmax over (-count, value) — no window, no reducer
    * hot-spot: a million-row group collapses to its distinct values
    * before either shuffle. Output (key, mode, n). */
  def groupMode(df: DataFrame, key: String, c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(key), col(c)).agg(count(lit(1)).as("__n"))
      .withColumn("__neg", -col("__n"))
      .groupBy(col(key))
      .agg(min(struct(col("__neg"), col(c).as("__v"))).as("__w"))
      .select(col(key), col("__w.__v").as("mode"),
        (-col("__w.__neg")).as("n"))

  /** Exact winsorization bounds: the values at the loPct-th and hiPct-th
    * percentiles (nearest-rank over non-null values). Ranks are computed
    * with INTEGER arithmetic — ceil(n*p/100) as (n*p + 99)/100 — so any
    * replayer lands the identical rank (a float p*n product can ceil to
    * a different integer between engines when p isn't dyadic). Value
    * retrieval is [[Ordinals.rowsAtRanks]]' range-sorted rank selection:
    * no value buffering, no keyless window. */
  def winsorizeBounds(df: DataFrame, c: String, loPct: Int, hiPct: Int): (Double, Double) = {
    require(0 < loPct && loPct < hiPct && hiPct <= 100,
      s"need 0 < loPct < hiPct <= 100, got ($loPct, $hiPct)")
    val vals = df.filter(col(c).isNotNull).select(col(c).cast("double").as("__v"))
    // r8: histogram-refinement selection (shared scans, no range sort)
    var rLo = 0L; var rHi = 0L
    val byRank = exactValuesAtRanks(vals, Seq("__v"), (_, n) => {
      require(n > 0, s"winsorize: no non-null values in $c")
      def rank(p: Int): Long = math.max(1L, (n * p + 99) / 100)
      rLo = rank(loPct); rHi = rank(hiPct)
      Seq(rLo, rHi).distinct
    })("__v")
    (byRank(rLo), byRank(rHi))
  }

  /** Clip `c` into [lo, hi] (nulls pass through) — the map-only half of
    * winsorization, split out so callers that already hold the bounds
    * (the a14 query, any fit-once/apply-many pipeline) don't pay the
    * rank-selection job twice. */
  def winsorizeWith(df: DataFrame, c: String, lo: Double, hi: Double): DataFrame =
    df.withColumn(c, when(col(c).isNull, col(c))
      .otherwise(greatest(least(col(c).cast("double"), lit(hi)), lit(lo))))

  /** Winsorize: clip `c` into its exact [loPct, hiPct] percentile range —
    * the outlier treatment that keeps rows (a tail-heavy price column
    * stops dominating scalers/losses) where a filter would drop them.
    * One rank-selection job, then a map-only clip. */
  def winsorize(df: DataFrame, c: String, loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    val (lo, hi) = winsorizeBounds(df, c, loPct, hiPct)
    winsorizeWith(df, c, lo, hi)
  }

  /** Robust scaling: (x - median) / IQR — the outlier-insensitive
    * cousin of M2's StandardScaler (mean/stddev move with every
    * outlier; median and quartiles don't). Median is [[exactMedian]]'s
    * middle-pair average; quartiles are [[winsorizeBounds]]' integer-
    * rank selection, so every statistic is exactly replayable. A zero
    * IQR (over half the values identical) degrades to centering only.
    * Fit = two rank-selection jobs; transform = map-only. */
  def robustScale(df: DataFrame, c: String, out: String): DataFrame = {
    val vals = df.filter(col(c).isNotNull).select(col(c).cast(DoubleType).as("__v"))
    // all four order statistics (median pair + both quartiles) from the
    // shared histogram-refinement batch (r8: replaced the range sort —
    // same selected values, ~4 map-side scans instead of a full shuffle)
    var medRanks: Seq[Long] = Nil
    var q1r = 0L; var q3r = 0L
    val byRank = exactValuesAtRanks(vals, Seq("__v"), (_, n) => {
      require(n > 0, s"robustScale: no non-null values in $c")
      def pct(p: Int): Long = math.max(1L, (n * p + 99) / 100)
      medRanks = Seq((n + 1) / 2, n / 2 + 1).distinct
      q1r = pct(25); q3r = pct(75)
      (medRanks ++ Seq(q1r, q3r)).distinct
    })("__v")
    val med = medRanks.map(byRank).sum / medRanks.size
    val (q1, q3) = (byRank(q1r), byRank(q3r))
    val iqr = if (q3 > q1) q3 - q1 else 1.0
    df.withColumn(out, (col(c).cast(DoubleType) - med) / iqr)
  }

  /** Exact median of one column, memory-bounded at ANY scale:
    * distributed range sort + global-rank selection of the middle
    * element(s). Spark's builtin exact `median`/`percentile` aggregate
    * buffers every value in the aggregation buffer — fine for a
    * dictionary-valued column, an OOM for a continuous one at 100 TB.
    * Returns null for an all-null/empty column (SQL median semantics). */
  def exactMedian(df: DataFrame, c: String): Option[Double] = {
    val vals = df.select(col(c).cast(DoubleType).as("__v"))
      .filter(col("__v").isNotNull)
    val mids = Ordinals.rowsAtRanks(vals, Seq(col("__v").asc),
        n => Seq((n + 1) / 2, n / 2 + 1)) // middle pair; equal when n odd
      .collect().map(_.getDouble(0))
    if (mids.isEmpty) None else Some(mids.sum / mids.length)
  }

  /** Weighted (lower) median: one row (n, total_weight, weighted_median)
    * where the median is the smallest value whose INCLUSIVE cumulative
    * weight reaches half the total — the row-weight generalization of
    * [[exactMedian]] (a token-weighted "median document length", a
    * quantity-weighted "median price"). `tieCols` must complete a total
    * order.
    *
    * Scale shape: the cumulative weight rides [[Ordinals
    * .withRunningTotal]]'s range-partitioned prefix sum (the one sort a
    * weighted order statistic needs); the qualifying rows are a suffix
    * of that order, so the answer is a plain min aggregate — no second
    * sort, no collect. Exactness: the threshold compare (2·cumw ≥ W)
    * is exact for integer-valued (or dyadic) weights, whose double
    * sums are exact below 2^53 — the contract the oracle replays. */
  def weightedMedian(df: DataFrame, c: String, w: String,
                     tieCols: Seq[String]): DataFrame = {
    val vals = df.filter(col(c).isNotNull && col(w).isNotNull)
      .select(col(c).cast(DoubleType).as("__v") +:
        col(w).cast(DoubleType).as("__wt") +: tieCols.map(col): _*)
    val cum = Ordinals.withRunningTotal(vals,
      col("__v").asc +: tieCols.map(col(_).asc), "__wt", "__cw")
    val tot = vals.agg(count(lit(1)).as("__n"), sum("__wt").as("__tw"))
    cum.crossJoin(broadcast(tot))
      .filter((col("__cw") * lit(2.0)) >= col("__tw"))
      .groupBy(col("__n"), col("__tw"))
      .agg(min("__v").as("__m"))
      .select(col("__n").cast("long").as("n"),
        round(col("__tw"), 6).as("total_weight"),
        round(col("__m"), 6).as("weighted_median"))
  }

  /** EXACT medians of SEVERAL columns in a HANDFUL of shared aggregate
    * scans — no per-column sort. Histogram-refinement rank selection:
    * every active (column, rank) target bins its candidate interval into
    * `bins` buckets in ONE shared pass (explode of per-target structs →
    * map-side-combined (target, bin) counts + in-bin min/max), the
    * driver walks cumulative counts to the bucket holding the rank, and
    * the interval shrinks to that bucket's OBSERVED [min, max] — so
    * identical-value pileups converge immediately and distinct doubles
    * separate once the width passes their gap (≤ ~5 rounds in
    * practice). When a target's bucket holds ≤ `collectLimit` rows the
    * remaining values collect and sort locally.
    *
    * vs. the [[exactMedian]] sort path: k columns cost k range SORTS of
    * the full data there (the r6 sf1 bench measured 12.6x for 10x data
    * on 3 columns); here the whole batch costs ~4 scans TOTAL at any
    * column count — the shape that survives 100 TB. NaN is treated as
    * missing (excluded, like null); ±Inf columns fall back to the sort
    * path (unbinnable range). */
  def exactMedians(df: DataFrame, cols: Seq[String], bins: Int = 4096,
                   collectLimit: Long = 65536): Map[String, Option[Double]] = {
    val got = exactValuesAtRanks(df, cols,
      (_, n) => Seq((n + 1) / 2, n / 2 + 1).distinct, bins, collectLimit)
    cols.map { c =>
      val byRank = got(c)
      c -> (if (byRank.isEmpty) None
            else Some(byRank.values.sum / byRank.size))
    }.toMap
  }

  /** EXACT order statistics at ARBITRARY ranks of SEVERAL columns in a
    * HANDFUL of shared aggregate scans — the generalized engine behind
    * [[exactMedians]] (r8; same histogram-refinement loop, the rank
    * seeds now caller-chosen). `ranksOf(c, n)` receives each column's
    * non-null/non-NaN count and returns the wanted 1-based ascending
    * ranks (out-of-range ranks are dropped); the result maps each
    * column to rank -> value (empty for an empty column).
    *
    * This is what decile cuts (a27's PSI bins), quantile fences
    * (winsorize/robust-scale), and conformal calibration radii should
    * ride at 100 TB: ~4 map-side-combined SCANS total for any number of
    * (column, rank) targets, instead of a full range SORT of the data
    * per call — the sort shuffles every row; the histogram shuffles
    * `bins` counters per target. NaN is treated as missing (excluded,
    * like null); ±Inf columns fall back to the range-sort path
    * (unbinnable range). Identical selections to the sort path by
    * construction — both return THE value at the requested rank of the
    * ascending order. */
  def exactValuesAtRanks(df: DataFrame, cols: Seq[String],
                         ranksOf: (String, Long) => Seq[Long],
                         bins: Int = 4096,
                         collectLimit: Long = 65536)
      : Map[String, Map[Long, Double]] = {
    if (cols.isEmpty) return Map.empty
    def d(c: String) = col(c).cast(DoubleType)
    // pass 0: per-column non-null/non-NaN count + min/max
    val statAggs = cols.flatMap { c =>
      val x = when(d(c).isNotNull && !isnan(d(c)), d(c))
      Seq(count(x).as(s"__n_$c"), min(x).as(s"__lo_$c"), max(x).as(s"__hi_$c"))
    }
    val stats = df.agg(statAggs.head, statAggs.tail: _*).head()
    // a target = one rank of one column, refined within [lo, hi]
    // (both inclusive); rank is LOCAL to the interval
    final case class Target(c: String, val wanted: Long, var rank: Long,
                            var lo: Double, var hi: Double,
                            var done: Option[Double] = None)
    val targets = scala.collection.mutable.ArrayBuffer.empty[Target]
    val result = scala.collection.mutable.Map.empty[String, Map[Long, Double]]
    cols.zipWithIndex.foreach { case (c, i) =>
      val n = stats.getLong(i * 3)
      val ranks = ranksOf(c, n).distinct.filter(r => r >= 1 && r <= n)
      if (ranks.isEmpty) result(c) = Map.empty
      else {
        val lo = stats.getDouble(i * 3 + 1); val hi = stats.getDouble(i * 3 + 2)
        if (lo.isInfinite || hi.isInfinite) {
          // unbinnable range: one range-sorted selection for this column
          val vals = df.select(d(c).as("__v"))
            .filter(col("__v").isNotNull && !isnan(col("__v")))
          val sortedRanks = ranks.sorted
          val got = Ordinals.rowsAtRanks(vals, Seq(col("__v").asc),
              _ => sortedRanks)
            .collect().map(_.getDouble(0)).sorted
          result(c) = sortedRanks.zip(got).toMap
        }
        else if (lo == hi) result(c) = ranks.map(_ -> lo).toMap
        else ranks.foreach { r => targets += Target(c, r, r, lo, hi) }
      }
    }
    var guard = 0
    while (targets.exists(_.done.isEmpty) && guard < 64) {
      guard += 1
      // DEDUPE histograms by (column, interval): many ranks of one
      // column start from the identical [lo, hi] (all nine decile cuts
      // in round 1; adjacent cuts that landed in the same bucket
      // later), and a histogram depends only on the interval — so each
      // distinct interval is scanned/emitted ONCE and every rank of it
      // walks the same collected rows. Cuts the explode fan-out from
      // O(active targets) to O(distinct intervals) per row.
      val groups = targets.filter(_.done.isEmpty).toSeq
        .groupBy(t => (t.c, t.lo, t.hi)).toSeq
      val entries = groups.zipWithIndex.map { case (((c, lo, hi), _), i) =>
        val x = d(c)
        val w = (hi - lo) / bins
        val bin = least(lit(bins - 1),
          floor((x - lit(lo)) / lit(w)).cast("int"))
        when(x.isNotNull && !isnan(x) && x >= lit(lo) && x <= lit(hi),
          struct(lit(i).as("t"), bin.as("b"), x.as("x")))
      }
      val hist = df.select(explode(array(entries: _*)).as("e"))
        .filter(col("e").isNotNull)
        .groupBy(col("e.t").as("t"), col("e.b").as("b"))
        .agg(count(lit(1)).as("n"), min("e.x").as("mn"), max("e.x").as("mx"))
        .collect()
        .groupBy(_.getInt(0))
      // leaf-collect memo: targets finishing in the same tiny bucket
      // share one collect of its values
      val leafVals = scala.collection.mutable
        .Map.empty[(String, Double, Double), Array[Double]]
      groups.zipWithIndex.foreach { case (((c, _, _), ts), i) =>
        val rows = hist.getOrElse(i, Array.empty).sortBy(_.getInt(1))
        ts.foreach { t =>
          var r = t.rank
          var picked: org.apache.spark.sql.Row = null
          val it = rows.iterator
          while (picked == null && it.hasNext) {
            val row = it.next()
            if (r <= row.getLong(2)) picked = row else r -= row.getLong(2)
          }
          require(picked != null,
            s"rank ${t.rank} fell off the histogram of ${t.c}")
          val cnt = picked.getLong(2)
          val mn = picked.getDouble(3)
          val mx = picked.getDouble(4)
          t.rank = r; t.lo = mn; t.hi = mx
          if (mn == mx) t.done = Some(mn)
          else if (cnt <= collectLimit) {
            val vals = leafVals.getOrElseUpdate((c, mn, mx),
              df.select(d(c).as("__v"))
                .filter(col("__v") >= mn && col("__v") <= mx)
                .collect().map(_.getDouble(0)).sorted)
            t.done = Some(vals((r - 1).toInt))
          }
        }
      }
    }
    require(targets.forall(_.done.isDefined),
      s"exactValuesAtRanks failed to converge in $guard rounds")
    targets.groupBy(_.c).foreach { case (c, ts) =>
      result(c) = ts.map(t => t.wanted -> t.done.get).toMap
    }
    result.toMap
  }

  /** A7 — column stats: mean/median/min/max/std (`mice_method.py:115-120`).
    * The moment aggregates are one hash-agg pass. The EXACT median goes
    * through [[exactMedian]] (sort + rank selection per column — bounded
    * memory; the builtin exact percentile aggregate buffers every value). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"mean_$c"), min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"), stddev(col(c)).as(s"std_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols.map(c =>
      s"'$c', `mean_$c`, CAST(`min_$c` AS DOUBLE), CAST(`max_$c` AS DOUBLE), `std_$c`"
    ).mkString(s"stack(${cols.length}, ", ", ", ") as (column, mean, min, max, std)")
    // all exact medians in one shared histogram-refinement batch
    // (r6: replaced per-column concurrent SORTS — see exactMedians)
    val medsMap = exactMedians(df, cols)
    val meds = cols.map(c => c -> medsMap(c))
    val medCol = meds.foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (c, m)) =>
        when(col("column") === c, m.map(lit(_)).getOrElse(lit(null).cast(DoubleType)))
          .otherwise(acc)
    }
    row.selectExpr(stackExpr).withColumn("median", medCol)
      .select("column", "mean", "median", "min", "max", "std")
  }

  /** A8 — Pearson correlation matrix over numeric columns, melted to
    * (col1, col2, corr) rows. Pairwise `corr` aggregates in ONE scan —
    * m*(m-1)/2 aggregates beat m² shuffles of an assembled-vector
    * Correlation.corr for modest m. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"${a}__$b") }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(s"stack(${pairs.length}, ", ", ", ") as (col1, col2, corr)")
    row.selectExpr(stackExpr)
  }

  /** A9 — equi-width histogram: floor((x-lo)/width), clamped to [0,bins-1]
    * (`eda.py:473-603`). */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val bucket = least(greatest(floor((col(c) - lo) / width), lit(0)), lit(bins - 1))
    df.filter(col(c).isNotNull)
      .groupBy(bucket.cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("count"))
      .orderBy("bucket")
  }

  /** A10 — grouped EDA counts: (feature value × class value) in one pass
    * (`eda.py:47-72`). */
  def groupedCounts(df: DataFrame, feature: String, cls: String): DataFrame =
    df.groupBy(col(feature), col(cls)).agg(count(lit(1)).as("count"))

  /** A11 — head/tail class summary: top-10 + bottom-2 by count, deduped
    * (`data_balancing_operaiting_classes.py:88-107`). Deterministic
    * tie-break on value. */
  def classSummary(df: DataFrame, c: String, topN: Int = 10, bottomN: Int = 2): DataFrame = {
    val counts = df.groupBy(col(c)).agg(count(lit(1)).as("count"))
    val top = counts.orderBy(desc("count"), asc(c)).limit(topN)
    val bottom = counts.orderBy(asc("count"), asc(c)).limit(bottomN)
    top.unionByName(bottom).dropDuplicates(c)
  }

  /** A12 — deterministic dedup: canonical row = lowest (tiebreaker, rest
    * of row) per key group — a keep-first `dropDuplicates` with defined
    * order (reference README dedup feature). ONE min-struct aggregate:
    * the struct leads with the tiebreaker, so min() picks the lowest
    * tiebreaker and breaks remaining ties by the other columns' values —
    * exactly one row survives per key group even when rows tie on (keys,
    * tiebreaker), e.g. fully identical duplicate rows (the old
    * min+leftsemi shape kept EVERY row matching the min tiebreaker).
    * Scale: map-side combine collapses a hot key to one candidate row per
    * input partition BEFORE the shuffle — no per-key window reducer, no
    * join back, no sort of the full table. Null tiebreakers order first
    * (struct ordering), so an all-null group still keeps one row. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tiebreaker: String): DataFrame = {
    val rest = (tiebreaker +: df.columns.filterNot(c =>
      c == tiebreaker || keys.contains(c)).toSeq)
    df.groupBy(keys.map(col): _*)
      .agg(min(struct(rest.map(col): _*)).as("__first"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col(s"__first.`$c`").as(c)): _*)
  }
}

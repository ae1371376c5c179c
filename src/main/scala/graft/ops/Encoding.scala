package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.pipeline.TableOp

/** Categorical encoding ops (SURVEY §2.6 E1-E6).
  *
  * Scale design: every encoder that needs a category dictionary builds it
  * as a small DataFrame (distinct values — bounded by category cardinality,
  * not table size) and joins it back with an explicit `broadcast()`. At
  * 100 TB the fact-table side never shuffles; the only wide operation is
  * the distinct-aggregation that produces the dictionary.
  *
  * Label codes are ALPHABETICAL (dense_rank over value asc) for parity with
  * the reference's sklearn LabelEncoder (`dataset_processing_fix_non_numeric_ui.py:240-248`)
  * — see SURVEY §7.4(9): StringIndexer's default frequency order would
  * diverge.
  */
object Encoding {

  /** Sanitized column suffix for a category value (reference `get_dummies`
    * uses raw values; parquet/DuckDB-safe names need cleaning). */
  def sanitize(v: String): String = v.replaceAll("[^A-Za-z0-9]", "_")

  /** Dictionary: distinct values of c with alphabetical 0-based codes.
    * Shuffles only the distinct set; the code assignment rides
    * [[Ordinals.withGlobalRank]] (row_number == dense_rank on a distinct
    * set) instead of a keyless window, so even a pathologically wide
    * dictionary never funnels through one reducer. */
  def labelDictionary(df: DataFrame, c: String): DataFrame =
    Ordinals.withGlobalRank(
        df.filter(col(c).isNotNull).select(col(c)).distinct(),
        Seq(col(c).asc), "__rank")
      .withColumn("__code", col("__rank") - 1L)
      .drop("__rank")

  /** E1 — one-hot to FLAT 0/1 columns (reference `pd.get_dummies`,
    * `dataset_processing_fix_non_numeric_ui.py:227-238`). Values may be
    * supplied (stable schema) or collected from data (driver collect of the
    * distinct set only — guarded; dictionaries are small by definition). */
  case class OneHot(c: String, values: Seq[String] = Nil,
                    dropOriginal: Boolean = true, maxCategories: Int = 1000) extends TableOp {
    def describe = s"one-hot encode $c"
    def apply(df: DataFrame): DataFrame = {
      val vs =
        if (values.nonEmpty) values
        else df.select(col(c).cast(StringType)).filter(col(c).isNotNull)
          .distinct().limit(maxCategories + 1)
          .collect().map(_.getString(0)).sorted.toSeq
      require(vs.size <= maxCategories, s"$c has >$maxCategories categories; one-hot refused")
      // sanitize() can collide ('a.b' and 'a_b'); disambiguate with a
      // numeric suffix so no category's indicator is silently overwritten
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val named = vs.map { v =>
        val base = s"${c}_${sanitize(v)}"
        val k = seen.getOrElse(base, 0)
        seen(base) = k + 1
        (v, if (k == 0) base else s"${base}_$k")
      }
      val withDummies = named.foldLeft(df) { case (d, (v, name)) =>
        d.withColumn(name, (col(c).cast(StringType) === v).cast(IntegerType))
      }
      if (dropOriginal) withDummies.drop(c) else withDummies
    }
  }

  /** E2 — label encoding, alphabetical codes (sklearn LabelEncoder parity). */
  case class LabelEncode(c: String, out: Option[String] = None) extends TableOp {
    def describe = s"label encode $c"
    def apply(df: DataFrame): DataFrame = {
      val dict = labelDictionary(df, c)
      val outName = out.getOrElse(c + "_label")
      df.join(broadcast(dict), Seq(c), "left")
        .withColumnRenamed("__code", outName)
    }
  }

  /** E3 — target encoding: category -> mean(target), col `{c}_encoded`
    * (`dataset_processing_fix_non_numeric_ui.py:250-261`). */
  case class TargetEncode(c: String, target: String) extends TableOp {
    def describe = s"target encode $c by mean($target)"
    def apply(df: DataFrame): DataFrame = {
      val dict = df.groupBy(col(c)).agg(avg(col(target)).as(s"${c}_encoded"))
      df.join(broadcast(dict), Seq(c), "left")
    }
  }

  /** Target encoding with m-estimate smoothing (the production form of
    * E3): encoded = (sum_y + m·global_mean) / (n + m). Rare categories
    * shrink toward the global mean instead of memorizing their handful
    * of targets — the leakage/overfit guard every real feature pipeline
    * applies; m is the pseudo-count prior (m = 0 degrades to E3). Same
    * dictionary-aggregate + broadcast-join shape as E3. */
  case class SmoothedTargetEncode(c: String, target: String,
                                  m: Double = 10.0) extends TableOp {
    def describe = s"smoothed target encode $c by $target (m=$m)"
    def apply(df: DataFrame): DataFrame = {
      require(m >= 0, s"prior pseudo-count m must be >= 0, got $m")
      val global = df.agg(avg(col(target))).first().getDouble(0)
      val dict = df.groupBy(col(c))
        .agg(sum(col(target)).as("__s"), count(col(target)).as("__n"))
        .select(col(c),
          ((col("__s") + lit(m) * lit(global)) / (col("__n") + lit(m)))
            .as(s"${c}_encoded"))
      df.join(broadcast(dict), Seq(c), "left")
    }
  }

  /** E4 — frequency encoding: category -> relative frequency, col
    * `{c}_freq_encoded` (`…:263-271`). Total via a second tiny aggregate on
    * the dictionary itself (no full-table window). */
  case class FrequencyEncode(c: String) extends TableOp {
    def describe = s"frequency encode $c"
    def apply(df: DataFrame): DataFrame = {
      // total via 1-row broadcast cross join (not a keyless window —
      // same dictionary-sized cost, no WindowExec warning noise)
      val counts = df.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
      val dict = counts
        .crossJoin(broadcast(counts.agg(sum("__cnt").as("__tot"))))
        .withColumn(s"${c}_freq_encoded", col("__cnt") / col("__tot"))
        .drop("__cnt", "__tot")
      df.join(broadcast(dict), Seq(c), "left")
    }
  }

  /** E5 — binary encoding: alphabetical label code -> binary digit columns
    * `{c}_bin_{i}`, i=0 is the MOST significant bit (category_encoders
    * convention; `…:273-282`). */
  case class BinaryEncode(c: String, dropOriginal: Boolean = false) extends TableOp {
    def describe = s"binary encode $c"
    def apply(df: DataFrame): DataFrame = {
      val dict = labelDictionary(df, c).persist()
      val nCats = dict.count()
      val bits = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nCats - 1))))
      val joined = df.join(broadcast(dict), Seq(c), "left")
      val withBits = (0 until bits).foldLeft(joined) { (d, i) =>
        d.withColumn(s"${c}_bin_$i",
          shiftright(col("__code"), bits - 1 - i).bitwiseAND(lit(1L)).cast(IntegerType))
      }
      dict.unpersist()
      val res = withBits.drop("__code")
      if (dropOriginal) res.drop(c) else res
    }
  }

  /** E6 — date expansion to 6 integer parts (`…:284-323`). `dayofweek` is
    * normalized to pandas convention Mon=0..Sun=6 (Spark is Sun=1..Sat=7)
    * — SURVEY §7.4(4). Accepts date/timestamp or string (parsed with
    * coalesce over the reference's 6 formats, null on failure). */
  case class DateExpand(c: String, dropOriginal: Boolean = true) extends TableOp {
    def describe = s"expand date parts of $c"
    def apply(df: DataFrame): DataFrame = {
      val src = df.schema(c).dataType match {
        case DateType | TimestampType => col(c).cast(DateType)
        case _ => coalesce(Encoding.referenceDateFormats.map(f => to_date(col(c), f)): _*)
      }
      val d = df
        .withColumn(s"${c}_year", year(src).cast(LongType))
        .withColumn(s"${c}_month", month(src).cast(LongType))
        .withColumn(s"${c}_day", dayofmonth(src).cast(LongType))
        .withColumn(s"${c}_dayofweek", pmod(dayofweek(src) + 5, lit(7)).cast(LongType))
        .withColumn(s"${c}_week", weekofyear(src).cast(LongType))
        .withColumn(s"${c}_quarter", quarter(src).cast(LongType))
      if (dropOriginal) d.drop(c) else d
    }
  }

  /** The reference's 6 accepted date formats — single source of truth in
    * [[graft.core.SchemaProfiler.DateFormats]]. */
  val referenceDateFormats: Seq[String] = graft.core.SchemaProfiler.DateFormats

  /** E8 — equi-depth (quantile) discretization: appends `<c>_bin` in
    * 1..k where each bin holds floor(n/k)..ceil(n/k) rows — the
    * QuantileDiscretizer/pd.qcut analogue, but EXACT: bin =
    * floor((rank-1)*k/n)+1 under the (value, tieCols...) total order,
    * the same integer formula as q29's quartile scores.
    *
    * Scale shape: the rank rides [[Ordinals.withGlobalRank]]'s
    * range-partitioned distributed prefix sum — never a
    * single-partition ntile window — and the bucket arithmetic is
    * map-only, so the op is one range sort at any scale. Rows with a
    * null value pass through with a null bin (matching pd.qcut). The
    * tie columns must complete a total order or ranks (and bins, at
    * bucket boundaries) would be nondeterministic under re-partitioning. */
  case class QuantileBin(c: String, k: Int, tieCols: Seq[String])
      extends TableOp {
    require(k >= 2, s"need at least 2 bins, got $k")
    def describe = s"equi-depth $k-bin of $c"
    def apply(df: DataFrame): DataFrame = {
      val out = s"${c}_bin"
      val nn = df.filter(col(c).isNotNull)
      val n = nn.count()
      require(n > 0, s"no non-null values in $c")
      val sort = col(c).asc +: tieCols.map(col(_).asc)
      val binned = Ordinals.withGlobalRank(nn, sort, "__qb_r")
        .withColumn(out,
          (floor(((col("__qb_r") - lit(1)) * lit(k)) / lit(n)) + lit(1))
            .cast(IntegerType))
        .drop("__qb_r")
      df.filter(col(c).isNull)
        .withColumn(out, lit(null).cast(IntegerType))
        .unionByName(binned)
    }
  }

  /** Out-of-fold (leakage-safe) target encoding — the cross-fitting
    * form of [[SmoothedTargetEncode]]: each row's encoding is the
    * m-smoothed category mean computed WITHOUT the row's own fold, so
    * the encoded feature never sees the row's own target (the leak that
    * makes naive target encoding overfit, and the reason sklearn's
    * TargetEncoder cross-fits by default). Folds are the deterministic
    * m5 rule: global rank over `tieCols` (a total order) mod k.
    *
    * Scale shape: one range-sorted rank pass assigns folds, ONE
    * map-side-combined aggregate produces the (category, fold) cell
    * stats — (k·|categories|)-sized after it — category totals
    * re-aggregate the CELLS, and the encoding dictionary broadcasts
    * back onto the frame. No per-fold scan: the complement stats are
    * total − own-cell. Exactness: target sums accumulate in
    * DECIMAL(18,6) (order-independent); the encoded value and the
    * global-mean prior are fixed double trees over those exact sums,
    * so the column replays bit-for-bit. Rows whose category never
    * appears with a non-null target get the global mean. */
  case class OofTargetEncode(c: String, target: String, k: Int,
                             tieCols: Seq[String], m: Double = 10.0)
      extends TableOp {
    require(k >= 2, s"need at least 2 folds, got $k")
    require(m >= 0, s"prior pseudo-count m must be >= 0, got $m")
    def describe = s"out-of-fold target encode $c by $target (k=$k, m=$m)"
    def apply(df: DataFrame): DataFrame = {
      val out = s"${c}_oof_encoded"
      val t = col(target).cast("decimal(18,6)")
      val folded = Ordinals.withGlobalRank(
          df, tieCols.map(col(_).asc), "__oof_r")
        .withColumn("__oof_f", pmod(col("__oof_r"), lit(k)).cast("int"))
        .drop("__oof_r")
      val cells = folded.groupBy(col(c).as("__cat"), col("__oof_f"))
        .agg(sum(t).as("__s"), count(t).as("__n"))
      val catTot = cells.groupBy("__cat")
        .agg(sum("__s").as("__cs"), sum("__n").as("__cn"))
      val tot = catTot.agg(sum("__cs").as("__ts"), sum("__cn").as("__tn"))
      val g = col("__ts").cast("double") / col("__tn").cast("double")
      // null-sum guard (r9): a (category, fold) cell whose targets are
      // all null has sum(t) = NULL (count = 0); coalescing both sums to
      // 0 keeps the complement arithmetic defined, and an all-null
      // category then really does land on the global prior g (m > 0).
      val dict = cells.join(broadcast(catTot), "__cat")
        .crossJoin(broadcast(tot))
        .select(col("__cat"), col("__oof_f").as("__dict_f"),
          (((coalesce(col("__cs"), lit(0)) - coalesce(col("__s"), lit(0)))
              .cast("double") + (lit(m) * g))
            / ((col("__cn") - col("__n")).cast("double") + lit(m)))
            .as(out))
      folded.join(broadcast(dict),
          folded(c) <=> dict("__cat") && col("__oof_f") === col("__dict_f"),
          "left")
        .drop("__cat", "__dict_f", "__oof_f")
    }
  }

  /** ORDERED target encoding (the CatBoost rule): each row's encoding
    * uses only the target values of SAME-CATEGORY rows that precede it
    * under a seeded pseudo-random permutation —
    * (sum_preceding + m*globalMean) / (count_preceding + m). Stronger
    * leakage protection than [[OofTargetEncode]]'s k-fold cross-fitting
    * (a row never sees even its own fold-mates), at the cost of
    * early-permutation rows riding mostly the prior.
    *
    * Scale shape: the permutation key is seeded md5 arithmetic (no
    * rand()); the per-category exclusive prefix sums come from TWO
    * RunningTotal scans under the ONE total order (category, key,
    * tie-break) minus a broadcast per-category offset dictionary — no
    * per-key window reducer, so a 50 TB majority category spreads
    * across the range sort like any other rows. Exactness: the target
    * rides as integer thousandths (exact in double), the prefix sums
    * are therefore exact integers, and the final encode is one fixed
    * double tree. Rows that repeat a `tieCols` tuple are ordered by the
    * remaining input columns. Nulls in the target are not supported
    * (document-level contract — filter or impute first). */
  case class OrderedTargetEncode(c: String, target: String,
                                 m: Double = 10.0, seed: Long = 42L,
                                 tieCols: Seq[String]) extends TableOp {
    require(m > 0, s"prior pseudo-count m must be > 0, got $m")
    def describe = s"ordered target encode $c by $target (m=$m, seed=$seed)"
    def apply(df: DataFrame): DataFrame = {
      val out = s"${c}_ord_encoded"
      val okey = Hashing.md5Int(concat_ws(":",
        (tieCols.map(col(_).cast("string")) :+ lit(seed).cast("string")): _*))
      // parallelism-gated exchange BEFORE the per-row md5 permutation
      // key (r15): a single-row-group fixture scan is one task, which
      // serialized the 600k-row md5 on one core; identity at data
      // scale (Parallelism.ensure doc). Column pruning pushes the
      // caller's projection below the repartition, so the exchange
      // ships only the used columns.
      val keyed = graft.core.Parallelism.ensure(df, tieCols.map(col): _*)
        .withColumn("__ok", okey)
        .withColumn("__ts", round(col(target).cast("double") * 1000, 0))
        .withColumn("__one", lit(1.0))
      // every other input column breaks what ties remain, so the order
      // is total up to rows equal in every column (interchangeable):
      // repeated tieCols tuples then encode the same under any
      // partitioning or input order. Project before calling to keep the
      // sort key narrow.
      val rest = df.columns.toSeq.filterNot((c +: tieCols).contains)
      val order = (col(c).asc +: col("__ok").asc +:
        tieCols.map(col(_).asc)) ++ rest.map(col(_).asc)
      val cum = Ordinals.withRunningTotals(keyed, order,
        Seq("__ts" -> "__cs", "__one" -> "__cn"))
      // per-category offsets: totals of all categories BEFORE this one
      // in the same (category asc) order — a dictionary-sized frame
      val catTot = keyed.groupBy(col(c).as("__cat"))
        .agg(sum("__ts").as("__cts"), sum("__one").as("__ctn"))
      val off = Ordinals.withRunningTotals(catTot, Seq(col("__cat").asc),
          Seq("__cts" -> "__ics", "__ctn" -> "__icn"))
        .select(col("__cat"), (col("__ics") - col("__cts")).as("__offs"),
          (col("__icn") - col("__ctn")).as("__offn"))
      val tot = keyed.agg(sum("__ts").as("__gs"), sum("__one").as("__gn"))
      val g = (col("__gs") / lit(1000.0)) / col("__gn")
      val exclS = (col("__cs") - col("__offs")) - col("__ts")
      val exclN = (col("__cn") - col("__offn")) - lit(1.0)
      cum.join(broadcast(off), cum(c) <=> col("__cat"))
        .crossJoin(broadcast(tot))
        .withColumn(out, ((exclS / lit(1000.0)) + (lit(m) * g))
          / (exclN + lit(m)))
        .drop("__cat", "__ok", "__ts", "__one", "__cs", "__cn",
          "__offs", "__offn", "__gs", "__gn")
    }
  }
}

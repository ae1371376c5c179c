package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantic type profiling — the Spark re-expression of the reference's
  * sample-based typing (reference `checking_data_formats_ui.py:296-314,
  * 403-416`): "true categorical" = string column that does not parse as
  * numeric; "date" = string column whose values parse >80% under one of
  * six explicit formats.
  *
  * Design for scale: the reference samples the first 100/10 rows; here we
  * compute exact parse-rates over the whole column in ONE aggregate pass
  * (a single scan, map-side combined — no per-column jobs, no collect
  * loops). For 100 TB inputs callers can profile on `df.sample(0.001)`.
  */
object SchemaProfiler {

  /** NA sentinels of the reference loader (`checking_data_formats_ui.py:285-290`). */
  val NaSentinels: Seq[String] =
    Seq("", "NA", "N/A", "NULL", "?", "none", "null", ".", " ")

  /** The reference's six accepted date formats (`checking_data_formats_ui.py:403-416`),
    * translated from strftime to DateTimeFormatter patterns. */
  val DateFormats: Seq[String] =
    Seq("M/d/yyyy", "M/d/yy", "d/M/yyyy", "yyyy-M-d", "d.M.yyyy", "yyyy/M/d")

  /** Replace sentinel strings with real nulls in every string column
    * (post-read pass — Spark CSV takes a single nullValue). */
  def normalizeNa(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case StringType =>
          when(trim(col(f.name)).isin(NaSentinels: _*), lit(null))
            .otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** True when the string column parses under any of the six formats. */
  def parsesAsDate(c: Column): Column =
    DateFormats.map(f => to_date(c, f)).reduce(coalesce(_, _)).isNotNull

  private val numericTypes: Set[DataType] = Set(
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  def isNumericField(f: StructField): Boolean = f.dataType match {
    case _: DecimalType => true
    case t => numericTypes(t)
  }

  /** Keep only numeric (optionally + boolean) columns — the reference's
    * `select_dtypes(include=['number'])` (P2). */
  def numericProjection(df: DataFrame, includeBool: Boolean = false): DataFrame = {
    val keep = df.schema.fields.filter(f =>
      isNumericField(f) || (includeBool && f.dataType == BooleanType))
    df.select(keep.map(f => col(f.name)).toSeq: _*)
  }

  /** One-pass per-column profile: null count, numeric-parse count, date-parse
    * count, distinct count (nulls excluded; -0.0/0.0 and NaN grouped as
    * `count_distinct` groups them). Output one row per column:
    * (column, n_rows, null_count, numeric_count, date_count, distinct_count,
    *  semantic).
    *
    * One scan, exploded to one row per (input row, column): column i's
    * value rides its own typed slot `v<i>` (the other slots null) with its
    * null, numeric-parse and date-parse flags. Grouping by (i, slots)
    * yields each column's distinct values; one global aggregate then sums
    * the flags per column and counts the non-null groups. Spark's own
    * rewrite of several `count_distinct` (an Expand) has the same shape
    * but orders its groups by hash, so each call on a re-read frame planned
    * different code and recompiled it (6 classes a call).
    */
  def profile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val n = fields.length
    val flag = (b: Column) => when(b, 1).otherwise(0)
    val slots = fields.zipWithIndex.map { case (f, i) =>
      val c = col(f.name)
      val nums = f.dataType match {
        case StringType => c.cast(DoubleType).isNotNull
        case _ if isNumericField(f) => c.isNotNull
        case _ => lit(false)
      }
      val dates = f.dataType match {
        case StringType => parsesAsDate(c)
        case DateType | TimestampType => c.isNotNull
        case _ => lit(false)
      }
      struct((lit(i).as("i") +: fields.zipWithIndex.map { case (g, j) =>
        (if (j == i) c else lit(null).cast(g.dataType)).as(s"v$j")
      }) ++ Seq(flag(c.isNull).as("nul"), flag(nums).as("num"),
        flag(dates).as("dat")): _*)
    }
    val values = df.select(explode(array(slots: _*)).as("r")).select("r.*")
      .groupBy((col("i") +: (0 until n).map(j => col(s"v$j"))): _*)
      .agg(count(lit(1)).as("rows"), sum("nul").as("nul"), sum("num").as("num"),
        sum("dat").as("dat"))
    // Single wide aggregate row: 4 metrics per column.
    val of = (i: Int, c: Column) => coalesce(sum(when(col("i") === i, c)), lit(0L))
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      Seq(of(i, col("nul")).as(s"nulls_${f.name}"),
        of(i, col("num")).as(s"nums_${f.name}"),
        of(i, col("dat")).as(s"dates_${f.name}"),
        count(when(col("i") === i && col("nul") === 0, 1)).as(s"dist_${f.name}"))
    } :+ of(0, col("rows")).as("n_rows")

    val row = values.agg(aggs.head, aggs.tail: _*)
    // Melt the single wide row into one row per column (n is tiny: driver-free
    // via stack, stays a DataFrame).
    val stackExpr = df.columns.map { c =>
      s"'$c', `nulls_$c`, `nums_$c`, `dates_$c`, `dist_$c`"
    }.mkString(s"stack($n, ", ", ", ") as (column, null_count, numeric_count, date_count, distinct_count)")
    val melted = row.selectExpr("n_rows", stackExpr)
    val dtypeOf = map(df.schema.fields.flatMap(f =>
      Seq(lit(f.name), lit(f.dataType.simpleString))).toSeq: _*)
    melted
      .withColumn("dtype", dtypeOf(col("column")))
      .withColumn("non_null", col("n_rows") - col("null_count"))
      .withColumn("semantic",
        when(col("dtype").isin("int", "bigint", "double", "float", "smallint", "tinyint")
          || col("dtype").startsWith("decimal"), lit("numeric"))
          .when(col("dtype") === "boolean", lit("boolean"))
          .when(col("dtype").isin("date", "timestamp"), lit("date"))
          .when(col("non_null") > 0 && col("date_count") > col("non_null") * 0.8, lit("date"))
          .when(col("non_null") > 0 && col("numeric_count") === col("non_null"), lit("numeric_string"))
          .otherwise(lit("categorical")))
      .select(col("column"), col("dtype"), col("n_rows"), col("null_count"),
        col("numeric_count"), col("date_count"), col("distinct_count"), col("semantic"))
  }
}

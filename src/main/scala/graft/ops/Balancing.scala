package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.TableOp

/** Sampling / balancing / trimming (SURVEY §2.4 B1, B3, B6, B12-B14;
  * reference `preprocessing/data_balancing/`).
  *
  * Scale design: all class-wise caps rank via `Ordinals.withPerKeyRank`
  * (one range-sorted running count that restarts per class) — a hot
  * majority class spreads over MANY partitions instead of sorting
  * through the one reducer a `Window.partitionBy(class)` would assign it.
  * Per-class counts, where a cap reads them, travel as a broadcast
  * dictionary.
  * Random paths thread explicit seeds (reference pins random_state=42).
  * A `rand(seed)` order is reproducible for a fixed input layout (the
  * same files read into the same partitions), not across
  * partitionings: `rand` draws per partition, so repartitioned input
  * gives a different, equally valid, sample.
  * Every trim supports a DETERMINISTIC order (for reproducible pipelines
  * and oracle checks) or a seeded-random order (reference semantics).
  */
object Balancing {

  /** Per-class counts as a small dictionary frame. */
  def classCounts(df: DataFrame, target: String): DataFrame =
    df.groupBy(col(target)).agg(count(lit(1)).as("__n"))

  /** Broadcast the component-label table only under a PROVEN row bound
    * (r14-VERDICT #3): comp has one row per id appearing in `pairs` —
    * at 100 TB a near-dup label table can reach hundreds of millions of
    * rows, a driver-OOM broadcast if hinted unconditionally. */
  private val CompBroadcastLimit = 4L * 1000 * 1000

  /** Component labels for [[groupSplit]]/[[groupFolds]], materialized
    * once (the gate's count is then a free block scan, and the join
    * never re-executes the union-find lineage) and broadcast-hinted
    * only when provably small; above the limit the plain join lets the
    * planner/AQE pick a scale-safe strategy over the real stats. */
  private def componentLabels(pairs: DataFrame, idCol: String): DataFrame = {
    val comp = graft.core.Materialize.frame(Dedup.components(pairs))
      .withColumnRenamed("id", idCol)
    if (comp.count() <= CompBroadcastLimit) broadcast(comp) else comp
  }

  /** Leakage-safe GROUP k-fold assignment — [[groupSplit]]'s contract
    * extended to cross-validation: every near-dup cluster lands WHOLE
    * in one of `k` folds (fold = seeded md5 of the component key mod
    * k), so no CV fold ever validates against a near-duplicate of its
    * own training data. Same deterministic hash routing, same
    * broadcast-able component join; fold sizes are approximate at
    * group granularity. Returns df + an integer `fold` column. */
  def groupFolds(df: DataFrame, idCol: String, pairs: DataFrame,
                 k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    df.join(componentLabels(pairs, idCol), Seq(idCol), "left")
      .withColumn("fold",
        pmod(Hashing.md5Int(concat_ws(":",
          coalesce(col("comp"), col(idCol)).cast("string"), lit(seed))),
          lit(k.toLong)))
      .drop("comp")
  }

  /** Balanced class weights — n / (k · n_c) per class (the standard
    * "balanced" heuristic): the weighting alternative to resampling
    * (B2-B14 move rows; weights move the LOSS, feed MLlib's weightCol
    * and no data is duplicated or dropped — at 100 TB the only sane
    * option for mild imbalance). One dictionary-sized aggregate; the
    * division is a single double op per class, engine-exact. */
  def classWeights(df: DataFrame, target: String): DataFrame = {
    val counts = classCounts(df, target)
    val n = df.count()
    val k = counts.count()
    counts.select(col(target), col("__n").as("n_rows"),
      (lit(n.toDouble) / (lit(k.toDouble) * col("__n"))).as("weight"))
  }

  /** B1 — random train/test split with seed
    * (`data_balancing_list_method_ui.py:197-199`). */
  def randomSplit(df: DataFrame, testFraction: Double, seed: Long): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(1 - testFraction, testFraction), seed)
    (train, test)
  }

  /** B1 stratified — EXACT per-class split (sklearn stratify=y parity:
    * every class contributes floor(n_c * testFraction) rows to test):
    * seeded-random per-key rank, threshold at the class's exact test
    * quota (`cross_validation_optuna_logic.py:58-60`).
    *
    * The ranked frame is materialized once ([[graft.core.Materialize]])
    * because it has TWO consumers: two filters over one lazy plan would
    * re-run the whole upstream (input read, any undersampling rank, this
    * rank) once per side. Over one execution both sides see the same
    * ranks, so they are disjoint and cover the input by construction.
    * The `rand(seed)` order is reproducible for a fixed input layout,
    * not across partitionings. */
  def stratifiedSplit(df: DataFrame, target: String, testFraction: Double,
                      seed: Long): (DataFrame, DataFrame) = {
    val tagged = graft.core.Materialize.frame(Ordinals.withPerKeyRank(
        withClassCount(df, target), target, Seq(rand(seed)), "__rn"))
      .withColumn("__quota", floor(col("__cn") * testFraction))
    (tagged.filter(col("__rn") > col("__quota")).drop("__rn", "__quota", "__cn"),
     tagged.filter(col("__rn") <= col("__quota")).drop("__rn", "__quota", "__cn"))
  }

  /** Leakage-safe split: near-dup CLUSTERS never straddle the train/test
    * boundary (a test doc with a train-side near-duplicate is a leaked
    * answer — the failure mode group-wise splitting exists for). Each
    * doc's group = its connected component over `pairs` (its own id when
    * unpaired); the group key hash-routes the whole cluster to one side.
    * Deterministic (seeded md5 arithmetic, no rand()), one broadcast-able
    * join against the component labels (pair graphs are pruned-small),
    * map-only otherwise. Returns df + a `split` column ('train'/'test');
    * testFraction is approximate at group granularity — exact fractions
    * are impossible without splitting a cluster. */
  def groupSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                 testFraction: Double, seed: Long = 42L): DataFrame = {
    df.join(componentLabels(pairs, idCol), Seq(idCol), "left")
      .withColumn("split",
        when(pmod(Hashing.md5Int(concat_ws(":",
            coalesce(col("comp"), col(idCol)).cast("string"), lit(seed))),
          lit(1000L)) < lit(math.round(testFraction * 1000)), "test")
          .otherwise("train"))
      .drop("comp")
  }

  /** B3 — random undersample every class to ~the minority size
    * (`data_balancing_list_method_logic.py:24-32`). Exact-size per class via
    * per-key rank over a seeded-random order (not Bernoulli — reference
    * RandomUnderSampler is exact). Which rows survive is reproducible
    * for a fixed input layout, not across partitionings (`rand(seed)`
    * draws per partition). */
  case class Undersample(target: String, seed: Long = 42L) extends TableOp {
    def describe = s"undersample classes of $target to minority size"
    def apply(df: DataFrame): DataFrame = {
      val minCount = classCounts(df, target).agg(min("__n")).first().getLong(0)
      trimPerClass(df, target, lit(minCount), orderBy = rand(seed))
    }
  }

  /** B6 — random oversample minority classes to EXACTLY the majority size
    * (`…logic.py:57-65`; imblearn RandomOverSampler is exact-size): every
    * row is duplicated deficit/n times, and the remainder goes to the
    * first `deficit % n` rows of a seeded-random per-key ranking + an
    * explode, fully distributed. */
  case class Oversample(target: String, seed: Long = 42L) extends TableOp {
    def describe = s"oversample classes of $target to majority size"
    def apply(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val counts = classCounts(df, target).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      val maxCount = counts.values.max
      // ONE pass: per-class quotas as a broadcast dictionary, remainder
      // assigned by in-class seeded rank, duplication via explode
      val quotaRows = counts.toSeq.map { case (cls, n) =>
        val deficit = maxCount - n
        org.apache.spark.sql.Row(cls, deficit / n, deficit % n)
      }
      val quotaSchema = org.apache.spark.sql.types.StructType(Seq(
        df.schema(target),
        org.apache.spark.sql.types.StructField("__per_row", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__extra", org.apache.spark.sql.types.LongType)))
      val quota = spark.createDataFrame(
        spark.sparkContext.parallelize(quotaRows, 1), quotaSchema)
      Ordinals.withPerKeyRank(df.join(broadcast(quota), Seq(target)),
          target, Seq(rand(seed)), "__rn")
        .withColumn("__copies",
          lit(1L) + col("__per_row") + when(col("__rn") <= col("__extra"), 1L).otherwise(0L))
        .withColumn("__i", explode(sequence(lit(1L), col("__copies"))))
        .drop("__rn", "__copies", "__i", "__per_row", "__extra")
        .select(df.columns.map(col): _*)
    }
  }

  /** B12 — trim to at most N rows per class
    * (`dataset_trim_window_logic.py:16-27`). Deterministic when orderCols
    * given; else seeded-random (reference `df.sample(n, seed)`). */
  case class TrimEqual(target: String, n: Long, orderCols: Seq[String] = Nil,
                       seed: Long = 42L) extends TableOp {
    def describe = s"trim to <=$n rows per class of $target"
    def apply(df: DataFrame): DataFrame =
      trimPerClass(df, target, lit(n), orderExpr(orderCols, seed))
  }

  /** B13 — proportional trim: scale every class by maxTotal/total, floor,
    * keep >=1 per class (`…logic.py:29-43`). */
  case class TrimProportional(target: String, maxTotal: Long,
                              orderCols: Seq[String] = Nil, seed: Long = 42L) extends TableOp {
    def describe = s"trim classes of $target proportionally to <=$maxTotal total"
    def apply(df: DataFrame): DataFrame = {
      val total = df.count()
      if (total <= maxTotal) df
      else {
        val f = maxTotal.toDouble / total
        val cap = greatest(lit(1L), floor(col("__cn") * f))
        trimPerClass(withClassCount(df, target), target, cap,
          orderExpr(orderCols, seed))
      }
    }
  }

  /** B14 — cap only the largest class at N, pass others through
    * (`…logic.py:45-58`). */
  case class TrimMajority(target: String, n: Long, orderCols: Seq[String] = Nil,
                          seed: Long = 42L) extends TableOp {
    def describe = s"cap majority class of $target at $n"
    def apply(df: DataFrame): DataFrame = {
      val top = classCounts(df, target).orderBy(desc("__n"), asc(target)).first()
      val majority = top.get(0)
      val cap = when(col(target) <=> lit(majority), lit(n)).otherwise(col("__cn"))
      trimPerClass(withClassCount(df, target), target, cap, orderExpr(orderCols, seed))
    }
  }

  /** B4 — ClusterCentroids: replace every over-represented class with the
    * k-means centroids of its rows, k = minority-class size
    * (`data_balancing_list_method_logic.py:35-43`). The fit is
    * [[GridKMeans]] (r13): exact Lloyd whose assign step is a broadcast
    * cell-grid ring search — ~ring-occupancy centroids touched per row
    * instead of all k, one job per iteration — replacing the MLlib fit
    * whose flat O(rows * k) distance scan was the measured 19 s sf1
    * floor (k = minority size is corpus-scale here, not "a few
    * clusters"). Same contract: euclidean on raw features, seeded
    * random init, k centroid rows per over-represented class. */
  case class ClusterCentroids(target: String, features: Seq[String],
                              seed: Long = 42L, maxIter: Int = 10) extends TableOp {
    def describe = s"cluster-centroid undersample classes of $target"
    def apply(df: DataFrame): DataFrame = {
      val counts = classCounts(df, target).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      val minCount = counts.values.min
      // One seeded k-means per over-represented class, independent fits
      // with long serial driver phases — submitted as CONCURRENT Spark
      // jobs (graft.core.Concurrent) so the Lloyd iterations of the
      // classes interleave. Deterministic: per-class inputs, shared
      // fixed seed, results ordered by class.
      val parts = graft.core.Concurrent.inParallel(
        counts.toSeq.sortBy(_._1.toString).map { case (cls, n) => () =>
          val sub = df.filter(col(target) <=> lit(cls))
          if (n <= minCount) sub.select((features.map(c => col(c).cast("double").as(c)) :+
            col(target)): _*)
          else {
            val cents = GridKMeans.fit(sub, features, minCount.toInt,
              seed, maxIter)
            val rows = cents.toSeq.map(v =>
              org.apache.spark.sql.Row.fromSeq(v.toSeq :+ cls))
            val schema = org.apache.spark.sql.types.StructType(
              features.map(c => org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.types.DoubleType)) :+
                df.schema(target))
            df.sparkSession.createDataFrame(
              df.sparkSession.sparkContext.parallelize(rows, 1), schema)
          }
        })
      parts.reduce(_ unionByName _)
    }
  }

  /** Attach each row's class count as `__cn` via a NULL-SAFE broadcast
    * join of the class dictionary (null classes keep their count too). */
  private def withClassCount(df: DataFrame, target: String): DataFrame = {
    val counts = classCounts(df, target)
      .select(col(target).as("__k"), col("__n").as("__cn"))
    df.join(broadcast(counts), col(target) <=> col("__k")).drop("__k")
  }

  /** Shared kernel: keep the first `cap` rows per class under `orderBy`
    * (`cap` may reference the class count `__cn` when `df` went through
    * [[withClassCount]]; a literal cap needs neither the count aggregate
    * nor its join). Per-class ranks come from one range-sorted running
    * count — no per-class reducer. */
  private def trimPerClass(df: DataFrame, target: String, cap: Column,
                           orderBy: Column): DataFrame = {
    Ordinals.withPerKeyRank(df, target, Seq(orderBy), "__rn")
      .withColumn("__cap", cap)
      .filter(col("__rn") <= col("__cap"))
      .drop("__rn", "__cap", "__cn")
  }

  /** Deterministic per-group uniform sample: the k rows with the
    * SMALLEST seeded row hashes — "give me a reproducible 100-doc
    * sample of every source" without a shuffle of the data. The
    * bottom-k selection rides the bounded-state `topk_pairs` aggregate
    * (O(k) state per group, map-side truncation), so at 100 TB the
    * shuffle moves k (hash, id) pairs per group, never rows; the
    * sample is a pure function of (id, seed) — partitioning-proof and
    * oracle-replayable (row_number over (hash, id)). The hash is the
    * 52-bit md5 prefix of "id_seed": exact as a double, and ties (p ~
    * n²/2^53) are broken by id inside the aggregate's (dist, id)
    * lexicographic order, so even a collision stays deterministic.
    * Output: (group, sample_rank 1..k, id); join back on the id for
    * full rows. */
  def hashSample(df: DataFrame, groupCol: String, idCol: String, k: Int,
                 seed: Long = 42L): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    // r11 (ADVICE): a non-integral id would cast to null below and be
    // silently dropped inside topk_pairs, shrinking the sample — fail
    // loudly at plan time instead.
    val idType = df.schema(idCol).dataType
    val integral = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(integral,
      s"hashSample: idCol '$idCol' must be integral (byte/short/int/long), " +
        s"got $idType — non-numeric ids cast to null and silently shrink " +
        "the sample")
    val h = conv(substring(md5(concat(col(idCol).cast("string"),
      lit("_"), lit(seed.toString))), 1, 13), 16, 10).cast("double")
    df.filter(col(groupCol).isNotNull && col(idCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(call_function("topk_pairs", h, col(idCol).cast("long"),
        lit(k)).as("__s"))
      .select(col(groupCol), posexplode(col("__s")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("sample_rank"),
        col("col.nbr_id").as(idCol))
  }

  /** Weighted (probability-proportional-to-size) SYSTEMATIC sample:
    * k ticks at multiples of W/k walk the hash-shuffled cumulative
    * weight line, and each row is picked floor(cum*k/W) -
    * floor((cum-w)*k/W) times — the classic systematic PPS design
    * (every row's expected pick count is exactly k*w/W; rows heavier
    * than W/k are picked multiple times, reported in `n_picks`).
    * "Sample documents proportional to quality/length" for mixture
    * building, with NO transcendentals: weights quantize to integer
    * thousandths, the cumulative line is one [[Ordinals.withRunningTotal]]
    * range sort in (row-hash, id) order, and every pick decision is
    * 64-bit integer division — deterministic under any partitioning
    * and bit-replayable by the oracle (sum() OVER the same order).
    * The one range sort is the price of strict PPS; the A-ES
    * exponential-keys alternative needs pow/ln whose last-ulp
    * engine differences break exact replay. Σ n_picks = k exactly. */
  def weightedSystematicSample(df: DataFrame, idCol: String,
                               weightCol: String, k: Int,
                               seed: Long = 42L): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val base = df.filter(col(idCol).isNotNull && col(weightCol).isNotNull)
      .select(col(idCol).as("__id"),
        round(col(weightCol).cast("double") * lit(1000.0), 0)
          .cast("long").as("__w"),
        conv(substring(md5(concat(col(idCol).cast("string"), lit("_"),
          lit(seed.toString))), 1, 13), 16, 10).cast("long").as("__h"))
      .filter(col("__w") > 0L)
    val cum = Ordinals.withRunningTotal(base,
      Seq(col("__h").asc, col("__id").asc), "__w", "__cum")
    val tot = cum.agg(max("__cum").as("__tw"))
    // RunningTotal emits the (integer-valued) prefix sum as DOUBLE; it is
    // exact below 2^53, and multiplying by k must stay below 2^63 once in
    // BIGINT. r11 (ADVICE): cast to BIGINT BEFORE the *k product (the old
    // DOUBLE product lost exactness past 2^53 total-milli-weight*k and
    // silently drifted picks) and make the remaining headroom limit LOUD.
    val cumSafe = math.min(9007199254740992.0, // 2^53: prefix-sum exactness
      (Long.MaxValue / k.toLong).toDouble)     // 2^63/k: product headroom
    val guardMsg = "weightedSystematicSample: total milli-weight * k " +
      s"exceeds integer headroom (max cum ${cumSafe.toLong}) — picks " +
      "would silently drift; rescale weights or reduce k"
    cum.crossJoin(broadcast(tot))
      .withColumn("__m",
        when(col("__tw") <= lit(cumSafe),
          expr(s"(CAST(__cum AS BIGINT) * $k div CAST(__tw AS BIGINT)) - " +
            s"(CAST(__cum - __w AS BIGINT) * $k div CAST(__tw AS BIGINT))"))
          .otherwise(raise_error(lit(guardMsg)).cast("long")))
      .filter(col("__m") > 0L)
      .select(col("__id").as(idCol), col("__w").as("weight_milli"),
        col("__m").cast("long").as("n_picks"))
  }

  private def orderExpr(orderCols: Seq[String], seed: Long): Column =
    if (orderCols.nonEmpty) struct(orderCols.map(col): _*) else rand(seed)
}

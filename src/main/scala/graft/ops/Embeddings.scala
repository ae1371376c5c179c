package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Embedding-space curation for training-data pipelines: PCA projection,
  * whitening, and cluster-coverage diversity sampling — the reduce/
  * decorrelate/diversify steps semantic-dedup and data-mixing recipes
  * (e.g. SemDeDup, Abbas et al. 2023 — public method) run before
  * clustering or sampling at scale.
  *
  * Scale shapes: PCA is MLlib's (one distributed Gram/covariance pass,
  * driver-side eigendecomposition of the d x d matrix — d is the
  * embedding width, driver-sized by definition). Whitening standardizes
  * the k projected dims with ONE aggregate pass (k plan-time-known
  * codegen aggregates, no explode) and applies driver-collected scale
  * constants map-only. Diversity sampling reuses [[AnnIndex.build]]'s
  * k-means cells and ranks within cells via the range-sorted per-cell
  * ordinal ([[Ordinals.withPerKeyRank]]) — no per-cell single reducer,
  * no keyless window.
  */
object Embeddings {

  /** PCA projection of `vecCol` to `k` dims: (id, proj array<double>).
    * MLlib PCA centers via the covariance computation; the transform
    * projects raw vectors (standard MLlib contract). */
  def pcaProject(df: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val v = df.select(col(idCol).as("id"),
      array_to_vector(col(vecCol).cast("array<double>")).as("__fv"))
    val model = new PCA().setK(k).setInputCol("__fv").setOutputCol("__pc").fit(v)
    model.transform(v).select(col("id"), vector_to_array(col("__pc")).as("proj"))
  }

  /** Fit the per-dim (mean, stddev) scaler for [[applyWhiten]]: one
    * aggregate pass collecting 2k driver-sized stats (k plan-time
    * codegen aggregates, no explode). This is the FIT half of
    * fit-on-corpus / apply-on-stream: fit once on the reference batch,
    * [[saveWhitenStats]] the table, and every later batch or stream
    * applies the FROZEN scaler — refitting per micro-batch would make
    * scores incomparable across time (and an aggregate can't run in a
    * streaming map anyway). */
  def whitenStats(df: DataFrame, projCol: String): Array[(Double, Double)] = {
    val k = df.select(max(size(col(projCol))).as("k")).head().getInt(0)
    val stats: Row = df.select(
      (0 until k).flatMap(i => Seq(
        avg(element_at(col(projCol), i + 1)).as(s"m$i"),
        stddev_samp(element_at(col(projCol), i + 1)).as(s"s$i"))): _*).head()
    (0 until k).map(i => (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))).toArray
  }

  /** Per-dim standardized columns under a frozen scaler — shared by
    * [[applyWhiten]] and [[outlierScore]] so the two can never drift. A
    * zero-variance dim passes through centered but unscaled. */
  private def whitenExprs(projCol: String,
                          stats: Array[(Double, Double)]): Seq[org.apache.spark.sql.Column] =
    stats.toSeq.zipWithIndex.map { case ((m, s), i) =>
      val centered = element_at(col(projCol), i + 1) - lit(m)
      if (s > 0.0) centered / lit(s) else centered
    }

  /** Apply a frozen whitening scaler: MAP-ONLY (a plan-time-generated
    * `array(...)` of k codegen expressions, no higher-order-function
    * lambdas, no aggregate) — so it runs unchanged on a STREAMING
    * DataFrame: fit with [[whitenStats]] on the reference corpus, load
    * the frozen table at stream start, and every micro-batch whitens in
    * the map stage with zero state and zero shuffle. */
  def applyWhiten(df: DataFrame, projCol: String, stats: Array[(Double, Double)],
                  outCol: String = "white"): DataFrame =
    df.withColumn(outCol, array(whitenExprs(projCol, stats): _*))

  /** Standardize each dim of an array column to mean 0 / stddev 1
    * (whitening when the input is a PCA projection — projected dims are
    * already uncorrelated, so per-dim scaling yields ~identity
    * covariance): [[whitenStats]] + [[applyWhiten]] in one call, the
    * batch convenience form. */
  def whiten(df: DataFrame, projCol: String, outCol: String = "white"): DataFrame =
    applyWhiten(df, projCol, whitenStats(df, projCol), outCol)

  /** Persist / restore a whitening scaler as a (dim, mean, stddev)
    * parquet table THROUGH SPARK's writer — works on any Hadoop
    * filesystem (hdfs:// s3a:// file://), not just the local disk. */
  def saveWhitenStats(spark: org.apache.spark.sql.SparkSession,
                      stats: Array[(Double, Double)], path: String): Unit = {
    import spark.implicits._
    stats.toSeq.zipWithIndex.map { case ((m, s), i) => (i, m, s) }
      .toDF("dim", "mean", "stddev")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadWhitenStats(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[(Double, Double)] =
    spark.read.parquet(path).select("dim", "mean", "stddev")
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getDouble(1), r.getDouble(2))).toArray

  /** Embedding outlier score under a frozen scaler: the L2 norm of the
    * whitened vector = the (diagonal) Mahalanobis distance — EXACT
    * Mahalanobis when `projCol` is a PCA projection (PCA diagonalizes
    * the covariance, so the diagonal is the whole story). The standard
    * "far from the corpus" signal for pruning mis-embedded or
    * out-of-domain rows before semantic dedup; map-only, so it scores
    * a 100 TB scan or a live stream at wire speed. */
  def outlierScore(df: DataFrame, projCol: String, stats: Array[(Double, Double)],
                   outCol: String = "outlier_score"): DataFrame =
    df.withColumn(outCol,
      sqrt(whitenExprs(projCol, stats).map(c => c * c).reduce(_ + _)))

  /** Cluster-coverage downsampling: k-means into `nlist` cells
    * ([[AnnIndex.build]]), keep up to `perCell` rows per cell by
    * deterministic seeded-hash rank. Every non-empty cell is
    * represented (perCell >= 1), so the sample preserves the corpus's
    * semantic coverage instead of its density — the standard
    * de-biasing sample for dominant-topic corpora. Returns
    * (id, cell). */
  def diversitySample(df: DataFrame, vecCol: String, idCol: String,
                      nlist: Int, perCell: Int, seed: Long = 42L): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val ix = AnnIndex.build(df.select(col(idCol), col(vecCol)), vecCol, idCol,
      nlist, seed)
    Ordinals.withPerKeyRank(ix.cells.select(col("corpus_id"), col("cell")),
        "cell", Seq(xxhash64(col("corpus_id"), lit(seed))), "__rn")
      .filter(col("__rn") <= perCell)
      .select(col("corpus_id").as("id"), col("cell"))
  }
}

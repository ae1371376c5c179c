package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for embedding search (Jégou et al. 2011) — the
  * memory-scale ANN path: a 64-dim float vector (256 B) becomes m
  * single-byte-range codes (m ints here; bytes on disk via parquet
  * dictionary encoding), and query scoring reads a per-query lookup
  * table instead of doing per-dimension arithmetic.
  *
  * Division of labor, all Spark-first:
  *  - TRAIN on a deterministic sample: m independent MLlib k-means fits
  *    over sliced subvectors; the codebook collapses to
  *    `m * k * dsub` doubles of DRIVER state (m=8, k=16, dim=64 ->
  *    1 KB) that rides every later plan as a literal.
  *  - ENCODE map-only: the native `pq_encode` kernel
  *    ([[graft.functions.PqEncode]]) — no explode, no argmin
  *    aggregate, no shuffle; 100 TB of embeddings stream through in
  *    one pass.
  *  - SEARCH: queries precompute `pq_lut` tables (m*k doubles each,
  *    broadcast), the code corpus cross-joins the broadcast and sums m
  *    table reads per candidate via `pq_adc` — whole-stage codegen end
  *    to end, then the salted two-phase top-k (no per-query single
  *    reducer).
  *
  * Exactness contract: ADC is an approximation of squared L2 by
  * construction (that's the published algorithm, not an implementation
  * shortcut); the driver entry hashes construction invariants and the
  * spec pins recall against the exact scan.
  */
object Pq {

  /** Flat trained codebook: `cents[(s*k + c)*dsub + j]`, `dsub = dim/m`. */
  case class Codebooks(m: Int, k: Int, dim: Int, cents: Array[Double]) {
    private[ops] def centsCol: Column = typedLit(cents.toSeq)
  }

  /** Fit per-subspace codebooks on a deterministic sample (first
    * `sampleRows` by id — TakeOrdered, driver-bounded). `dim` must
    * divide into `m` equal subspaces. */
  def train(df: DataFrame, vecCol: String, idCol: String, m: Int = 8,
            k: Int = 16, sampleRows: Int = 10000, seed: Long = 42L): Codebooks = {
    // The sample is DRIVER-BOUNDED by contract (TakeOrdered of
    // `sampleRows` rows), so the subspace fits run driver-local (r14):
    // the former m MLlib KMeans fits each scheduled ~50 tiny Spark jobs
    // over the 1-2-task sample (k-means|| init + one job per Lloyd
    // iteration) — s22/s24/s25 ran 450+ jobs of pure scheduling floor,
    // and at cluster scale those driver round-trips serialize identically.
    // Seeded k-means++ init + Lloyd over <= sampleRows x dim doubles is
    // deterministic (pure function of the sorted sample and the seed)
    // and partitioning-independent. Codebook quality is equivalent
    // (PqSpec's recall floors and structural pins are the contract;
    // exact MLlib centroid parity never was — k-means|| is itself
    // sample-and-seed specific).
    val rows = df.orderBy(col(idCol)).limit(sampleRows)
      .select(col(vecCol).cast("array<double>").as("cv"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pq: empty training sample")
    val dim = rows.head.length
    require(dim % m == 0, s"pq: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cents = new Array[Double](m * k * dsub)
    graft.core.Concurrent.inParallel((0 until m).map { s => () =>
      val pts = rows.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val cs = lloydLocal(pts, k, seed + s)
      cs.zipWithIndex.foreach { case (cent, c) =>
        System.arraycopy(cent, 0, cents, (s * k + c) * dsub, dsub)
      }
    })
    Codebooks(m, k, dim, cents)
  }

  /** Seeded k-means++ init + Lloyd, driver-local, deterministic:
    * `restarts` independent seeded inits, keep the lowest-WCSS run
    * (compensates for MLlib's heavier k-means|| init at negligible cost
    * on a driver-bounded sample). Empty clusters keep their previous
    * centroid (MLlib behavior); k > |distinct points| pads by cycling
    * the points. */
  private[graft] def lloydLocal(pts: Array[Array[Double]], k: Int, seed: Long,
                                maxIter: Int = 60, restarts: Int = 5): Array[Array[Double]] = {
    var best: Array[Array[Double]] = null
    var bestCost = Double.MaxValue
    var r = 0
    while (r < restarts) {
      val cs = lloydOnce(pts, k, seed + 7919L * r, maxIter)
      var cost = 0.0
      var i = 0
      while (i < pts.length) {
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var j = 0
          val cc = cs(c); val p = pts(i)
          while (j < p.length) { val t = p(j) - cc(j); s += t * t; j += 1 }
          if (s < bd) bd = s
          c += 1
        }
        cost += bd; i += 1
      }
      if (cost < bestCost) { bestCost = cost; best = cs }
      r += 1
    }
    best
  }

  private def lloydOnce(pts: Array[Array[Double]], k: Int, seed: Long,
                        maxIter: Int, tol: Double = 1e-9): Array[Array[Double]] = {
    val n = pts.length
    val d = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val rng = new scala.util.Random(seed)
    // k-means++ seeding over the sample
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var tot = 0.0
      var i = 0
      while (i < n) {
        val dd = d2(pts(i), cents(c - 1))
        if (dd < minD(i)) minD(i) = dd
        tot += minD(i); i += 1
      }
      if (tot <= 0) cents(c) = pts((c - 1) % n).clone() // all-identical pad
      else {
        var r = rng.nextDouble() * tot
        var j = 0
        while (j < n - 1 && r > minD(j)) { r -= minD(j); j += 1 }
        cents(c) = pts(j).clone()
      }
      c += 1
    }
    // Lloyd
    val sums = Array.ofDim[Double](k, d)
    val cnt = new Array[Long](k)
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      java.util.Arrays.fill(cnt, 0L)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue
        var cc = 0
        while (cc < k) {
          val dd = d2(pts(i), cents(cc))
          if (dd < bd) { bd = dd; best = cc }
          cc += 1
        }
        cnt(best) += 1
        val sb = sums(best); val p = pts(i)
        var j = 0
        while (j < d) { sb(j) += p(j); j += 1 }
        i += 1
      }
      moved = false
      var cc = 0
      while (cc < k) {
        if (cnt(cc) > 0) {
          var j = 0
          var delta = 0.0
          while (j < d) {
            val nv = sums(cc)(j) / cnt(cc)
            val t = nv - cents(cc)(j); delta += t * t
            cents(cc)(j) = nv; j += 1
          }
          if (delta > tol) moved = true
        } // empty: keep previous centroid
        cc += 1
      }
      it += 1
    }
    cents
  }

  /** Map-only encoding: (idCol, codes array<int>). */
  def encode(df: DataFrame, vecCol: String, idCol: String,
             cb: Codebooks): DataFrame =
    df.select(col(idCol),
      call_function("pq_encode", col(vecCol).cast("array<double>"),
        cb.centsCol, lit(cb.m)).as("codes"))

  /** ADC top-k: for each query, the k corpus vectors with smallest
    * approximate squared L2 distance (ties on corpus id). The corpus
    * side carries CODES ONLY. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, cb: Codebooks): DataFrame = {
    val codes = encode(corpus, vecCol, idCol, cb)
      .withColumnRenamed(idCol, "corpus_id")
    val q = queries.select(col(idCol).as("query_id"),
      call_function("pq_lut", col(vecCol).cast("array<double>"),
        cb.centsCol, lit(cb.m)).as("__lut"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        call_function("pq_adc", col("codes"), col("__lut")).as("adc_d2"))
    Similarity.topKPerQuery(scored, k,
      score = "adc_d2", smallerIsBetter = true)
  }

  /** ADC shortlist + exact re-rank (the production IVFADC tail, Jégou
    * et al. §V): `pq_adc` prunes the corpus to `shortlist` candidates
    * per query — reading CODES only — then just those candidates'
    * true vectors are fetched (a join carrying |queries|·shortlist
    * rows, nothing corpus-sized) and re-ranked with exact distances.
    * Recall approaches the exact scan while the full-precision reads
    * stay O(shortlist/corpus). */
  def adcRerankTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    idCol: String, k: Int, cb: Codebooks,
                    shortlist: Int = 0): DataFrame = {
    val r = if (shortlist > 0) shortlist else 4 * k
    val cand = adcTopK(corpus, queries, vecCol, idCol, r, cb)
      .select("query_id", "corpus_id")
    val dp = (a: Column, b: Column) => call_function("dot_product", a, b)
    val cv = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = cand.join(cv, "corpus_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("corpus_id"),
        (dp(col("cv"), col("cv")) - lit(2.0) * dp(col("cv"), col("qv")) +
          dp(col("qv"), col("qv"))).as("d2"))
    Similarity.topKPerQuery(scored, k,
      score = "d2", smallerIsBetter = true)
  }

  /** Persisted PQ index: codes + full vectors + the flat codebook.
    * Codes are the SCAN side (m ints/vector — the table the ADC pass
    * reads); vectors exist only for the re-rank fetch, stored as their
    * own column-pruned table. The codebook and params are driver-sized.
    * Same durability contract as [[AnnIndex]]/[[LshIndex]]: appends
    * assign under the FROZEN codebook (no refit, no rewrite), deletes
    * are tombstoned ids filtered at load (Hadoop-FS probe, works on
    * hdfs/s3a), rebuild to reclaim. */
  case class PqIndex(cb: Codebooks, codes: DataFrame, vectors: DataFrame)

  def saveIndex(df: DataFrame, vecCol: String, idCol: String, cb: Codebooks,
                path: String, mode: String = "error"): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    encode(df, vecCol, idCol, cb).write.mode(mode).parquet(s"$path/codes")
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .write.mode(mode).parquet(s"$path/vectors")
    Seq((cb.m, cb.k, cb.dim, cb.cents.toSeq)).toDF("m", "k", "dim", "cents")
      .write.mode("overwrite").parquet(s"$path/codebook")
  }

  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): PqIndex = {
    val cbRow = spark.read.parquet(s"$path/codebook").head()
    val cb = Codebooks(cbRow.getAs[Int]("m"), cbRow.getAs[Int]("k"),
      cbRow.getAs[Int]("dim"), cbRow.getSeq[Double](3).toArray)
    def tombFiltered(t: DataFrame, id: String): DataFrame =
      if (LshIndex.hadoopExists(spark, s"$path/tombstones"))
        t.join(broadcast(spark.read.parquet(s"$path/tombstones")
          .toDF(id)), Seq(id), "left_anti")
      else t
    val id = spark.read.parquet(s"$path/codes").columns.head
    PqIndex(cb, tombFiltered(spark.read.parquet(s"$path/codes"), id),
      tombFiltered(spark.read.parquet(s"$path/vectors"), id))
  }

  /** Append new vectors under the frozen codebook. */
  def appendIndex(newVecs: DataFrame, vecCol: String, idCol: String,
                  cb: Codebooks, path: String): Unit = {
    encode(newVecs, vecCol, idCol, cb).write.mode("append").parquet(s"$path/codes")
    newVecs.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .write.mode("append").parquet(s"$path/vectors")
  }

  /** Tombstone ids out of the index (filtered by [[loadIndex]]). */
  def removeFromIndex(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol)).write.mode("append").parquet(s"$path/tombstones")

  /** ADC shortlist + exact re-rank against a LOADED index: the scan
    * reads codes only; true vectors join in for just the shortlist. */
  def indexTopK(ix: PqIndex, queries: DataFrame, vecCol: String,
                idCol: String, k: Int, shortlist: Int = 0): DataFrame = {
    val r = if (shortlist > 0) shortlist else 4 * k
    val idName = ix.codes.columns.head
    val q = queries.select(col(idCol).as("query_id"),
      call_function("pq_lut", col(vecCol).cast("array<double>"),
        ix.cb.centsCol, lit(ix.cb.m)).as("__lut"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = ix.codes.withColumnRenamed(idName, "corpus_id")
      .crossJoin(broadcast(q.select("query_id", "__lut")))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        call_function("pq_adc", col("codes"), col("__lut")).as("adc_d2"))
    val cand = Similarity.topKPerQuery(scored, r,
      score = "adc_d2", smallerIsBetter = true).select("query_id", "corpus_id")
    val dp = (a: Column, b: Column) => call_function("dot_product", a, b)
    val cv = ix.vectors.withColumnRenamed(idName, "corpus_id")
      .withColumnRenamed("v", "cv")
    val rescored = cand.join(cv, "corpus_id")
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .select(col("query_id"), col("corpus_id"),
        (dp(col("cv"), col("cv")) - lit(2.0) * dp(col("cv"), col("qv")) +
          dp(col("qv"), col("qv"))).as("d2"))
    Similarity.topKPerQuery(rescored, k,
      score = "d2", smallerIsBetter = true)
  }

  /** IVFADC (Jégou et al. 2011 §V: coarse quantizer + PQ codes): the
    * k-means cell assignment becomes the parquet PARTITION layout of
    * the code table, so a probe reads only its nprobe cells' code
    * directories (dynamic partition pruning) AND scans them as codes,
    * not vectors — the two pruning axes of billion-scale ANN composed.
    * Vectors are partitioned the same way; the re-rank fetch is both
    * cell-pruned and shortlist-sized. This variant quantizes RAW
    * vectors (not residuals) — one codebook serves every cell, trading
    * some quantization error for a driver-trivial artifact. */
  case class IvfAdc(cb: Codebooks, nlist: Int, centroids: DataFrame,
                    codes: DataFrame, vectors: DataFrame)

  def saveIvfAdc(df: DataFrame, vecCol: String, idCol: String, cb: Codebooks,
                 nlist: Int, path: String, seed: Long = 42L,
                 mode: String = "error"): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val ix = AnnIndex.build(df, vecCol, idCol, nlist, seed)
    ix.cells.select(col("corpus_id"), col("cell"),
        call_function("pq_encode", col("cv"), cb.centsCol, lit(cb.m)).as("codes"))
      .write.mode(mode).partitionBy("cell").parquet(s"$path/codes")
    ix.cells.select("corpus_id", "cell", "cv")
      .write.mode(mode).partitionBy("cell").parquet(s"$path/vectors")
    ix.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    Seq((cb.m, cb.k, cb.dim, cb.cents.toSeq, nlist))
      .toDF("m", "k", "dim", "cents", "nlist")
      .write.mode("overwrite").parquet(s"$path/codebook")
  }

  def loadIvfAdc(spark: org.apache.spark.sql.SparkSession,
                 path: String): IvfAdc = {
    val r = spark.read.parquet(s"$path/codebook").head()
    IvfAdc(Codebooks(r.getAs[Int]("m"), r.getAs[Int]("k"),
        r.getAs[Int]("dim"), r.getSeq[Double](3).toArray),
      r.getAs[Int]("nlist"),
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/vectors"))
  }

  /** Probe a loaded IVFADC index: nprobe nearest cells per query
    * (broadcast centroids), ADC over just those cells' CODE partitions,
    * exact re-rank over the shortlist's cell-pruned vectors. */
  def ivfAdcTopK(ix: IvfAdc, queries: DataFrame, vecCol: String,
                 idCol: String, k: Int, nprobe: Int = 2,
                 shortlist: Int = 0): DataFrame = {
    val r = if (shortlist > 0) shortlist else 4 * k
    val dp = (a: Column, b: Column) => call_function("dot_product", a, b)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      call_function("pq_lut", col(vecCol).cast("array<double>"),
        ix.cb.centsCol, lit(ix.cb.m)).as("__lut"))
    val qc = q.crossJoin(broadcast(ix.centroids))
      .select(col("query_id"), col("cell").as("corpus_id"),
        (dp(col("qv"), col("qv")) - lit(2.0) * dp(col("qv"), col("__cv")) +
          dp(col("__cv"), col("__cv"))).as("__d2"))
    val probes = Similarity.topKPerQuery(
        qc.select(col("query_id"), col("corpus_id"),
          col("__d2").as("adc_d2")), nprobe,
        score = "adc_d2", smallerIsBetter = true)
      .select(col("query_id"), col("corpus_id").as("cell"))
    val qp = q.select("query_id", "__lut").join(probes, "query_id")
    val scored = ix.codes.join(broadcast(qp), "cell")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), col("cell"),
        call_function("pq_adc", col("codes"), col("__lut")).as("adc_d2"))
    val cand = Similarity.topKPerQuery(scored, r,
        score = "adc_d2", smallerIsBetter = true)
      .select("query_id", "corpus_id", "cell")
    val rescored = cand.join(ix.vectors, Seq("cell", "corpus_id"))
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .select(col("query_id"), col("corpus_id"),
        (dp(col("cv"), col("cv")) - lit(2.0) * dp(col("cv"), col("qv")) +
          dp(col("qv"), col("qv"))).as("d2"))
    Similarity.topKPerQuery(rescored, k,
      score = "d2", smallerIsBetter = true)
  }

  /** Exact squared-L2 top-k (the recall reference for [[adcTopK]]):
    * same broadcast cross-join shape, native dot products. */
  def exactL2TopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                  idCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val dp = (a: Column, b: Column) => call_function("dot_product", a, b)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dp(col("cv"), col("cv")) - lit(2.0) * dp(col("cv"), col("qv")) +
          dp(col("qv"), col("qv"))).as("d2"))
    Similarity.topKPerQuery(scored, k,
      score = "d2", smallerIsBetter = true)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

/** Persisted MinHash-LSH index of an already-deduplicated corpus, and the
  * incremental near-dup check against it — the PRODUCTION dedup shape: a
  * daily batch is checked against years of history without re-shingling
  * (or re-shuffling) the history. The index holds three tables derived
  * once per corpus:
  *
  *   - `bandKeys` (id, key): one 64-bit LSH band hash per (doc, band) —
  *     [[Dedup.minhashBandKeys]] output, the candidate-join probe target;
  *   - `shingles` (id, __h): distinct 60-bit shingle hashes per doc —
  *     the exact-verify side;
  *   - `sizes` (id, n_sh): per-doc distinct shingle counts — the Jaccard
  *     denominator.
  *
  * At scale the new batch is orders of magnitude smaller than the index,
  * so [[incrementalPairs]] BROADCASTS the batch's band keys and probes
  * the index with a map-side join: the index is scanned, never shuffled.
  * Candidate pairs (bounded by banding collisions, not corpus size) then
  * verify exactly against the union of index and batch shingles.
  *
  * Mirrors the reference's dedup feature set at its incremental-ingest
  * boundary (the reference re-runs whole-corpus dedup per import;
  * `preprocessing/duplicate_data_ui.py:60-120` — at 100 TB that re-run
  * is the thing this index removes).
  */
object LshIndex {

  /** Path existence through Hadoop's FileSystem — works for file://,
    * hdfs://, s3a://, anything the session's conf can resolve. */
  private[ops] def hadoopExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    org.apache.hadoop.fs.FileSystem
      .get(p.toUri, spark.sessionState.newHadoopConf())
      .exists(p)
  }

  /** The three index tables. Band parameters are the caller's contract:
    * query-time `(n, bands, rowsPerBand, seed)` must match build-time
    * values (persisted alongside the tables by [[save]]). */
  case class Index(bandKeys: DataFrame, shingles: DataFrame, sizes: DataFrame,
                   n: Int, bands: Int, rowsPerBand: Int, seed: Long)

  /** Build the index tables for a corpus in one pass over its shingles
    * (one id-partitioned exchange feeds band keys, shingles, and sizes —
    * the [[Dedup.shingleHashRows]] reuse contract). */
  def build(df: DataFrame, textCol: String, idCol: String, n: Int,
            bands: Int, rowsPerBand: Int, seed: Long = 42L): Index = {
    val ex = Dedup.shingleHashRows(df, textCol, idCol, n)
    Index(
      bandKeys = Dedup.minhashBandKeys(ex, "id", bands, rowsPerBand, seed),
      shingles = ex,
      sizes = ex.groupBy("id").agg(count(lit(1)).as("n_sh")),
      n = n, bands = bands, rowsPerBand = rowsPerBand, seed = seed)
  }

  /** [[build]] + [[save]] fused into ONE shingle-stage execution (r14):
    * all three index tables derive from the exploded-distinct shingle
    * frame, and save()-after-build() executed that stage once PER TABLE
    * WRITE (three identical heavy scan+explode+shuffle passes in the
    * st7/st11 profiles). Here the shingle table is WRITTEN FIRST, re-read
    * schema-pinned (zero jobs), and sizes/band keys derive from the
    * re-read — write-once-read-back materialization using storage the
    * save pays for anyway (guide §3.3). Write order keeps save()'s crash
    * contract: shingles/sizes land before band keys (docs without band
    * keys read as ABSENT and replay), meta last. Fresh builds only
    * (mode error/overwrite): an APPEND must derive sizes/band keys from
    * the batch alone, which a re-read of the grown table cannot isolate
    * — appends keep the [[entriesFor]]+[[save]] path (batch-sized, and
    * the batch frame is typically already materialized by the caller). */
  def buildAndSave(df: DataFrame, textCol: String, idCol: String, n: Int,
                   bands: Int, rowsPerBand: Int, path: String,
                   seed: Long = 42L, mode: String = "error"): Index = {
    require(mode != "append", "buildAndSave is for fresh builds; append " +
      "batches via entriesFor + save (see scaladoc)")
    val spark = df.sparkSession
    val ex = Dedup.shingleHashRows(df, textCol, idCol, n)
    ex.write.mode(mode).parquet(s"$path/shingles")
    val exR = spark.read.schema(ex.schema).parquet(s"$path/shingles")
    val ix = Index(
      bandKeys = Dedup.minhashBandKeys(exR, "id", bands, rowsPerBand, seed),
      shingles = exR,
      sizes = exR.groupBy("id").agg(count(lit(1)).as("n_sh")),
      n = n, bands = bands, rowsPerBand = rowsPerBand, seed = seed)
    ix.sizes.write.mode(mode).parquet(s"$path/sizes")
    ix.bandKeys.write.mode(mode).parquet(s"$path/bandkeys")
    writeMeta(spark, s"$path/_meta", Seq(
      "n" -> ix.n.toString, "bands" -> ix.bands.toString,
      "rowsPerBand" -> ix.rowsPerBand.toString, "seed" -> ix.seed.toString,
      "bandKeysSchema" -> ix.bandKeys.schema.json,
      "shinglesSchema" -> ix.shingles.schema.json,
      "sizesSchema" -> ix.sizes.schema.json))
    ix
  }

  /** Persist the index as three parquet tables plus a driver-side
    * `_meta` file (params + table schemas, so [[load]] can refuse a
    * mismatched query config without running a job). `mode` is
    * "error" by default; pass "append" to add a verified batch's entries
    * — the index grows by exactly the kept docs, nothing is rewritten.
    *
    * Crash window: the three writes are not atomic. Band keys go LAST,
    * so a crash mid-save leaves shingle/size rows whose docs have no
    * band keys — those docs are simply unreachable as candidates, i.e.
    * the batch reads as ABSENT and must be replayed, which matches the
    * documented at-least-once contract (replays can only over-drop).
    * The reverse order would be the dangerous one: band keys without
    * shingles verify candidates at common=0 and KEEP true near-dups. */
  def save(ix: Index, path: String, mode: String = "error"): Unit = {
    ix.shingles.write.mode(mode).parquet(s"$path/shingles")
    ix.sizes.write.mode(mode).parquet(s"$path/sizes")
    ix.bandKeys.write.mode(mode).parquet(s"$path/bandkeys")
    // Metadata goes driver-side through the Hadoop FS (r12): params AND
    // the three table schemas, so load() launches ZERO Spark jobs — the
    // former params-parquet read + head + three schema-inference reads
    // were 5 of IngestDedup.step's 30 jobs, pure scheduling overhead on
    // micro-batch-sized data. Written LAST for the same crash-window
    // reason band keys precede it (missing meta = index absent).
    writeMeta(ix.bandKeys.sparkSession, s"$path/_meta", Seq(
      "n" -> ix.n.toString, "bands" -> ix.bands.toString,
      "rowsPerBand" -> ix.rowsPerBand.toString, "seed" -> ix.seed.toString,
      "bandKeysSchema" -> ix.bandKeys.schema.json,
      "shinglesSchema" -> ix.shingles.schema.json,
      "sizesSchema" -> ix.sizes.schema.json))
  }

  /** Write a key=value metadata file driver-side through the Hadoop FS
    * (shared by the LSH and ANN index layouts — r12): persisted params
    * and schemas cost zero Spark jobs on both ends.
    *
    * Crash-safe: the bytes go to `<path>.tmp` and are RENAMED over the
    * target. The rename itself is atomic, but RawLocalFs refuses to
    * clobber, so the target is DELETED first — a crash inside that
    * delete→rename window leaves only the tmp; [[readMeta]] falls back
    * to a valid `<path>.tmp` (always fully written+closed before the
    * delete), so every crash point yields a readable meta: old main,
    * new main, or complete tmp — never a truncated file (an in-place
    * truncating create would turn a previously-valid index unreadable,
    * which at-least-once replay cannot repair — "missing meta = index
    * absent" only holds if meta can't be half-present). A rewrite with
    * IDENTICAL content (every
    * append — params and schemas never change on append) is skipped
    * entirely: zero FS mutation, zero crash window. */
  private[ops] def writeMeta(spark: SparkSession, path: String,
                             kv: Seq[(String, String)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(p.toUri, spark.sessionState.newHadoopConf())
    val body = kv.map { case (k, v) => s"$k=$v" }.mkString("\n")
    if (fs.exists(p) &&
        scala.util.Try(readMeta(spark, path)).toOption.contains(kv.toMap))
      return
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false) // rename won't clobber on RawLocalFs
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  private[ops] def readMeta(spark: SparkSession, path: String): Map[String, String] = {
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(p0.toUri, spark.sessionState.newHadoopConf())
    // r13 ADVICE: writeMeta's delete-then-rename is not atomic on
    // RawLocalFs — a crash between the delete and the rename leaves
    // ONLY <path>.tmp. The tmp is always fully written and closed
    // BEFORE the delete, so a present tmp with a missing main file is
    // a complete, valid meta — read it rather than misdiagnosing the
    // index as a pre-r12 layout.
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val p =
      if (fs.exists(p0)) p0
      else if (fs.exists(tmp)) tmp
      else throw new java.io.FileNotFoundException(
        s"$path: index metadata not found. Indexes saved before the " +
        "_meta layout (pre-r12: params/ parquet table) are not readable " +
        "by this version — rebuild the index with save(), or see " +
        "CHANGELOG.md for the layout change.")
    val in = fs.open(p)
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    new String(bytes, "UTF-8").split("\n").map { l =>
      val i = l.indexOf('=')
      require(i >= 0,
        s"$path: malformed metadata line (no '='): '$l' — file is " +
        "truncated or not a graft index _meta file")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
  }

  def load(spark: SparkSession, path: String): Index = {
    val meta = readMeta(spark, s"$path/_meta")
    def schemaOf(key: String): StructType =
      DataType.fromJson(meta(key)).asInstanceOf[StructType]
    // tombstone-filtered view: deletes on an append-only parquet index
    // are id tombstones anti-joined at load (broadcast — a tombstone set
    // is curation-sized); rebuild to physically reclaim
    // existence check goes through the Hadoop FS layer like every other
    // index read/write — java.io.File would never see tombstones on
    // hdfs:// or s3a:// paths and deleted ids would silently resurrect
    val dead: Option[DataFrame] =
      if (hadoopExists(spark, s"$path/tombstones"))
        // tombstone schema = the index's id column (recorded in _meta),
        // so this read is schema-pinned and jobless too
        Some(broadcast(spark.read.schema(StructType(
            schemaOf("bandKeysSchema").fields.filter(_.name == "id")))
          .parquet(s"$path/tombstones")))
      else None
    def alive(df: DataFrame): DataFrame =
      dead.fold(df)(t => df.join(t, Seq("id"), "left_anti"))
    // schema-pinned reads: no eager footer/schema-inference job per table
    Index(
      bandKeys = alive(spark.read.schema(schemaOf("bandKeysSchema"))
        .parquet(s"$path/bandkeys")),
      shingles = alive(spark.read.schema(schemaOf("shinglesSchema"))
        .parquet(s"$path/shingles")),
      sizes = alive(spark.read.schema(schemaOf("sizesSchema"))
        .parquet(s"$path/sizes")),
      n = meta("n").toInt, bands = meta("bands").toInt,
      rowsPerBand = meta("rowsPerBand").toInt, seed = meta("seed").toLong)
  }

  /** Delete docs from the index WITHOUT rewriting it: append their ids
    * as tombstones — [[load]] filters them out of every table. The
    * standard append-only-index delete; rebuild when the tombstone set
    * grows past curation size. */
  def remove(ids: DataFrame, path: String): Unit =
    ids.toDF("id").write.mode("append").parquet(s"$path/tombstones")

  /** Near-dup pairs between `newDocs` and the index, PLUS pairs inside
    * `newDocs` itself (a batch can carry its own duplicates) — exactly
    * the pairs [[Dedup.minhashLshPairs]] would emit on (corpus ∪ batch)
    * restricted to >= 1 new side, without touching the corpus text.
    * Output (id_a, id_b, jaccard), id_a < id_b, exact Jaccard at
    * `threshold`. Ids must be disjoint between index and batch.
    *
    * Scale shape: the batch's band keys broadcast into a map-side probe
    * of `index.bandKeys` (the index is never shuffled); candidates are
    * banding-collision-bounded; the exact verify joins candidates (small
    * side) against the shingle tables. The batch must be batch-sized
    * (it always broadcasts); a corpus-sized "batch" belongs in
    * [[Dedup.minhashLshPairs]] over the union instead. */
  def incrementalPairs(newDocs: DataFrame, index: Index, textCol: String,
                       idCol: String, threshold: Double): DataFrame = {
    val exNew = Dedup.shingleHashRows(newDocs, textCol, idCol, index.n)
    val sizesNew = exNew.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val bandedNew = Dedup.minhashBandKeys(exNew, "id",
      index.bands, index.rowsPerBand, index.seed)
    // new-vs-old: probe the index with the broadcast batch keys
    val candOld = index.bandKeys.as("o").join(broadcast(bandedNew).as("nw"),
        col("o.key") === col("nw.key"))
      .select(least(col("o.id"), col("nw.id")).as("id_a"),
        greatest(col("o.id"), col("nw.id")).as("id_b"))
    // new-vs-new: the d3 self-join, batch-sized
    val candNew = bandedNew.as("a").join(bandedNew.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand0 = candOld.unionByName(candNew).dropDuplicates("id_a", "id_b")
    // Candidate-id pre-filter of the verify side (r14): the exact verify
    // joined `cand` against the FULL (index ∪ batch) shingle table keyed
    // by id — shuffling the whole index twice (once per pair side), the
    // exact re-shuffle of history this class exists to avoid. Candidates
    // are banding-collision-bounded because the batch side is, so their
    // id set broadcasts and the index tables are SEMI-JOIN-FILTERED
    // map-side before any exchange: the index stays scanned-never-shuffled
    // end to end, and the verify joins run over candidate-sized frames.
    // `cand` is materialized once (pair-list-sized) — the id-set
    // broadcast and the verify join would otherwise each re-run the
    // banded probe.
    val cand = graft.core.Materialize.frame(cand0)
    val candIds = broadcast(cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct())
    val allSh = index.shingles.unionByName(exNew)
      .join(candIds, Seq("id"), "left_semi")
    val allSizes = index.sizes.unionByName(sizesNew)
      .join(candIds, Seq("id"), "left_semi")
    // pair-anchored exact verify, same shape as minhashLshPairs
    val withA = cand.join(allSh.withColumnRenamed("id", "id_a"), "id_a")
    val common = withA.join(allSh.withColumnRenamed("id", "id_b"),
        Seq("id_b", "__h"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(allSizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(allSizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Index entries for the batch docs a dedup run decided to KEEP —
    * append these via `save(ix, path, mode = "append")` to grow the
    * index incrementally. */
  def entriesFor(keptDocs: DataFrame, index: Index, textCol: String,
                 idCol: String): Index = {
    val b = build(keptDocs, textCol, idCol, index.n, index.bands,
      index.rowsPerBand, index.seed)
    b.copy(n = index.n, bands = index.bands,
      rowsPerBand = index.rowsPerBand, seed = index.seed)
  }
}

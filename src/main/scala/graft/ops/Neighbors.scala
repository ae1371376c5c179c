package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared nearest-neighbor infrastructure for the SMOTE family and the
  * KNN/hot-deck imputers (SURVEY §7.2 slice 6; §4.2 custom-algorithms).
  *
  * Design: z-scaled numeric features (flat columns -> whole-stage
  * codegen) -> 2-D grid over the first two scaled dims, cell = `width`
  * -> candidate join on cell with 3x3 probing -> EXACT codegen'd
  * distance on candidates -> windowed rank keeps k. Shuffle key is the
  * cell id: at 100 TB the join is cell-local; width tunes the
  * recall/fan-out trade (width <= 0 degenerates to exact all-pairs —
  * what the specs use to cross-check recall). A pair can meet in at
  * most one probed cell, so candidates are duplicate-free by
  * construction — no dedup shuffle.
  */
object Neighbors {

  /** Driver-computed z-scale params (one aggregate scan). */
  def scaleParams(df: DataFrame, cols: Seq[String]): Seq[(String, Double, Double)] = {
    val aggs = cols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    cols.zipWithIndex.map { case (c, i) =>
      val m = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val s = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      (c, m, if (s == 0.0 || s.isNaN) 1.0 else s)
    }
  }

  /** Add `out` = z-scaled double array of `cols` using precomputed params,
    * PLUS flat per-dimension columns `__f0..__f{d-1}` — the flat columns
    * keep every distance expression inside whole-stage codegen (array
    * higher-order lambdas are interpreted per element: measured 100x
    * slower on the candidate-join hot path). */
  def withScaled(df: DataFrame, params: Seq[(String, Double, Double)],
                 out: String = "__fv"): DataFrame = {
    val scaledCols = params.map { case (c, m, s) =>
      (coalesce(col(c).cast(DoubleType), lit(m)) - m) / s
    }
    val withFlat = scaledCols.zipWithIndex.foldLeft(df) { case (d, (e, i)) =>
      d.withColumn(s"__f$i", e)
    }
    withFlat.withColumn(out, array(scaledCols: _*))
  }

  /** Squared euclidean distance between two rows' flat scaled columns
    * (pure codegen'd arithmetic, no arrays). */
  def sqDistFlat(dims: Int, l: String => Column, r: String => Column): Column =
    (0 until dims).map { i =>
      val d = l(s"__f$i") - r(s"__f$i")
      d * d
    }.reduce(_ + _)

  /** Approximate k-NN join: for each left row, the k nearest right rows.
    * Input frames must carry unique `idCol`s and `__f*` flat scaled
    * columns (from withScaled). Candidates come from a 2-D GRID over the
    * FIRST TWO z-scaled dimensions (std = 1 by construction, so cell
    * occupancy is predictable — no degenerate random-projection cells)
    * with 3x3 probing; all neighbors within `width` in those dims are
    * guaranteed candidates. Self-matches excluded. width <= 0 means exact
    * (single cell — small data / tests only).
    * Output: `l_id`, `nbr_id`, `dist`, `nbr_rank` in [1, k]. */
  def knnJoin(left: DataFrame, right: DataFrame, idCol: String, k: Int,
              width: Double, seed: Long = 42L, cellBudget: Int = 64,
              adapt: Boolean = true): DataFrame = {
    val dims = left.columns.count(_.startsWith("__f")) - (if (left.columns.contains("__fv")) 1 else 0)
    // Occupancy-adaptive refinement of the caller's width: global
    // z-scale predicts ~64 rows/cell only on UNIMODAL data. Real key
    // spaces are clumpy (tenant-prefixed ids, replicated shards, time
    // gaps): the between-clump spread inflates the std, the bulk
    // collapses into a few cells, and the candidate join goes quadratic
    // — measured at sf1 on the 10x replica: 1.5M rows in 55 cells =
    // 6.3e11 candidate pairs, b10_smote_enn 484 s and a disk-filling
    // spill. adaptiveWidth rescales by the MEASURED row-weighted
    // occupancy (one cheap aggregate per iteration, <= 3 iterations),
    // restoring linear candidate counts on any density shape.
    // `cellBudget` is the occupancy target the measured refinement aims
    // at — candidate pairs (and thus the join + topk aggregate input)
    // scale LINEARLY in it, so callers that need few neighbors (k <= 3
    // cleanup passes) should pass a small budget: measured at sf1 on
    // the smoted orders frame, 64 -> 8 cut candidates 1.1e9 -> 1.4e8
    // and the 1-NN pass 20.7 s -> 4.8 s with ~100 candidates/row left —
    // ample recall for k <= 3. Default 64 preserves the synthesis-pass
    // quality posture (k = 5 interpolation wants deep neighborhoods).
    // `adapt = false` pins the caller's width verbatim — knnJoinExact's
    // completeness proof is against ITS width; a silent further shrink
    // here would void the ring bound (r12)
    val w = if (width <= 0 || !adapt) width
            else adaptiveWidth(right, dims, width, cellBudget)
    def cells(f: String => Column): (Column, Column) =
      if (w <= 0) (lit(0L), lit(0L))
      else (floor(f("__f0") / w).cast(LongType),
            if (dims > 1) floor(f("__f1") / w).cast(LongType) else lit(0L))
    val (b1, b2) = cells(col)
    val probeOffsets = if (w <= 0) Seq((0, 0))
      else for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val l = left
      .select((col(idCol).as("l_id") +: b1.as("__c1") +: b2.as("__c2") +:
        (0 until dims).map(i => col(s"__f$i").as(s"__lf$i"))): _*)
      .withColumn("__c", explode(array(probeOffsets.map { case (dx, dy) =>
        struct((col("__c1") + dx).as("b1"), (col("__c2") + dy).as("b2"))
      }: _*)))
      .select((col("l_id") +: col("__c.b1").as("__b1") +: col("__c.b2").as("__b2") +:
        (0 until dims).map(i => col(s"__lf$i"))): _*)
    val r = right.select((col(idCol).as("nbr_id") +: b1.as("__b1") +: b2.as("__b2") +:
      (0 until dims).map(i => col(s"__f$i").as(s"__rf$i"))): _*)
    // Exact mode (width <= 0) joins on a CONSTANT cell key: as a shuffle
    // join every row lands in one partition — a single-task quadratic
    // scan (i6 measured 332 s at sf1). Broadcasting the LEFT side turns
    // it into a parallel nested-loop with the identical candidate set,
    // and the RIGHT side is explicitly repartitioned: the donor scan is
    // otherwise a single 50 MB parquet split, so even the broadcast join
    // would run in one task. Contract: exact mode's left side is the
    // SMALL probe set (the imputers' null rows; specs' small frames) —
    // the scale path is width > 0.
    // explicit N: AQE would coalesce the (byte-small) donor shuffle back
    // to one partition — it sizes by input bytes and cannot see that the
    // constant-key join EXPLODES each row |l|-fold downstream
    val lSide = if (w <= 0) broadcast(l) else l
    val nPart = right.sparkSession.sessionState.conf.numShufflePartitions
    // Grid mode pins the cell-key partitioning with an explicit N for the
    // same reason: AQE coalesces the (byte-small) join input shuffles and
    // the |cell|^2 pair expansion then runs on 1-4 tasks (b7_adasyn at
    // sf0.1: 122 s mostly idle, 2 running tasks in thread dumps). The
    // join reuses this partitioning, so no exchange is added — only the
    // coalesce is suppressed.
    val rSide = if (w <= 0) r.repartition(nPart, col("nbr_id"))
                else r.repartition(nPart, col("__b1"), col("__b2"))
    val cand = lSide.join(rSide, Seq("__b1", "__b2"))
      .filter(col("l_id") =!= col("nbr_id"))
      .withColumn("dist",
        sqrt(sqDistFlat(dims, n => col(n.replace("__f", "__lf")), n => col(n.replace("__f", "__rf")))))
      .select("l_id", "nbr_id", "dist")
    // k-smallest via the bounded-state topk_pairs AGGREGATE, not a
    // row_number window: the window plans as WindowGroupLimit + a full
    // external sort of EVERY candidate pair (measured at sf1: the SMOTE
    // family's ~10^8-candidate streams spent minutes in spilling sorts);
    // the aggregate truncates to k per l_id on the MAP side (each l_id
    // lives in <= 9 probe partitions), shuffles k pairs per row, and
    // never sorts the stream. Identical (dist asc, id asc) tie-break ->
    // bit-identical output to the window plan, with one EXPLICIT
    // divergence: null distances (null feature values) are SKIPPED by
    // topk_pairs.update, whereas an asc("dist") window would rank nulls
    // FIRST. A null distance is never a meaningful nearest neighbor, so
    // the aggregate's skip-null semantics are the contract
    // (TopKPairsSpec pins them). No explicit isNotNull pre-filter: on
    // the self-join path (i5/i6) the pushed-down predicate trips a
    // Catalyst ATTRIBUTE_NOT_FOUND in column pruning, and the aggregate
    // already enforces the same semantics.
    cand.groupBy("l_id")
      .agg(call_function("topk_pairs", col("dist"), col("nbr_id"), lit(k))
        .as("__topk"))
      .select(col("l_id"), posexplode(col("__topk")).as(Seq("__pos", "__nn")))
      .select(col("l_id"), col("__nn.nbr_id").as("nbr_id"),
        col("__nn.dist").as("dist"), (col("__pos") + 1).as("nbr_rank"))
  }

  /** EXACT k-NN join, grid-accelerated (r12 VERDICT #1): bit-identical
    * output to `knnJoin(left, right, idCol, k, width = 0)` without the
    * all-pairs scan. The proof riding the grid: every donor OUTSIDE a
    * probe's 3x3 cell ring differs by >= 2 cells in some gridded dim,
    * so its FULL euclidean distance is strictly > w (cells are width w;
    * dist >= |delta f_i| > w). Hence if the ring candidates yield k
    * neighbors whose k-th distance is <= w, no outside donor can
    * displace any of them — even on distance ties, outside rows are
    * STRICTLY farther, and within the ring the aggregate applies the
    * same (dist asc, id asc) order as brute force on a provable
    * SUPERSET of the true top-k. Probes that fail the check (sparse
    * neighborhoods, < k donors in ring) fall back to the brute
    * broadcast nested loop — the exact path they ran before — so the
    * union is exact on any density shape. At sf1 (15k probes x 135k
    * donors) the brute scan is 2.0e9 codegen'd distance rows (~24 s,
    * the measured i6 floor); the grid pass is ~9 * cellBudget * |left|
    * candidates plus a fallback fringe. Dims beyond the first two only
    * weaken the check (more mass per distance), never the guarantee:
    * worst case everything falls back. */
  def knnJoinExact(left: DataFrame, right: DataFrame, idCol: String, k: Int,
                   seed: Long = 42L, cellBudget: Int = 64): DataFrame = {
    val dims = left.columns.count(_.startsWith("__f")) - (if (left.columns.contains("__fv")) 1 else 0)
    val n = right.count()
    // budget sized so the expected ring population (~pi * budget within
    // distance w) comfortably exceeds k; tiny/1-D frames go straight to
    // the brute path — nothing to accelerate
    val budget = math.max(cellBudget, 3 * k)
    if (dims < 2 || n <= 8L * budget) return knnJoin(left, right, idCol, k, 0.0, seed)
    val w = adaptiveWidth(right, dims, autoWidth(n, budget), budget)
    // the grid candidate pass IS knnJoin's grid mode, with the width
    // PINNED (adapt = false): the completeness check below is against
    // this exact w, so no internal re-refinement may move it.
    // Materialized once — the completeness stat, the kept rows, and the
    // fallback anti-join all read it, and it is <= k * |left| rows
    val grid = knnJoin(left, right, idCol, k, w, seed, budget, adapt = false)
      .transform(graft.core.Materialize.frame)
    val okIds = grid.groupBy("l_id")
      .agg(count(lit(1)).as("__cnt"), max("dist").as("__maxd"))
      .filter(col("__cnt") === k && col("__maxd") <= w)
      .select("l_id")
    val fromGrid = grid.join(okIds, "l_id")
    val fallback = left.join(okIds.select(col("l_id").as(idCol)), Seq(idCol), "left_anti")
    fromGrid.unionByName(knnJoin(fallback, right, idCol, k, 0.0, seed))
  }

  /** Self-join k-NN: [[knnJoin]](df, df) with HALF the candidate work.
    * The general join probes all 9 neighbor cells from the left side, so
    * every unordered pair (a, b) within grid reach is generated twice —
    * once per direction — and its distance is computed twice. A
    * self-join needs each pair only ONCE: probe the half-space offsets
    * {(0,0),(1,0),(-1,1),(0,1),(1,1)} (every unordered neighboring-cell
    * pair meets exactly once — for cells c_a != c_b exactly one of
    * c_b - c_a / c_a - c_b lies in the half-space; same-cell pairs are
    * deduped by id order), compute the distance once, then MIRROR the
    * pair into both directions with a map-side explode feeding the same
    * bounded-state topk aggregate. Identical output to knnJoin(df, df)
    * — same candidate set, same IEEE distances, same tie-break — at
    * 5/9 the left shuffle volume and half the join/distance rows (the
    * SMOTE-Tomek/ENN cleanup passes' dominant phase; measured at sf1:
    * b9's 1-NN 16.4 s -> the half-space shape, b10's 3-NN 25.2 s).
    * Exact mode (width <= 0) delegates to knnJoin unchanged. */
  def knnSelfJoin(df: DataFrame, idCol: String, k: Int, width: Double,
                  seed: Long = 42L, cellBudget: Int = 64): DataFrame = {
    if (width <= 0) return knnJoin(df, df, idCol, k, width, seed)
    val dims = df.columns.count(_.startsWith("__f")) - (if (df.columns.contains("__fv")) 1 else 0)
    val w = adaptiveWidth(df, dims, width, cellBudget)
    val b1 = floor(col("__f0") / w).cast(LongType)
    val b2 = if (dims > 1) floor(col("__f1") / w).cast(LongType) else lit(0L)
    val halfSpace = Seq((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))
    val l = df
      .select((col(idCol).as("l_id") +: b1.as("__c1") +: b2.as("__c2") +:
        (0 until dims).map(i => col(s"__f$i").as(s"__lf$i"))): _*)
      .withColumn("__c", explode(array(halfSpace.map { case (dx, dy) =>
        struct((col("__c1") + dx).as("b1"), (col("__c2") + dy).as("b2"),
          lit(dx == 0 && dy == 0).as("same"))
      }: _*)))
      .select((col("l_id") +: col("__c.b1").as("__b1") +: col("__c.b2").as("__b2") +:
        col("__c.same").as("__same") +:
        (0 until dims).map(i => col(s"__lf$i"))): _*)
    val r = df.select((col(idCol).as("nbr_id") +: b1.as("__b1") +: b2.as("__b2") +:
      (0 until dims).map(i => col(s"__f$i").as(s"__rf$i"))): _*)
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    // same explicit-N pinning as knnJoin: AQE sizes by input bytes and
    // cannot see the |cell|^2 expansion downstream of the cell-key join
    val rSide = r.repartition(nPart, col("__b1"), col("__b2"))
    val once = l.join(rSide, Seq("__b1", "__b2"))
      // same-cell pairs appear in both directions: keep one; cross-cell
      // pairs meet exactly once by the half-space construction
      .filter((!col("__same") && col("l_id") =!= col("nbr_id")) ||
        col("l_id") < col("nbr_id"))
      .withColumn("dist",
        sqrt(sqDistFlat(dims, n => col(n.replace("__f", "__lf")), n => col(n.replace("__f", "__rf")))))
      .select("l_id", "nbr_id", "dist")
    // mirror each unordered pair into both directions — map-side, same
    // stage as the join, feeding the map-side partial topk aggregation
    val cand = once
      .select(explode(array(
        struct(col("l_id"), col("nbr_id"), col("dist")),
        struct(col("nbr_id").as("l_id"), col("l_id").as("nbr_id"), col("dist"))))
        .as("__p"))
      .select(col("__p.l_id").as("l_id"), col("__p.nbr_id").as("nbr_id"),
        col("__p.dist").as("dist"))
    cand.groupBy("l_id")
      .agg(call_function("topk_pairs", col("dist"), col("nbr_id"), lit(k))
        .as("__topk"))
      .select(col("l_id"), posexplode(col("__topk")).as(Seq("__pos", "__nn")))
      .select(col("l_id"), col("__nn.nbr_id").as("nbr_id"),
        col("__nn.dist").as("dist"), (col("__pos") + 1).as("nbr_rank"))
  }

  /** Grid width for a bounded per-cell occupancy: on z-scaled (std=1)
    * data the 2-D candidate join fans out as rows-per-cell per probe,
    * and rows-per-cell ~ n * width^2 / 36 (~6 std units of mass per
    * dim) — so width must SHRINK as 1/sqrt(n) or the join goes
    * super-linear. A FIXED width that is fine at sf0.01 is 10x the
    * fan-out at sf0.1 and 10^4x at cluster scale; callers that know
    * their row count should use this instead of a constant. */
  def autoWidth(n: Long, targetPerCell: Int = 64): Double =
    if (n <= 0) 0.25
    else math.min(1.0, 6.0 * math.sqrt(targetPerCell.toDouble / n))

  /** MEASURED-occupancy refinement of a starting grid width, for data
    * whose density [[autoWidth]]'s unimodal-spread assumption misreads
    * (clumpy key spaces, multi-tenant ids, replicated shards). The
    * relevant statistic is the ROW-WEIGHTED mean occupancy
    * E[rows-in-my-cell] = sum(occ^2)/n — candidate pairs are exactly
    * 9 * sum(occ^2), so bounding it bounds the join. Each iteration is
    * one map-side-combined aggregate over the grid histogram (never the
    * pair space); local density is ~uniform inside clumps, so occupancy
    * falls ~quadratically in width and 1-2 iterations converge. The
    * refinement is a deterministic function of the data (exact integer
    * counts), so results stay reproducible across runs and partitionings. */
  def adaptiveWidth(scaled: DataFrame, dims: Int, start: Double,
                    targetPerCell: Int = 64, maxIter: Int = 5): Double = {
    var w = start
    var prev = Double.MaxValue
    var iter = 0
    while (iter < maxIter) {
      val row = scaled.select(
          floor(col("__f0") / w).cast(LongType).as("__c1"),
          (if (dims > 1) floor(col("__f1") / w).cast(LongType)
           else lit(0L)).as("__c2"))
        .groupBy("__c1", "__c2").count()
        .agg((sum(col("count") * col("count")) / sum(col("count")))
          .as("__occ"))
        .head()
      if (row.isNullAt(0)) return w // empty frame: nothing to size for
      val occ = row.getDouble(0)
      if (occ <= 4.0 * targetPerCell) return w
      // occupancy ~ density * w^2 while the cell is SMALLER than the
      // clump, so the sqrt rescale converges in one step there. When the
      // cell is still WIDER than a clump, shrinking barely moves the
      // occupancy (the whole clump rides in one cell whatever w is) —
      // detect the stall and escalate geometrically instead of crawling.
      val shrink = math.sqrt(occ / targetPerCell)
      w = if (occ > prev * 0.5) w / math.max(shrink, 16.0) else w / shrink
      prev = occ
      iter += 1
    }
    w
  }

  /** Deterministic uniform in [0,1) from columns — the seeded "random"
    * stream every synthesis step uses (reproducible across runs/engines). */
  def detUniform(seed: Long, cols: Column*): Column =
    pmod(Hashing.md5Int(concat_ws("_", (lit(seed) +: cols): _*)), lit(1000000L))
      .cast(DoubleType) / 1000000.0
}

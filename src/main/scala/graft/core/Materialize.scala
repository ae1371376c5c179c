package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one switch between the two "materialize this frame once" modes.
  *
  * Iterative and multi-traversal operators (connected components, SMOTE
  * quota phases, PageRank, DoReMi sufficient statistics, streaming
  * micro-batch dedup) cut their lineage with an eager checkpoint so the
  * expensive upstream plan executes exactly once. `localCheckpoint`
  * is the right default on a static cluster: it writes executor-local
  * blocks (no distributed-FS round trip) and is 5-50x cheaper than a
  * reliable checkpoint. But under DYNAMIC ALLOCATION an executor
  * decommission drops both the checkpoint blocks AND the truncated
  * lineage — the job cannot recover, not even slowly. For that cluster
  * posture, set
  *
  *   spark.conf.set("graft.checkpoint.reliable", "true")
  *   spark.sparkContext.setCheckpointDir("hdfs://.../graft-ckpt")
  *
  * and every materialize-once site in the engine switches to reliable
  * `checkpoint()` (blocks on the checkpoint dir, lineage recoverable
  * from durable storage). Results are bit-identical in both modes —
  * only the fault-tolerance story changes; [[MaterializeSpec]] pins
  * that equivalence.
  */
object Materialize {
  /** Runtime conf key; "false" (localCheckpoint) unless set. */
  val ReliableKey = "graft.checkpoint.reliable"

  /** Eagerly materialize `df` and cut its lineage, honoring
    * [[ReliableKey]]. Call sites that previously used
    * `df.localCheckpoint()` / `df.localCheckpoint(true)` call
    * `Materialize.frame(df)` (both were eager).
    */
  def frame(df: DataFrame): DataFrame =
    materialize(df, StorageLevel.MEMORY_AND_DISK)

  /** Release the storage blocks of a frame previously returned by
    * [[frame]]/[[frameSer]] (r15, r14-VERDICT #1: iterative operators
    * materialize per-step frames and the DEAD steps' blocks pinned the
    * storage pool until driver GC — on a long-lived session that starves
    * execution memory). Call ONLY once nothing will read `df` again: a
    * localCheckpoint cannot be recomputed, so a freed frame is gone.
    * No-op for frames that never went through [[frame]] (no RDD scan in
    * the plan) and in reliable-checkpoint mode (files, not blocks). */
  def free(df: DataFrame): Unit =
    // Strictly the ROOT node: a derived frame (join/select over a
    // materialized one) no-ops — unpersisting every LogicalRDD found in
    // a subtree could free a checkpoint some OTHER live frame still
    // reads (a localCheckpoint cannot recompute: that would be data
    // loss, not a cache miss).
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[frame]] with SERIALIZED block storage — for materialize-once
    * frames that are LARGE relative to executor heap (the SMOTE family's
    * post-synthesis frames: a 10x class deficit materializes ~10x the
    * input in one go — r13 VERDICT #1/#4). MEMORY_AND_DISK_SER stores
    * Tungsten-encoded bytes instead of deserialized row objects
    * (several-x smaller, GC-invisible) and overflows to local disk; the
    * trade is a per-read decode, irrelevant next to the recompute the
    * checkpoint avoids. Reliable mode is unchanged (checkpoint() is
    * already an on-disk serialized form). Results bit-identical to
    * [[frame]] — only the block encoding differs ([[MaterializeSpec]]). */
  def frameSer(df: DataFrame): DataFrame =
    materialize(df, StorageLevel.MEMORY_AND_DISK_SER)

  /** Reliable `checkpoint()` under [[ReliableKey]], else an eager
    * `localCheckpoint` at `local` (MEMORY_AND_DISK is the level
    * `localCheckpoint(eager)` picks when given none). */
  private def materialize(df: DataFrame, local: StorageLevel): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.get(ReliableKey, "false").trim.equalsIgnoreCase("true")
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires sparkContext.setCheckpointDir(...) " +
          "(a durable location all executors can reach)")
      df.checkpoint(eager = true)
    } else {
      df.localCheckpoint(eager = true, local)
    }
  }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.DoubleType

/** The custom-operator ladder, rung (c): a whole-operator node —
  * logical plan + planner strategy + physical exec, injected through
  * `SparkSessionExtensions.injectPlannerStrategy` (see
  * [[graft.functions.GraftExtensions]]) — for the DISTRIBUTED RUNNING
  * TOTAL, the one primitive Spark's surface cannot express without
  * either a single-partition window (`sum().over(Window.orderBy(...))`
  * funnels ALL data through one reducer) or an extra full-data shuffle
  * (`partitionBy(spark_partition_id())`).
  *
  * Physics: the exec DECLARES `OrderedDistribution(sortOrder)` as its
  * required child distribution, so EnsureRequirements plants the range
  * exchange + sort that a total order needs anyway — and nothing else.
  * `doExecute` then runs the classic two-phase scan over the SAME
  * shuffle output (stage reuse: job 1 reads the sorted partitions for
  * per-partition sums — O(#partitions) driver data — job 2 streams them
  * again adding each partition's exclusive offset). Rows stay
  * `InternalRow`/Tungsten end to end — no `.rdd` deserialization to
  * GenericRow, no codegen barrier for downstream operators, pruning and
  * reuse see a normal unary node.
  *
  * MULTI-VALUE (r15): one node appends running totals of SEVERAL value
  * columns under the one order. Callers used to STACK single-value
  * nodes; the stack shared the exchange (the inner node's
  * RangePartitioning satisfies the outer's OrderedDistribution) but
  * every extra node re-ran the post-shuffle SORT + scan twice more
  * (its own partSums job + its contribution to every enclosing pass) —
  * k totals cost k+1 sorted passes instead of the 2 this node takes
  * for any k (guide §1.2 fewer passes). Per-column sums and offsets are
  * the same float trees in the same partition order, so the output is
  * bit-identical to the former stack.
  *
  * PER-KEY RESET: with `resetKeys` = n > 0 the totals restart whenever
  * the first n sort keys change — `sum(v).over(Window.partitionBy(keys)
  * .orderBy(rest))` in the same two passes and the same one range
  * exchange. Job 1 then returns, per partition, its first and last key,
  * the sums of its TRAILING key run and whether it holds a single key;
  * the driver carries a run's total into the next partition only while
  * the key is unchanged (O(#partitions)), so a hot key spread over many
  * partitions still ranks correctly. Keys are compared with the sort's
  * own ordering, not row bytes: -0.0/0.0, NaN and collated strings form
  * one run exactly as the sort (and a `groupBy`) treat them. With n = 0
  * no key is projected or compared and the offsets are the plain prefix
  * sums of the partition sums.
  *
  * Null `valueCol` cells contribute 0 to the total (document-level token
  * counts and AUC indicator columns — the callers — are never null; the
  * choice matches SQL SUM's null-skipping).
  */
case class RunningTotalPlan(child: LogicalPlan, sortOrder: Seq[SortOrder],
                            values: Seq[Attribute],
                            outAttrs: Seq[AttributeReference],
                            resetKeys: Int = 0)
  extends UnaryNode {
  // outAttrs is a constructor FIELD, not a derived val: plan transforms
  // copy() the node, and a regenerated AttributeReference would change
  // exprId under the feet of downstream references
  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttrs)
  override protected def withNewChildInternal(newChild: LogicalPlan): RunningTotalPlan =
    copy(child = newChild)
}

case class RunningTotalExec(child: SparkPlan, sortOrder: Seq[SortOrder],
                            values: Seq[Attribute], outAttrs: Seq[Attribute],
                            resetKeys: Int = 0)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttrs)
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(sortOrder))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(sortOrder)
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def outputPartitioning: Partitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val idxs = values.map(v => child.output.indexWhere(_.exprId == v.exprId)).toArray
    require(idxs.forall(_ >= 0),
      s"running_total: value columns $values not all in child output")
    val k = idxs.length
    val sorted = child.execute()
    // the reset keys, projected from each row and compared with the
    // sort's own ordering (none on the global path, which then never
    // projects or compares a key)
    val keyOrders = sortOrder.take(resetKeys)
    val keyExprs = keyOrders.map(o => BindReferences.bindReference(o.child, child.output))
    val sameKey = new LazilyGeneratedOrdering(keyOrders.zipWithIndex.map { case (o, i) =>
      o.copy(child = BoundReference(i, o.dataType, o.nullable))
    })
    // job 1: one KeyRun per partition — the exchange below us is
    // materialized shuffle state, so this extra pass re-reads shuffle
    // files, not the source (and the sort re-runs only per partition)
    val runs = sorted.mapPartitions { it =>
      val keyOf = if (keyExprs.isEmpty) null else UnsafeProjection.create(keyExprs)
      val s = new Array[Double](k)
      var first: InternalRow = null
      var last: InternalRow = null
      var single = true
      it.foreach { r =>
        if (last == null) {
          first = if (keyOf == null) InternalRow.empty else keyOf(r).copy()
          last = first
        } else if (keyOf != null) {
          val key = keyOf(r)
          if (sameKey.compare(key, last) != 0) {
            last = key.copy(); single = false; java.util.Arrays.fill(s, 0.0)
          }
        }
        var i = 0
        while (i < k) { if (!r.isNullAt(idxs(i))) s(i) += r.getDouble(idxs(i)); i += 1 }
      }
      Iterator.single(KeyRun(first, last, s, single))
    }.collect()
    val offsets = RunningTotalExec.offsets(runs, k, sameKey)
    // job 2: stream each partition again from its offset, restarting the
    // totals wherever the reset key changes
    val attrs = output
    sorted.mapPartitionsWithIndex { (pid, it) =>
      val acc = offsets(pid).clone()
      val keyOf = if (keyExprs.isEmpty) null else UnsafeProjection.create(keyExprs)
      var last: InternalRow = null
      val proj = UnsafeProjection.create(attrs.map(_.dataType).toArray)
      val extra = new GenericInternalRow(k)
      val joined = new JoinedRow
      it.map { r =>
        if (keyOf != null) {
          val key = keyOf(r)
          if (last == null) last = key.copy()
          else if (sameKey.compare(key, last) != 0) {
            last = key.copy(); java.util.Arrays.fill(acc, 0.0)
          }
        }
        var i = 0
        while (i < k) {
          if (!r.isNullAt(idxs(i))) acc(i) += r.getDouble(idxs(i))
          extra.update(i, acc(i))
          i += 1
        }
        proj(joined(r, extra))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RunningTotalExec =
    copy(child = newChild)
}

object RunningTotalExec {
  /** Each partition's starting totals, from the job-1 runs in partition
    * order: the carried run's totals when the partition's first key
    * continues that run (a key spanning partitions), else zero. Empty
    * partitions leave the carry alone. With no reset keys every key
    * compares equal, so this is the exclusive prefix sum of the
    * partition sums. O(#partitions) on the driver. */
  private[plans] def offsets(runs: Array[KeyRun], k: Int,
                             sameKey: LazilyGeneratedOrdering): Array[Array[Double]] = {
    var carryKey: InternalRow = null
    var carry = new Array[Double](k)
    runs.map { run =>
      if (run.first == null) new Array[Double](k)
      else {
        val continues = carryKey != null && sameKey.compare(run.first, carryKey) == 0
        val offset = if (continues) carry else new Array[Double](k)
        carry = if (continues && run.single) Array.tabulate(k)(i => carry(i) + run.sums(i))
                else run.sums
        carryKey = run.last
        offset
      }
    }
  }
}

/** Job-1 summary of one sorted partition: its first and last reset key
  * (null when the partition is empty; the empty row when there are no
  * reset keys), the sums of its trailing key run, and whether it holds
  * a single key. */
private[plans] final case class KeyRun(first: InternalRow, last: InternalRow,
                                       sums: Array[Double], single: Boolean)

/** Planner rule: RunningTotalPlan -> RunningTotalExec. */
object RunningTotalStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RunningTotalPlan(child, order, values, outAttrs, resetKeys) =>
      RunningTotalExec(planLater(child), order, values, outAttrs, resetKeys) :: Nil
    case _ => Nil
  }
}

object RunningTotal {
  /** Append `out` = inclusive running total of `valueCol` (cast to
    * double) under the total order `sortCols`. The public seam
    * [[graft.ops.Ordinals.withRunningTotal]] delegates here. */
  def apply(df: org.apache.spark.sql.DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
            valueCol: String, out: String): org.apache.spark.sql.DataFrame =
    multi(df, sortCols, Seq(valueCol -> out))

  /** Append one inclusive running total PER (valueCol, out) pair, all
    * under the one total order `sortCols`, in a single two-pass node.
    *
    * NONDETERMINISTIC sort expressions (a `rand(seed)` shuffle/tie-break
    * key — the Balancing trims use one) are materialized as projected
    * columns before the custom node: CheckAnalysis permits
    * nondeterminism in Project/Filter/Sort but rejects it in custom
    * operators (INVALID_NON_DETERMINISTIC_EXPRESSIONS). Materializing
    * also pins the value — the sort key is evaluated once per row, not
    * once per consumer.
    *
    * `resetKeys` > 0 restarts every total where the first `resetKeys`
    * of `sortCols` change (the per-key form; see [[RunningTotalPlan]]). */
  def multi(df: org.apache.spark.sql.DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
            valueOuts: Seq[(String, String)],
            resetKeys: Int = 0): org.apache.spark.sql.DataFrame = {
    require(valueOuts.nonEmpty, "running_total: need at least one value column")
    require(resetKeys >= 0 && resetKeys <= sortCols.length,
      s"running_total: resetKeys $resetKeys outside 0..${sortCols.length}")
    val spark = df.sparkSession
    var prepped = df
    val vNames = valueOuts.zipWithIndex.map { case ((valueCol, _), i) =>
      val nm = s"__rt_v$i"
      prepped = prepped.withColumn(nm,
        org.apache.spark.sql.functions.col(valueCol).cast(DoubleType))
      nm
    }
    // (materialized-column-name, original sort expression) per sort key:
    // every sort key that is not a plain column reference is projected —
    // determinism can't be judged pre-analysis (functions arrive as
    // UnresolvedFunction, which reports deterministic), and a
    // materialized key costs nothing the range sort wouldn't evaluate
    val pieces = sortCols.map(GraftBridge.expr).zipWithIndex.map { case (e, i) =>
      val child = e match { case so: SortOrder => so.child; case x => x }
      child match {
        case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute |
             _: org.apache.spark.sql.catalyst.expressions.Attribute => (None, e)
        case _ =>
          val nm = s"__rt_s$i"
          prepped = prepped.withColumn(nm, GraftBridge.column(child))
          (Some(nm), e)
      }
    }
    val analyzed = prepped.queryExecution.analyzed
    val valAttrs = vNames.map(nm => analyzed.output.find(_.name == nm).get)
    val order = pieces.map {
      case (Some(nm), e) =>
        val attr = analyzed.output.find(_.name == nm).get
        e match {
          case so: SortOrder => so.copy(child = attr)
          case _ => SortOrder(attr, Ascending)
        }
      case (None, e) => e match {
        case so: SortOrder =>
          so.withNewChildren(so.children.map(resolve(analyzed, _))).asInstanceOf[SortOrder]
        case x => SortOrder(resolve(analyzed, x), Ascending)
      }
    }
    val outAttrs = valueOuts.map { case (_, out) =>
      AttributeReference(out, DoubleType, nullable = false)()
    }
    val matCols = vNames ++ pieces.collect { case (Some(nm), _) => nm }
    matCols.foldLeft(
        GraftBridge.ofRows(spark,
          RunningTotalPlan(analyzed, order, valAttrs, outAttrs, resetKeys)))((d, nm) => d.drop(nm))
  }

  private def resolve(plan: LogicalPlan,
                      e: org.apache.spark.sql.catalyst.expressions.Expression) =
    e transform {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        plan.output.find(_.name == u.name).getOrElse(
          throw new IllegalArgumentException(s"running_total: cannot resolve ${u.name}"))
    }
}

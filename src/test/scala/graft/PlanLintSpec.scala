package graft

import graft.SparkSpec

/** Plan lint over the ENTIRE query board (r8 — previously only the bench
  * headline): no query may plan an interpreted array higher-order
  * function (ArrayAggregate / ZipWith / ArrayTransform / ArrayFilter —
  * the ~100x path), a Scala UDF, or a non-broadcast cartesian product.
  * This is the durable regression gate for the engine's codegen story —
  * a new operator that sneaks a lambda or UDF onto a scale path fails
  * here, not in a 100 TB run. Queries are PLANNED (optimizedPlan), not
  * executed; construction-time side effects run at sf0.001, and every
  * query is planned exactly once for every lint.
  *
  * Justified exceptions:
  *  - h6_countmin: `Hashing.CountMinFreq` closes over a driver-built
  *    mergeable sketch — no column-expression equivalent exists (all
  *    markers exempt; documented at Hashing.scala).
  *  - the MLlib-model queries below: VectorAssembler / vector_to_array /
  *    model.transform plan as UDFs INSIDE Spark MLlib — library
  *    internals, not engine-authored lambdas. Only the UDF marker is
  *    exempt for them; a cartesian or interpreted array lambda in those
  *    queries still fails the lint.
  */
class PlanLintSpec extends SparkSpec {

  private val banned = Seq(
    "ArrayAggregate" -> "interpreted aggregate() lambda",
    "ZipWith" -> "interpreted zip_with() lambda",
    "ArrayTransform" -> "interpreted transform() lambda",
    "ArrayFilter" -> "interpreted filter() lambda",
    "UDF(" -> "Scala UDF",
    "CartesianProduct" -> "non-broadcast cartesian product")

  /** name -> fully exempt (planned side effects or driver-sketch UDF). */
  private val skip: Set[String] = Set("h6_countmin")

  /** MLlib-model queries: the UDF marker alone is exempt. */
  private val mllibUdfOk: Set[String] = Set(
    "d11_semdedup", "i9_model_impute", "m19_text_classifier",
    "s17_ann_graph", "s18_ann_two_phase", "s19_pca_whiten",
    "s20_diversity_sample", "s21_outlier_score", "s3_ann_ivf_kmeans")

  private lazy val plans: Seq[(String, Either[String,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] = {
    val all = SparkEntry.queries
    all.keys.toSeq.sorted.filterNot(skip.contains).map { name =>
      name -> (
        try Right(all(name)(spark, sf).queryExecution.optimizedPlan)
        catch { case e: Throwable => Left(s"failed to plan: ${e.getMessage}") })
    }
  }

  test("every board query plans successfully") {
    val broken = plans.collect { case (n, Left(err)) => s"$n: $err" }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("no board query plans an interpreted lambda, UDF, or cartesian product") {
    val issues = plans.flatMap {
      case (name, Right(plan)) =>
        val s = plan.toString
        banned.collect {
          case (marker, why) if s.contains(marker) &&
            !(marker == "UDF(" && mllibUdfOk.contains(name)) =>
            s"$name: $why ($marker)"
        }
      case _ => Nil
    }
    assert(issues.isEmpty, issues.mkString("\n"))
  }

  test("no board query plans a KEYLESS window (single-partition funnel)") {
    // Ordinals used to push its dictionary-sized offsets cumsum through
    // one deliberate keyless window; now that the cumsum rides
    // RunningTotal, ANY keyless window in a board plan is a regression.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = plans.flatMap {
      case (name, Right(plan)) =>
        val keyless = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        if (keyless > 0) Some(s"$name: $keyless keyless window(s)") else None
      case _ => None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no board query stacks a RunningTotal on another under the same order") {
    // several totals under one order belong in ONE node
    // (Ordinals.withRunningTotals); a stacked node re-runs the sort and
    // both scan passes for nothing
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import graft.plans.RunningTotalPlan
    def underProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => underProjects(child)
      case other => other
    }
    def order(rt: RunningTotalPlan) =
      rt.sortOrder.map(o => (o.child.canonicalized, o.direction))
    val offenders = plans.flatMap {
      case (name, Right(plan)) =>
        val stacked = plan.collect {
          case rt: RunningTotalPlan => underProjects(rt.child) match {
            case inner: RunningTotalPlan if order(inner) == order(rt) => 1
            case _ => 0
          }
        }.sum
        if (stacked > 0) Some(s"$name: $stacked stacked RunningTotal(s)") else None
      case _ => None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

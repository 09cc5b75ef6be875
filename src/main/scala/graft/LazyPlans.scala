package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan builders for registry queries whose `run` materializes its
  * (aggregate-sized) output and releases its working caches — for those,
  * explaining the registry entry shows only a LocalTableScan, so the
  * plan audit (`graft.Profile ... explain`, plans/rNN artifacts) reads
  * the REAL computation from here instead. Builders return (lazy
  * output, caches to release).
  *
  * NOT side-effect free (r12, was misdocumented): several builders run
  * small materialization jobs at PLAN-BUILD time — counts whose values
  * are embedded in the plan as literals (triangles' n_wedges/oe.count,
  * secondary_index's post.count) — so building a plan may take seconds
  * and leaves the returned caches persisted. Profile unpersists them
  * after printing; any other consumer must do the same. */
object LazyPlans {
  val builders
      : Map[String, (SparkSession, String) => (DataFrame, Seq[DataFrame])] =
    Map(
      "q_scale_heavy_hitters" -> ((s, d) =>
        operators.ScaleOps.heavyHittersPlan(s, d)),
      "q_scale_secondary_index" -> ((s, d) =>
        operators.ScaleOps.secondaryIndexPlan(s, d)),
      "q_scale_range_partition" -> ((s, d) =>
        operators.ScaleOps.rangeBoundsPlan(s, d)),
      "q_window_rfm" -> ((s, d) =>
        operators.Windows.rfmPlan(s, d)),
      "q_graph_lift" -> ((s, d) =>
        operators.GraphOps.liftPlan(s, d)),
      "q_graph_triangles" -> ((s, d) =>
        operators.GraphOps.trianglesPlan(s, d)),
      "q_graph_triangles_capped" -> ((s, d) =>
        operators.GraphOps.trianglesCappedPlan(s, d))
    )
}

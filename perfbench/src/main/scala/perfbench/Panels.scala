package perfbench

/** The fixed panel the `sweep` workload times: declared queries from both
  * sides of the MV layer, chosen across families rather than by speed, and
  * with cheap lazy set-up. A run must fit set-up (each query's first, cold
  * execution) and a long timed phase into about a minute, so the panel
  * cannot be the whole declared surface. */
object Panels {
  /** `operators.*` and `functions.*`: scan/filter, semi join, as-of join
    * strategy, window rank, bitmap distinct aggregate. The cube rewrite
    * rule sees these and refuses them. */
  val sql: Seq[String] = Seq("q02_filter_project", "q07_join_semi",
    "q10_join_asof", "q17_window_rank", "q208_bitmap_distinct")

  /** `cube/CubeQueries`: routed SQL (HLL distinct, filter subset) and
    * CubeService verbs (retention, rolling bitmap distinct, cohort matrix).
    * Their set-up builds the cubes and registers the routing. */
  val cube: Seq[String] = Seq("q140_distinct_routing", "q155_filter_routing",
    "q225_retention_bitmap", "q210_rolling_bitmap_distinct",
    "q248_cohort_matrix")

  val all: Seq[String] = sql ++ cube
}

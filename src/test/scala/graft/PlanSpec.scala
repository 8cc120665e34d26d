package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-level scale invariants, asserted over the WHOLE declared query
  * surface so they can't silently regress (PERFORMANCE.md documents
  * them; this spec keeps them true):
  *
  * - No cartesian/broadcast-nested-loop join anywhere except the
  *   explicitly whitelisted queries whose semantics require one (each
  *   with the small side broadcast by construction).
  * - Filters reach the parquet scan (PushedFilters) and columns are
  *   pruned (ReadSchema) on representative queries.
  * - Small dimension tables are joined via BroadcastHashJoin.
  */
class PlanSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Queries whose SEMANTICS are a non-equi pairing; in every case the
    * broadcast side is provably small (query set, centroid set, or the
    * deliberately-brute-force oracle anchor whose scale path exists as a
    * separate query). */
  private val nestedLoopByDesign = Set(
    "q09_join_range",        // theta/range join: non-equi by definition
    "q39_dedup_embedding",   // brute-force oracle anchor (scale path: q67)
    "q40_knn_brute",         // brute-force baseline (scale paths: q41/q51)
    "q51_knn_ivf",           // crossJoin vs <=16 broadcast centroids
    "q10_join_asof",         // window-rewrite as-of: range condition
    "q53_asof_native",       // native as-of operator (merge, not NLJ)
    "q83_vec_quantize",      // crossJoin vs ONE broadcast stats row
    "q97_histogram",         // crossJoin vs ONE broadcast min/max row
    "q100_gap_fill",         // crossJoin vs ONE broadcast time-range row
    "q113_sales_opportunity", // crossJoin vs ONE broadcast scalar-avg row
    "q115_semantic_dedup",    // crossJoin vs <=16 broadcast centroids (q51 path)
    "q164_ann_index_serve",   // crossJoin vs <=16 broadcast PERSISTED centroids
    "q178_ann_delete_serve",  // same persisted-centroid broadcast, all clusters probed
    "q193_ann_time_travel",   // as-of serves on the q178 exhaustive path
                              // (round-18 item 4: nprobe >= k probes ARE
                              // the query x centroid cross product; missed
                              // from this list when the path changed)
    "q117_heavy_hitters",     // crossJoin vs ONE broadcast sketch row
    "q118_word_cooccurrence", // crossJoin vs ONE broadcast total-count row
    "q120_audience_overlap",  // |types| x |types| sketch-pair join, both sides tiny
    "q122_top_supplier",      // crossJoin vs ONE broadcast max-revenue row
    "q170_important_stock",   // crossJoin vs ONE broadcast global-total row
    "q123_bm25",              // crossJoin vs ONE broadcast avgdl row
    "q133_bloom_join",        // crossJoin vs ONE broadcast 64KiB bloom row
    "q134_snapshot_diff",     // crossJoin vs ONE broadcast max-doc_id row
    "q179_merge_upsert",      // crossJoin vs ONE broadcast max-orderkey row
    "q182_triangle_count",    // crossJoins of three ONE-ROW stat frames
    "q201_association_rules", // crossJoin vs ONE broadcast basket-total row
    "q202_drift_chisq",       // crossJoin vs ONE broadcast midpoint row
    "q205_vocab_coverage",    // rank<=budget theta join vs 4 broadcast rows
    "q247_overlap_matrix",    // a<b pair grid over |values| one-row bitmaps
                              // (5 event types here) — q120's exact twin
    "q248_cohort_matrix",     // p2>=cohort triangle walk over |days|
                              // one-row bitmap frames (30 days here)
    "q249_calendar_cohorts",  // the same walk over |months| frames
    "q278_time_to_convert",   // pa<=pb<=pa+maxLag lag grid over two
                              // |periods| one-row bitmap frames (the
                              // q248 triangle-walk shape, lag-bounded)
    "q280_calendar_time_to_convert", // the same lag grid over ~84
                              // monthly one-row bitmap frames
    "q281_cohort_value",      // p2>=cohort triangle walk over ~340
                              // weekly one-row weight-map frames
                              // (q248's shape with values)
    "q282_cohort_value_calendar", // the same walk over ~84 monthly
                              // one-row weight-map frames
    "q283_join_cohort_value", // the weekly walk over the join MV's
                              // one-row weight-map frames
    "q284_cohort_value_routing", // the ROUTED form of the same walk
                              // (p2>=cohort over |days| one-row frames)
    "q285_advised_cohort_value", // the honesty-loop twin (advised
                              // cube, same routed pair walk)
    "q286_calendar_cohort_value_routing", // the same routed walk over
                              // ~84 monthly one-row weight-map frames
    "q287_sql_cohort_value_routing", // the SQL-text twin of q286
    "q291_dict_cohort_value", // the q282 walk over dict-encoded
                              // monthly one-row weight-map frames
    "q294_dict_cohort_value_routing", // the q284 routed walk over
                              // dict-encoded weekly one-row frames
    "q299_time_to_convert_routing", // the q278 lag grid routed:
                              // pb>=pa triangle over one-row frames
    "q303_cohort_matrix_routing", // the q248 triangle walk ROUTED:
                              // p2>=cohort over |days| one-row bitmap
                              // frames (the count twin of q284)
    "q304_calendar_cohort_matrix_routing", // the same routed walk over
                              // ~84 monthly one-row bitmap frames
    "q305_dict_cohort_matrix_routing", // the q303 walk over
                              // dict-encoded weekly one-row frames
    "q308_join_time_to_convert_routing", // the q299 lag grid over the
                              // join MV's one-row bitmap frames
    "q312_chain_cohort_value") // the q283 weekly walk over the CHAIN
                              // MV's one-row weight-map frames

  test("no unjustified cartesian or nested-loop join in any query plan") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val bad = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        if (bad && !nestedLoopByDesign.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"nested-loop/cartesian joins outside the whitelist: $offenders")
  }

  test("whitelisted nested-loop queries broadcast their small side") {
    for (name <- nestedLoopByDesign -- Set("q53_asof_native", "q10_join_asof")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      if (plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("CartesianProduct")) {
        assert(plan.contains("BroadcastNestedLoopJoin"),
          s"$name: cartesian without broadcast")
      }
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val plan = SparkEntry.queries("q02_filter_project")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      !plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      s"q02 scan has no pushed filters:\n$plan")
  }

  test("events ts range filters push through the NTZ-normalizing cast") {
    // Tables.events normalizes the current datasets' TIMESTAMP_NTZ ts
    // with a cast to session-TZ TIMESTAMP; in a UTC session Spark
    // unwraps that cast in comparisons (order-preserving), so a ts
    // range predicate must still reach the parquet scan as a pushed
    // filter — a regression here would silently full-scan events for
    // every time-windowed query at 100 TB
    import org.apache.spark.sql.functions.{col, lit}
    val plan = Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
      .select(col("user_id"))
      .queryExecution.executedPlan.toString
    val pushed = plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
    assert(pushed.contains("ts"),
      s"ts range filter not pushed to the events scan: $pushed")
  }

  test("column pruning: q02 reads only the projected/filtered columns") {
    val plan = SparkEntry.queries("q02_filter_project")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    // lineitem has 16 columns; the query needs a handful
    assert(!readSchema.contains("l_comment"),
      s"q02 reads unneeded columns: $readSchema")
  }

  test("partition pruning: a filtered read of the q86 export prunes by directory") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // materialize the partitioned export, then read it back filtered on
    // a partition column: the predicate must land in PartitionFilters
    // (directory-level pruning — no data files of other langs touched),
    // not as a data-filter over a full scan
    SparkEntry.queries("q86_shard_export")(spark, sfDir).collect()
    val out = s"${sys.props("java.io.tmpdir")}/graft_shard_export_" +
      sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val plan = spark.read.parquet(out).filter(col("lang") === "en")
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.contains("lang"), s"no partition filter on lang:\n$plan")
  }

  test("bucket pruning: a point filter on the bucket key reads one bucket of eight") {
    import org.apache.spark.sql.functions.col
    // materialize the q143/q144 bucketed layout, then filter on the
    // bucket key: the scan must prune to a single bucket's files
    SparkEntry.queries("q144_bucketed_agg")(spark, sfDir).collect()
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    // a bare filter has no distribution requirement, so the planner's
    // auto-bucketed-scan heuristic would skip the bucketed read (and
    // with it the pruning) — force the bucketed scan for the assertion
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val plan = spark.table(s"lineitem_bucketed_$tag")
        .filter(col("l_orderkey") === 1L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"point filter did not prune buckets:\n$plan")
    } finally spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("q112 OR-of-ANDs predicate splits and pushes to BOTH scans") {
    val plan = SparkEntry.queries("q112_discounted_revenue")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Catalyst must derive the per-table residue of the cross-table
    // disjunction: lineitem's scan gets the quantity-band Or, part's
    // scan gets the brand/size Or — neither side scans unfiltered
    val pushedOrs = "PushedFilters: \\[[^\\]]*Or\\(".r
      .findAllMatchIn(plan).size
    assert(pushedOrs >= 2,
      s"q112: expected Or(...) pushed to both scans, found $pushedOrs:\n$plan")
  }

  test("dimension joins broadcast: q05 star join uses BroadcastHashJoin") {
    val plan = SparkEntry.queries("q05_join_broadcast_star")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q05:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "q05 dims should all broadcast, not sort-merge")
  }

  test("q72 decontamination broadcasts the eval side, not the corpus") {
    val plan = SparkEntry.queries("q72_contamination")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q72:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "q72's shingle join must be map-side (broadcast eval), " +
        "or the training corpus shuffles before aggregation")
  }

  test("partial aggregation everywhere: q01 has a map-side partial") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // two HashAggregate levels around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"q01:\n$plan")
  }

  test("whole-stage codegen: q01's filter and partial aggregate are generated code") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    df.collect() // AQE inserts the codegen stages as it runs
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"q01:\n$plan")
    assert("""\*\(\d+\) Filter""".r.findFirstIn(plan).isDefined, s"q01:\n$plan")
    assert("""\*\(\d+\) HashAggregate\(keys=\[[^\]]*\], functions=\[partial_"""
      .r.findFirstIn(plan).isDefined, s"q01:\n$plan")
  }

  test("AQE splits a planted whale key on the fact-to-fact join shape") {
    // the dedup family has its planted-whale cap test (DedupCapSpec);
    // this is the relational twin: the q04/q143 fact-to-fact equi-join
    // under key skew must be rescued at RUNTIME by AQE's skew-join
    // split — the direct "survives 100×" evidence for shuffled joins,
    // where no static plan choice can see the whale. Thresholds are
    // scaled to fixture bytes (the detector compares map-output
    // partition sizes — the geometry, factor-over-median + absolute
    // floor, is the same one production uses at 256 MB).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> scala.util.Try(c.get(k)).toOption)
    try {
      c.set("spark.sql.adaptive.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // no broadcast escape hatch: force the shuffled-join path the
      // 100 TB fact-to-fact shape actually takes
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "32KB")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      // whale: one key carries 40k of 45k left rows; right is uniform.
      // The payload must SURVIVE column pruning into the shuffle (a
      // bare repeated key compresses to nothing and the whale partition
      // never crosses the byte threshold), and the post-join aggregate
      // is GLOBAL — a groupBy on the join key would let AQE decline the
      // split to preserve the reusable partitioning.
      val left = spark.range(0, 45000)
        .select(when(col("id") < 40000, 0L).otherwise(col("id") % 500)
            .as("k"),
          concat(lit("payload_"), col("id")).as("p"))
      val right = spark.range(0, 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      val q = left.join(right, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(length(col("p"))).as("bytes"))
      val n = q.collect().head.getLong(0)
      assert(n == 45000L, s"join dropped rows: $n")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not fire on the whale key:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => c.set(k, x); case None => c.unset(k) }
    }
  }
}

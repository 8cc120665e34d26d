package graft.cube

import scala.collection.concurrent.TrieMap

import graft.Tables
import graft.operators.Stable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checkable batch forms of the cube lifecycle (SURVEY.md §7.3):
  * create (R1), roll-up query served from the cube (R6), and incremental
  * signed-delta maintenance (R3). Each declared query goes through
  * [[CubeManager]] — the oracle SQL recomputes the same answer directly
  * from the source, so a hash match proves the cube path is equivalent to
  * a full recompute (the defining invariant of the reference).
  */
object CubeQueries {
  type Q = (SparkSession, String) => DataFrame

  private def eventsCubeConfig = CubeConfig(
    name = "events_by_type_hour",
    source = "events",
    dims = Seq(FieldDim("etype", "event_type"), TimeDim("hour", "ts", "hour")),
    measures = Seq(Measure("value_sum", "value")))

  // ---------------------------------------------------------------- q33
  /** Cube creation: materialized aggregates over (event_type, hour). */
  def q33CubeCreate(spark: SparkSession, sfDir: String): DataFrame = {
    val cube = CubeManager.create(eventsCubeConfig, Tables.events(spark, sfDir))
    cube.aggregates
      .select(col("etype"), epochS(col("hour")).as("hour_s"),
        col("value_sum").cast("double").as("value_sum"),
        col(CubeManager.CountCol).as("n"))
      .orderBy(col("etype"), col("hour_s"))
  }

  // ---------------------------------------------------------------- q34
  /** Roll-up query served FROM the cube (never re-reading the source):
    * per-event-type totals and averages restricted to one week. */
  def q34CubeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cube = CubeManager.create(eventsCubeConfig, Tables.events(spark, sfDir))
    CubeManager.query(cube,
        subsetDims = Seq("etype"),
        filter = col("hour") >= lit("2024-01-08 00:00:00").cast("timestamp")
          && col("hour") < lit("2024-01-15 00:00:00").cast("timestamp"),
        sumOf = Seq("value_sum"),
        avgOf = Seq("value_sum"))
      .orderBy(col("etype"))
  }

  // ---------------------------------------------------------------- q35
  /** Incremental maintenance with inserts AND deletes: start from a base
    * cube (80% of events), then fold one delta batch containing the
    * remaining inserts (+1) and a purge of all base error events (−1).
    * The oracle recomputes the final state from scratch with signed SQL —
    * hash equality proves fold-vs-recompute equivalence. */
  def q35CubeIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val isDelta = col("event_id") % 5 === 4
    val base = CubeManager.create(eventsCubeConfig, ev.filter(!isDelta))
    val inserts = ev.filter(isDelta).withColumn("_sign", lit(1))
    val deletes = ev.filter(!isDelta && col("event_type") === "error")
      .withColumn("_sign", lit(-1))
    val updated = CubeManager.applyDeltas(base, inserts.unionByName(deletes))
    updated.live
      .select(col("etype"), epochS(col("hour")).as("hour_s"),
        col("value_sum").cast("double").as("value_sum"),
        col(CubeManager.CountCol).as("n"))
      .orderBy(col("etype"), col("hour_s"))
  }

  // ---------------------------------------------------------------- q58
  private val routingCfg = CubeConfig("routing_demo", "events",
    dims = Seq(FieldDim("etype", "event_type")),
    measures = Seq(Measure("value_sum", "value")),
    extremes = Seq(Measure("value", "value")))

  /** One-time materialization for q58, keyed per (session, sfDir): cube
    * saved to a temp dir, a plain projected copy of the source written
    * beside it (events.parquet is read via the nanosAsLong conf + a ts
    * rebuild, so the relation under the aggregate is NOT the raw file
    * scan — the rule needs a clean source), and the pair registered with
    * the catalog. The graded fn below is then pure query + assertion —
    * its bench time measures routing, not parquet writes. */
  private val routingSetup = TrieMap.empty[(SparkSession, String), String]
  private def routingSource(spark: SparkSession, sfDir: String): String =
    routingSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_route").toString
      CubeManager.save(CubeManager.create(routingCfg, Tables.events(spark, sfDir)), dir)
      CubeCatalog.install(spark)
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("value")).write.parquet(srcDir)
      // catalog key is per-sfDir so two scale factors can coexist in one
      // session; routing matches on the source path, not the key
      CubeCatalog.register(s"routing_demo@$sfDir",
        CubeManager.load(spark, dir, "routing_demo"), srcDir)
      srcDir
    })

  /** One-time materialization setup for the routing demos, exposed for
    * the bench warmup (SparkEntry.prepare) — same contract as
    * RelationalQueries.ensureBucketedLayout. */
  def ensureRoutingSetup(spark: SparkSession, sfDir: String): Unit = {
    routingSource(spark, sfDir)
    distinctRoutingSource(spark, sfDir)
    lifecycleService(spark, sfDir)
    changeStreamService(spark, sfDir)
    joinCubeState(spark, sfDir)
    joinStreamService(spark, sfDir)
    joinRouteSources(spark, sfDir)
    joinSubsetSources(spark, sfDir)
    rollingMmService(spark, sfDir)
    rollupRoutingSource(spark, sfDir)
    deleteExtremesService(spark, sfDir)
    deleteSketchService(spark, sfDir)
    timeTravelService(spark, sfDir)
    joinSketchSources(spark, sfDir)
    joinStreamSketchService(spark, sfDir)
    advisedSource(spark, sfDir)
    cubeTimeTravelService(spark, sfDir)
    rollingCdcService(spark, sfDir)
    advisedRollingService(spark, sfDir)
    advisedJoinRollService(spark, sfDir)
    exactDistinctSource(spark, sfDir)
    asOfRoutingSource(spark, sfDir)
    streamWauService(spark, sfDir)
    joinAsOfSources(spark, sfDir)
    advisedSegService(spark, sfDir)
    advisedCvSource(spark, sfDir)
    rollingRouteSource(spark, sfDir)
    chainRouteAll(spark, sfDir)
    advisedChainSources(spark, sfDir)
    chainTtAll(spark, sfDir)
    dictDistinctService(spark, sfDir)
    advisedRetentionState(spark, sfDir)
    joinRollRouteSources(spark, sfDir)
    advisedFunnelSource(spark, sfDir)
    dictStreamService(spark, sfDir)
    joinTtService(spark, sfDir)
    dictRouteSource(spark, sfDir)
    joinDictService(spark, sfDir)
    joinFunnelRouteSources(spark, sfDir)
    firstSeenRouteSource(spark, sfDir)
    calRetService(spark, sfDir)
    dictValService(spark, sfDir)
    dictValRouteSource(spark, sfDir)
    dictSegTtService(spark, sfDir)
    // round 18: q244/q268's lifecycle cube was the one lazily-built
    // service missing from this list, so q244 (alphabetically first
    // consumer) paid the cohort_tt createCube + fold inside its timed
    // window (measured 4.8 s for a ~0.9 s serve) — the exact
    // one-time-materialization cost this hook exists to amortize.
    cohortTtService(spark, sfDir)
    ()
  }

  /** The MV-routing rule on the graded surface: a plain source-shaped
    * aggregation over the registered source — the optimizer silently
    * serves it from the materialized cube (asserted), while the DuckDB
    * oracle recomputes from the raw table. Hash equality proves the
    * automatic rewrite is exact. */
  def q58CubeRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = routingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
    // hard assertion: the optimized plan must scan the cube, not the source
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/routing_demo")),
      s"MV routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q140
  private val distinctRoutingCfg = CubeConfig("distinct_routing_demo", "events",
    dims = Seq(FieldDim("etype", "event_type")),
    measures = Seq(Measure("value_sum", "value")),
    sketches = Seq(Measure("users", "user_id")))

  private val distinctRoutingSetup = TrieMap.empty[(SparkSession, String), String]
  private def distinctRoutingSource(spark: SparkSession, sfDir: String): String =
    distinctRoutingSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_droute").toString
      CubeManager.save(
        CubeManager.create(distinctRoutingCfg, Tables.events(spark, sfDir)), dir)
      CubeCatalog.install(spark)
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("value"), col("user_id"))
        .write.parquet(srcDir)
      // approx-distinct opt-in is scoped to THIS registration (not a
      // session conf): later re-optimizations (.write/.collect) still see
      // it via the catalog, and no other query's optimizer behavior is
      // mutated — a registration of a real table path elsewhere in the
      // session cannot inherit the opt-in by accident.
      CubeCatalog.register(s"distinct_routing_demo@$sfDir",
        CubeManager.load(spark, dir, "distinct_routing_demo"), srcDir,
        approxDistinct = true)
      srcDir
    })

  /** The OPT-IN approx-distinct routing on the graded surface: an
    * `approx_count_distinct` over the registered source is served from
    * the cube's maintained HLL partials (union + one estimate per
    * group — cost ∝ |cube|, the only shape that avoids re-scanning the
    * source for a distinct question). The plan is hard-asserted to scan
    * the cube. Rows-only: estimates have no DuckDB twin; exactness-vs-
    * routing equivalence is pinned in CubeRewriteSpec. */
  def q140DistinctRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = distinctRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("nd_users"))
      .orderBy(col("event_type"))
    // hard assertion: the optimized plan must scan the cube, not the source
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/distinct_routing_demo")),
      s"approx-distinct routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q209
  private val exactDistinctCfg = CubeConfig("exact_distinct_demo", "events",
    dims = Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
    measures = Seq(Measure("value_sum", "value")),
    bitmaps = Seq(Measure("users", "user_id")))

  private val exactDistinctSetup = TrieMap.empty[(SparkSession, String), String]
  private def exactDistinctSource(spark: SparkSession, sfDir: String): String =
    exactDistinctSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_xdroute").toString
      val ev = Tables.events(spark, sfDir)
      val isDelta = col("event_id") % 5 === 4
      val isPurged = !isDelta && col("event_type") === "error"
      // create from the 80% base, then ONE signed fold: the held-out
      // inserts +1 and a purge of the base's error events −1, with the
      // post-delta source at hand so the targeted recompute rebuilds
      // the purged cells' bitmaps — the delete-capable path, after
      // which the partials are EXACT again (no latch)
      val base = CubeManager.create(exactDistinctCfg, ev.filter(!isDelta))
      val deltas = ev.filter(isDelta).withColumn("_sign", lit(1))
        .unionByName(ev.filter(isPurged).withColumn("_sign", lit(-1)))
      val postSrc = ev.filter(!isPurged)
      val folded = CubeManager.applyDeltas(base, deltas, Some(postSrc))
      // persist + reload: the graded serve reads the SAVED state, so
      // the hash also proves the bitmap bytes survive parquet
      CubeManager.save(folded, dir)
      CubeCatalog.install(spark)
      val srcDir = s"$dir/source"
      postSrc.select(col("event_type"), col("value"), col("user_id"))
        .write.parquet(srcDir)
      // NO approxDistinct opt-in: exact-distinct routing is
      // answer-preserving (bitmap union is lossless), so registration
      // alone is the consent — the estimator-shift rationale behind the
      // HLL opt-in does not apply
      CubeCatalog.register(s"exact_distinct_demo@$sfDir",
        CubeManager.load(spark, dir, "exact_distinct_demo"), srcDir)
      srcDir
    })

  /** EXACT COUNT(DISTINCT) served from the MV — the routing the sketch
    * families only approximate: `count(DISTINCT user_id)` over the
    * registered source rewrites to bitmap_cardinality(union(per-cell
    * bitmap partials)) — cost ∝ |cube| fixed-size maps instead of
    * re-shuffling the source's distinct pairs per run — and because
    * bitmap union is LOSSLESS the routed answer hash-matches a raw
    * recompute, making this the first distinct-over-MV on the FULL
    * oracle gate. The cube graded here has lived the whole lifecycle:
    * created from a base slice, folded with inserts AND a delete batch
    * (targeted recompute rebuilding the purged cells from the
    * post-delta source — no latch), persisted, reloaded, registered.
    * The plan is hard-asserted to scan the cube, so the DuckDB hash
    * equality is evidence about the MAINTAINED state, not the source. */
  def q209ExactDistinctRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = exactDistinctSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd_users"),
        sum(dec2(col("value"))).cast("double").as("value_sum"))
      .orderBy(col("event_type"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/exact_distinct_demo")),
      s"exact-distinct routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q211
  /** Graded: EXACT COUNT(DISTINCT) through GROUPING-SETS routing — the
    * q163 rollup rewrite composed with the q209 bitmap family, exact
    * this time where q175's sketch rollup was estimate-grade: a ROLLUP
    * over the registered source mixing count(DISTINCT user_id) with
    * the exact sum/count leaves routes to the cube with the Expand's
    * input swapped from source rows to cube cells, the distinct leaf
    * rewritten to bitmap_cardinality(union(per-cell bitmaps)) — and
    * because the union is LOSSLESS every rollup level's distinct count
    * (including the all-types total, which unions ALL cells' bitmaps)
    * EQUALS the from-scratch recompute, so the whole grouping lattice
    * is on the DuckDB hash gate. Same maintained lifecycle as q209
    * (insert+delete fold with targeted recompute, persisted,
    * reloaded); plan hard-asserted to scan the cube. At 100 TB: one
    * |cube|-cell Expand instead of re-shuffling the source's distinct
    * pairs once per grouping set. */
  def q211BitmapRollupRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = exactDistinctSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .rollup(col("event_type"))
      .agg(grouping_id().as("gid"),
        countDistinct(col("user_id")).as("nd_users"),
        sum(dec2(col("value"))).cast("double").as("value_sum"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("gid"), col("nd_users"),
        col("value_sum"), col("n"))
      .orderBy(col("gid"), col("event_type"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/exact_distinct_demo")),
      s"bitmap rollup routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q218
  /** Graded: the WAU curve MAINTAINED BY A CHANGE STREAM, exact — the
    * reference's steady-state loop (R2/R3) composed with the bitmap
    * family end to end: a day-dimmed cube carrying bitmap partials is
    * created from 80% of events, the rest arrives as a replayed
    * 3-file delta directory through [[CubeService.startAutoUpdate]]
    * (each micro-batch publishes durably via the two-rename swap), and
    * the graded serve is `getRolling(exactDistinctOf)` off the
    * stream-maintained persisted state. Because the bitmap buffer
    * serializes into streaming state and its union is LOSSLESS, the
    * streamed curve is not estimate-close but EQUAL — the DuckDB
    * oracle recomputes every trailing window from the raw table and
    * hash-matches, proving stream-maintained == never-streamed for a
    * distinct curve (q147 pinned this for sums; sketches could only
    * pin it in-suite). At 100 TB this is the WAU dashboard fed by the
    * oplog: per micro-batch cost ∝ |batch| + |cube|, per refresh
    * |days|·7 one-row bitmap unions. */
  private val streamWauSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def streamWauService(spark: SparkSession,
      sfDir: String): CubeService =
    streamWauSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_swau").toString
      val svc = new CubeService(spark, dir)
      val ev = Tables.events(spark, sfDir)
      val isDelta = col("event_id") % 5 === 4
      svc.createCube(
        CubeConfig("stream_wau", "events",
          dims = Seq(TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value")),
          bitmaps = Seq(Measure("users", "user_id"))),
        ev.filter(!isDelta))
      val deltaDir = s"$dir/deltas"
      ev.filter(isDelta).repartition(3).write.parquet(deltaDir)
      val q = svc.startAutoUpdate("stream_wau", deltaDir, ev.schema)
      q.processAllAvailable()
      svc.stopAutoUpdate("stream_wau")
      svc
    })

  def q218StreamBitmapRolling(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = streamWauService(spark, sfDir)
    svc.getRolling("stream_wau", "day", windowDays = 7,
        exactDistinctOf = Seq("users"))
      .select(col("day"), col("n_exact_users").as("n_users_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------- q146/q147
  /** One-time CubeService lifecycles for q146/q147, keyed per (session,
    * sfDir) — the q58 setup discipline: verbs run once against a temp
    * storage root; the graded fns then read through [[CubeService
    * .getAggregates]], so their CORRECTNESS rows prove the SERVICE path
    * (persisted two-rename publishes, registry reloads, streaming
    * foreachBatch publishes) equals a from-scratch recompute — the same
    * invariant q35 pins for the raw CubeManager fold.
    *
    * q146: create (80% of events) → manual updateAggregates folding one
    * signed batch (remaining inserts +1, purge of base error events −1).
    * q147: create (80%) → startAutoUpdate over a 3-file delta directory
    * (3 replayed micro-batches, insert-only R2 shape) → stop. */
  private def lifecycleCfg(name: String) = CubeConfig(name, "events",
    dims = Seq(FieldDim("etype", "event_type"), TimeDim("hour", "ts", "hour")),
    measures = Seq(Measure("value_sum", "value")))

  private val lifecycleSetup = TrieMap.empty[(SparkSession, String), CubeService]
  private def lifecycleService(spark: SparkSession, sfDir: String): CubeService =
    lifecycleSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_svc_life").toString
      val svc = new CubeService(spark, dir)
      val ev = Tables.events(spark, sfDir)
      val isDelta = col("event_id") % 5 === 4
      // q146: manual signed fold through the service
      svc.createCube(lifecycleCfg("svc_manual"), ev.filter(!isDelta))
      val inserts = ev.filter(isDelta).withColumn("_sign", lit(1))
      val deletes = ev.filter(!isDelta && col("event_type") === "error")
        .withColumn("_sign", lit(-1))
      svc.updateAggregates("svc_manual", inserts.unionByName(deletes))
      // q147: streaming auto-update from a replayed delta directory
      svc.createCube(lifecycleCfg("svc_auto"), ev.filter(!isDelta))
      val deltaDir = s"$dir/deltas"
      ev.filter(isDelta).repartition(3).write.parquet(deltaDir)
      val q = svc.startAutoUpdate("svc_auto", deltaDir, ev.schema)
      q.processAllAvailable()
      svc.stopAutoUpdate("svc_auto")
      svc
    })

  /** R7 lifecycle, graded: the roll-up served by the SERVICE after a
    * create → manual signed update (inserts + deletes) ran through its
    * verbs. The oracle recomputes the final state from the raw table
    * with signed SQL — the q35 invariant, now through the public API
    * and its persisted two-rename publish. */
  def q146ServiceLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = lifecycleService(spark, sfDir)
    svc.getAggregates("svc_manual", Seq("etype", "hour"),
        sumOf = Seq("value_sum"))
      .select(col("etype"), epochS(col("hour")).as("hour_s"),
        col("sum_value_sum").as("value_sum"), col("n_rows").as("n"))
      .orderBy(col("etype"), col("hour_s"))
  }

  /** R2 steady state, graded: the roll-up served by the SERVICE after
    * startAutoUpdate replayed a 3-file delta stream into the persisted
    * cube (each micro-batch published durably via foreachBatch). The
    * oracle recomputes over ALL events — stream-maintained == batch. */
  def q147ServiceAutoUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = lifecycleService(spark, sfDir)
    svc.getAggregates("svc_auto", Seq("etype"), sumOf = Seq("value_sum"))
      .select(col("etype"), col("sum_value_sum").as("value_sum"),
        col("n_rows").as("n"))
      .orderBy(col("etype"))
  }

  // --------------------------------------------------------------- q151
  /** The reference's R2 ingestion end to end THROUGH THE WIRE FORMAT:
    * create a cube from the base collection state, render the
    * remaining activity as MongoDB change-event JSON (inserts, value
    * updates with −pre/+post images, deletes with pre-images — the
    * exact bytes a `$changeStream` cursor with
    * `changeStreamPreAndPostImages` delivers), decode it with
    * [[graft.sources.MongoChangeStream]], fold through
    * `CubeService.updateAggregates`, and serve the roll-up. The oracle
    * recomputes the final collection state from the raw table with the
    * same slice arithmetic — so the graded compare covers JSON
    * round-trip, signed decode, the service fold, and the persisted
    * publish in one row.
    *
    * Slices (deterministic on event_id): %7==6 arrives via insert
    * events (not in the base), %7==5 gets value+1 via update events,
    * %7==4 is deleted. The wire document carries ts as epoch
    * MICROSECONDS (exact integer round-trip through JSON; doubles
    * round-trip via shortest-repr, and the oracle adds the identical
    * +1.0 before the decimal cast). One-time per (session, sfDir) —
    * the q146 setup discipline. */
  private val changeStreamSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private val cdcDocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts_us",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))
  private def changeStreamService(spark: SparkSession,
      sfDir: String): CubeService =
    changeStreamSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_mongo_life").toString
      val svc = new CubeService(spark, dir)
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      val mod = col("event_id") % 7
      def doc(v: org.apache.spark.sql.Column) =
        struct(col("event_type"),
          unix_micros(col("ts")).as("ts_us"), v.as("value"))
      svc.createCube(
        CubeConfig("mongo_cdc", "events",
          dims = Seq(FieldDim("etype", "event_type")),
          measures = Seq(Measure("value_sum", "value"))),
        ev.filter(mod =!= 6)
          .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
            col("value")))
      val insJson = ev.filter(mod === 6).select(to_json(struct(
        lit("insert").as("operationType"),
        doc(col("value")).as("fullDocument"))).as("value"))
      val updJson = ev.filter(mod === 5).select(to_json(struct(
        lit("update").as("operationType"),
        doc(col("value") + 1).as("fullDocument"),
        doc(col("value")).as("fullDocumentBeforeChange"))).as("value"))
      val delJson = ev.filter(mod === 4).select(to_json(struct(
        lit("delete").as("operationType"),
        doc(col("value")).as("fullDocumentBeforeChange"))).as("value"))
      val changes = s"$dir/changes"
      insJson.unionByName(updJson).unionByName(delJson).write.text(changes)
      svc.updateAggregates("mongo_cdc",
        graft.sources.MongoChangeStream.decode(
          spark.read.text(changes), cdcDocSchema))
      svc
    })

  // --------------------------------------------------------------- q152
  /** Incrementally maintained JOIN MV ([[ChainCubeManager]], the
    * delta-join rule Δ(L⋈R) = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR): revenue by order
    * priority over orders ⋈ lineitem, created from a base slice
    * (orders with o_orderkey%5≠4, lines with l_linenumber%3≠2), then
    * folded through TWO delta batches — (1) the late orders AND late
    * lines inserted together (exercising every term incl. ΔL⋈ΔR), (2)
    * a purge of the base slice's returned lines (right-side deletes).
    * The oracle recomputes the final two-sided state from the raw
    * tables — one hash compare covers the three-term expansion, sign
    * multiplication, multiset side-state compaction, and the shared
    * cube fold. Side states are narrow (key+measure / key+dim)
    * projections — the IVM auxiliary-state discipline at scale.
    * One-time per (session, sfDir); serve reads the maintained cube. */
  private val joinCubeSetup = TrieMap.empty[(SparkSession, String), CubeService]
  private def joinCubeState(spark: SparkSession, sfDir: String): CubeService =
    joinCubeSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_jmv").toString
      val svc = new CubeService(spark, dir)
      val cfgJ = JoinCubeConfig(
        CubeConfig("join_mv", "orders_lineitem",
          dims = Seq(FieldDim("prio", "o_orderpriority")),
          measures = Seq(Measure("revenue", "l_extendedprice"))),
        leftKey = "o_orderkey", rightKey = "l_orderkey")
      val ord = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(spark, sfDir)
      val liLate = col("l_linenumber") % 3 === 2
      svc.createJoinCube(cfgJ,
        ord.filter(col("o_orderkey") % 5 =!= 4),
        li.filter(!liLate).select(col("l_orderkey"), col("l_extendedprice")))
      svc.updateJoinAggregates("join_mv",
        ord.filter(col("o_orderkey") % 5 === 4).withColumn("_sign", lit(1L)),
        li.filter(liLate).select(col("l_orderkey"), col("l_extendedprice"))
          .withColumn("_sign", lit(1L)))
      svc.updateJoinAggregates("join_mv",
        ord.limit(0).withColumn("_sign", lit(1L)),
        li.filter(!liLate && col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .withColumn("_sign", lit(-1L)))
      svc
    })

  // --------------------------------------------------------------- q154
  /** The round-7 pieces COMPOSED, streaming: a join MV maintained by a
    * MongoDB change stream on ONE side through
    * [[CubeService.startJoinAutoUpdate]]. The lineitem side's remaining
    * activity is rendered as wire-format change-event JSON (inserts of
    * the late lines; deletes of the base slice's returned lines, with
    * pre-images) across three micro-batch files; each micro-batch
    * decodes to a signed right-side delta, folds through the delta-join
    * rule against the persisted previous version, and publishes cube +
    * both side states as one consistent manifest version. The oracle
    * recomputes the final two-sided state from the raw tables — one
    * hash compare covering wire decode, the three-term expansion, and
    * the per-batch versioned publish. One-time per (session, sfDir). */
  private val joinStreamSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private val liDocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("l_orderkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("l_extendedprice",
      org.apache.spark.sql.types.DoubleType)))
  private def joinStreamService(spark: SparkSession,
      sfDir: String): CubeService =
    joinStreamSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jmv_stream").toString
      val svc = new CubeService(spark, dir)
      val cfgJ = JoinCubeConfig(
        CubeConfig("join_stream", "orders_lineitem",
          dims = Seq(FieldDim("prio", "o_orderpriority")),
          measures = Seq(Measure("revenue", "l_extendedprice"))),
        leftKey = "o_orderkey", rightKey = "l_orderkey")
      val ord = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(spark, sfDir)
      val late = col("l_linenumber") % 3 === 2
      svc.createJoinCube(cfgJ, ord,
        li.filter(!late).select(col("l_orderkey"), col("l_extendedprice")))
      val liDoc = struct(col("l_orderkey"), col("l_extendedprice"))
      val insJson = li.filter(late).select(to_json(struct(
        lit("insert").as("operationType"),
        liDoc.as("fullDocument"))).as("value"), col("l_orderkey"))
      val delJson = li.filter(!late && col("l_returnflag") === "R")
        .select(to_json(struct(
          lit("delete").as("operationType"),
          liDoc.as("fullDocumentBeforeChange"))).as("value"),
          col("l_orderkey"))
      val changes = s"$dir/changes"
      // three micro-batch files (maxFilesPerTrigger=1 ⇒ one fold each):
      // inserts split in two, deletes third — exercises multi-version
      // streaming publish, not just a single fold
      insJson.filter(col("l_orderkey") % 2 === 0).select(col("value"))
        .coalesce(1).write.mode("append").text(changes)
      insJson.filter(col("l_orderkey") % 2 === 1).select(col("value"))
        .coalesce(1).write.mode("append").text(changes)
      delJson.select(col("value"))
        .coalesce(1).write.mode("append").text(changes)
      val q = svc.startJoinAutoUpdate("join_stream", changes,
        liDocSchema, side = "right")
      q.processAllAvailable()
      svc.stopJoinAutoUpdate("join_stream")
      svc
    })

  // --------------------------------------------------------------- q184
  /** The round's delete-capable sketch machinery COMPOSED with the
    * streaming change-stream path: a join MV carrying an HLL
    * distinct-supplier partial per priority cell, maintained by
    * wire-format change events that INCLUDE DELETES — each micro-batch
    * folds through the one-sided delta-join rule, and the delete
    * batches trigger the targeted cell recompute with the joined
    * source reconstructed from the MV's own side states (no access to
    * the original tables), so the sketch serve never latches. Setup
    * mirrors q154 (late-line inserts across two micro-batches, then
    * returned-line deletes in a third); the graded serve reads
    * distinct suppliers + exact revenue/count per priority from the
    * stream-maintained MV. Rows-only (HLL estimate); CubeServiceSpec
    * pins streamed == manual-fold == from-scratch for the distinct
    * estimates, and q154 hash-matches the exact measures of the same
    * streaming machinery. */
  private val joinStreamSketchSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private val liSkDocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("l_orderkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("l_suppkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("l_extendedprice",
      org.apache.spark.sql.types.DoubleType)))
  private def joinStreamSketchService(spark: SparkSession,
      sfDir: String): CubeService =
    joinStreamSketchSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jmv_skst").toString
      val svc = new CubeService(spark, dir)
      val cfgJ = JoinCubeConfig(
        CubeConfig("join_stream_sk", "orders_lineitem",
          dims = Seq(FieldDim("prio", "o_orderpriority")),
          measures = Seq(Measure("revenue", "l_extendedprice")),
          sketches = Seq(Measure("supps", "l_suppkey"))),
        leftKey = "o_orderkey", rightKey = "l_orderkey")
      val ord = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(spark, sfDir)
      val late = col("l_linenumber") % 3 === 2
      svc.createJoinCube(cfgJ, ord,
        li.filter(!late).select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice")))
      val liDoc = struct(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"))
      val insJson = li.filter(late).select(to_json(struct(
        lit("insert").as("operationType"),
        liDoc.as("fullDocument"))).as("value"), col("l_orderkey"))
      val delJson = li.filter(!late && col("l_returnflag") === "R")
        .select(to_json(struct(
          lit("delete").as("operationType"),
          liDoc.as("fullDocumentBeforeChange"))).as("value"),
          col("l_orderkey"))
      val changes = s"$dir/changes"
      insJson.filter(col("l_orderkey") % 2 === 0).select(col("value"))
        .coalesce(1).write.mode("append").text(changes)
      insJson.filter(col("l_orderkey") % 2 === 1).select(col("value"))
        .coalesce(1).write.mode("append").text(changes)
      delJson.select(col("value"))
        .coalesce(1).write.mode("append").text(changes)
      val q = svc.startJoinAutoUpdate("join_stream_sk", changes,
        liSkDocSchema, side = "right")
      q.processAllAvailable()
      svc.stopJoinAutoUpdate("join_stream_sk")
      svc
    })

  def q184JoinStreamSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = joinStreamSketchService(spark, sfDir)
    // the serve itself is the no-latch proof: a latched cube refuses
    // distinctOf
    svc.getJoinAggregates("join_stream_sk", Seq("prio"),
        sumOf = Seq("revenue"), distinctOf = Seq("supps"))
      .select(col("prio"), col("n_distinct_supps").as("nd_supps"),
        round(col("sum_revenue"), 2).as("revenue"),
        col("n_rows").as("n"))
      .orderBy(col("prio"))
  }

  // --------------------------------------------------------------- q187
  /** The WORKLOAD-DRIVEN ADVISOR on the graded surface
    * ([[CubeAdvisor]]): the cube this query is served from was not
    * hand-written — the setup hands the advisor a three-query workload
    * (a dim rollup, a time-bucketed rollup with a dim filter, an
    * approx-distinct), materializes the SINGLE config it recommends
    * verbatim, registers it, and the graded query (one of the workload
    * shapes, re-planned) hard-asserts it now routes to the advised
    * cube. This closes the reference's design loop end to end:
    * real deployments don't know their cube configs a priori — they
    * know their queries, and deriving the MV from the workload (the
    * same structural vocabulary the rewrite matches on, inverted) is
    * how the 100 TB win gets found rather than guessed. The oracle
    * recomputes from the raw table: hash equality proves the
    * advised-then-routed answer exact. */
  private val advisorSetup = TrieMap.empty[(SparkSession, String), String]
  private def advisedSource(spark: SparkSession, sfDir: String): String =
    advisorSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_advq").toString
      CubeCatalog.install(spark)
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("ts"), col("value"), col("user_id"))
        .write.parquet(srcDir)
      def src = spark.read.parquet(srcDir)
      val workload = Seq(
        src.groupBy(col("event_type"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
            count(lit(1)).as("n")),
        src.filter(col("event_type") =!= "error")
          .groupBy(date_trunc("day", col("ts")))
          .agg(sum(col("value").cast("decimal(18,2)")).as("s")),
        src.groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id")).as("nd")))
      val advice = CubeAdvisor.advise(workload, "advised_demo")
      require(advice.uncovered.isEmpty && advice.cubes.size == 1,
        s"advisor must cover the demo workload: $advice")
      val cfg = advice.cubes.head.config
      CubeManager.save(CubeManager.create(cfg, src), dir)
      CubeCatalog.register(cfg.name,
        CubeManager.load(spark, dir, cfg.name), srcDir,
        approxDistinct = true)
      srcDir
    })

  def q187AdvisedRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = advisedSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .filter(col("event_type") =!= "error")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("value_sum"),
        count(lit(1)).as("n"))
      .select(col("event_type").as("etype"),
        col("day").cast("long").as("day_s"), col("value_sum"), col("n"))
      .orderBy(col("etype"), col("day_s"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/advised_demo_0")),
      s"advised-cube routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q174
  /** TIME TRAVEL over the join MV's retained versions: the same
    * orders ⋈ lineitem MV as q152 (base slice → insert fold → delete
    * fold), built with `retainJmvVersions = 4` so all three published
    * versions stay on disk, then EVERY version queried through
    * [[CubeService.getJoinAggregatesAsOf]] and unioned. Versioned
    * manifests were load-bearing for crash consistency since round 7;
    * this query grades the capability they enable for USERS: as-of
    * reads are the reproducibility handle of a training-data pipeline
    * (rerun yesterday's selection against yesterday's aggregates, diff
    * two versions to audit what a fold changed) at a storage cost of
    * retain × |MV| — priced on the compacted MV, never the source.
    * The oracle recomputes each version's state from the raw tables
    * (v0 = base slices, v1 = + late inserts, v2 = − returned lines),
    * so one hash compare proves every retained version is the exact
    * historical fixpoint, not a best-effort snapshot. */
  private val timeTravelSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def timeTravelService(spark: SparkSession,
      sfDir: String): CubeService =
    timeTravelSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_jmv_tt").toString
      val svc = new CubeService(spark, dir, retainJmvVersions = 4)
      val cfgJ = JoinCubeConfig(
        CubeConfig("tt_mv", "orders_lineitem",
          dims = Seq(FieldDim("prio", "o_orderpriority")),
          measures = Seq(Measure("revenue", "l_extendedprice"))),
        leftKey = "o_orderkey", rightKey = "l_orderkey")
      val ord = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(spark, sfDir)
      val liLate = col("l_linenumber") % 3 === 2
      svc.createJoinCube(cfgJ,                                    // v0
        ord.filter(col("o_orderkey") % 5 =!= 4),
        li.filter(!liLate).select(col("l_orderkey"), col("l_extendedprice")))
      svc.updateJoinAggregates("tt_mv",                           // v1
        ord.filter(col("o_orderkey") % 5 === 4).withColumn("_sign", lit(1L)),
        li.filter(liLate).select(col("l_orderkey"), col("l_extendedprice"))
          .withColumn("_sign", lit(1L)))
      svc.updateJoinAggregates("tt_mv",                           // v2
        ord.limit(0).withColumn("_sign", lit(1L)),
        li.filter(!liLate && col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .withColumn("_sign", lit(-1L)))
      svc
    })

  // --------------------------------------------------------------- q220
  /** Graded: AS-OF ROUTING FOR JOIN MVs — q213's optimizer time travel
    * on the two-table lifecycle: [[CubeService.registerJoinSourceAsOf]]
    * pins the two source paths to RETAINED VERSION 1 of the q174 MV
    * (after the insert fold, BEFORE the returned-lineitem purge), and a
    * plain aggregate over the raw inner equi-join of those sources
    * routes to v1's cells — "yesterday's revenue report through
    * today's query", no query-side change. v1's fold prefix is the
    * FULL join (base slices + the insert fold restored everything), so
    * the oracle recomputes from the raw tables and the answer visibly
    * differs from the head (v2 lacks the purged lines). Version dirs
    * are immutable behind the manifest, so the pin needs no snapshot;
    * plan hard-asserted to scan the v1 dir. */
  private val joinAsOfSetup = TrieMap.empty[(SparkSession, String), (String, String)]
  private def joinAsOfSources(spark: SparkSession,
      sfDir: String): (String, String) =
    joinAsOfSetup.getOrElseUpdate((spark, sfDir), {
      val svc = timeTravelService(spark, sfDir)
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jasof").toString
      val oSrc = s"$dir/osrc"
      val lSrc = s"$dir/lsrc"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.parquet(oSrc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.parquet(lSrc)
      CubeCatalog.install(spark)
      svc.registerJoinSourceAsOf(s"tt_mv_asof@$sfDir", "tt_mv", 1,
        oSrc, lSrc)
      (oSrc, lSrc)
    })

  def q220JoinAsOfRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinAsOfSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority").as("prio"), col("revenue"), col("n"))
      .orderBy(col("prio"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/v1")),
      s"join as-of routing did not fire on the archived version; scans=$scans")
    q
  }

  def q174MvTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = timeTravelService(spark, sfDir)
    val versions = svc.listJoinCubeVersions("tt_mv")
    require(versions == Seq(0, 1, 2),
      s"expected the full retained window 0..2, got $versions")
    versions.map { v =>
      svc.getJoinAggregatesAsOf("tt_mv", v, Seq("prio"),
          sumOf = Seq("revenue"))
        .select(lit(v.toLong).as("version"), col("prio"),
          col("sum_revenue").as("revenue"), col("n_rows").as("n"))
    }.reduce(_.unionByName(_)).orderBy(col("version"), col("prio"))
  }

  // --------------------------------------------------------------- q189
  /** TIME TRAVEL over a PLAIN (single-table) cube's retained versions —
    * q174's contract on the single-table lifecycle: an events cube
    * built from a base slice (v0), grown by a late-insert fold (v1),
    * then shrunk by a delete fold (v2), with `retainCubeVersions = 4`
    * so every published version stays addressable, and all three
    * queried through [[CubeService.getAggregatesAsOf]] and unioned.
    * The archive is the swapped-aside previous head itself (the
    * publish's delete became a rename — versioning costs the fold path
    * one metadata copy), so as-of(v) is byte-identical to what
    * getAggregates served while v was head. The oracle recomputes each
    * version's state from the raw table (v0 = base slice, v1 = all
    * events, v2 = minus the error rows), so one hash compare proves
    * every retained version is the exact historical fixpoint. */
  private val cubeTimeTravelSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def cubeTimeTravelService(spark: SparkSession,
      sfDir: String): CubeService =
    cubeTimeTravelSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_cube_tt").toString
      val svc = new CubeService(spark, dir, retainCubeVersions = 4)
      val cfg = CubeConfig("ctt", "events",
        dims = Seq(FieldDim("etype", "event_type")),
        measures = Seq(Measure("value_sum", "value")))
      val ev = Tables.events(spark, sfDir)
        .select(col("event_type"), col("value"), col("event_id"))
      svc.createCube(cfg, ev.filter(col("event_id") % 5 =!= 4))     // v0
      svc.updateAggregates("ctt",                                    // v1
        ev.filter(col("event_id") % 5 === 4).withColumn("_sign", lit(1L)))
      svc.updateAggregates("ctt",                                    // v2
        ev.filter(col("event_type") === "error")
          .withColumn("_sign", lit(-1L)))
      svc
    })

  // --------------------------------------------------------------- q192
  /** VERSION DIFF as a verb ([[CubeService.diffAggregates]]): the audit
    * workflow q174/q189 document — "diff two versions to see what the
    * folds changed" — served as one query over the q189 cube's retained
    * history: v0 (base slice) against v2 (after the late-insert fold
    * and the error-delete fold), full-outer joined per event type with
    * from/to/delta for the exact families. Groups the folds CREATED
    * diff as +themselves, groups they EMPTIED as −themselves (the
    * 'error' type exists only in v0's side here), absent sides read 0 —
    * the signed-delta identity, so the delta column IS the net effect
    * of everything folded between the two versions. Cost: two
    * cube-sized scans and one cube-keyed join, never the source. The
    * oracle recomputes both version states from the raw table and
    * diffs them in SQL — hash equality proves the verb's alignment,
    * zero-fill, and arithmetic exact. */
  def q192CubeVersionDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = cubeTimeTravelService(spark, sfDir)
    svc.diffAggregates("ctt", 0, 2, Seq("etype"), sumOf = Seq("value_sum"))
      .select(col("etype"),
        col("sum_value_sum_from").as("v_from"),
        col("sum_value_sum_to").as("v_to"),
        col("sum_value_sum_delta").as("v_delta"),
        col("n_rows_from").as("n_from"), col("n_rows_to").as("n_to"),
        col("n_rows_delta").as("n_delta"))
      .orderBy(col("etype"))
  }

  // --------------------------------------------------------------- q196
  /** ROLLING SUMS THROUGH A DELETE HISTORY — the claim behind the
    * deletes exemption, graded end to end: a day-dimmed cube built from
    * a base slice, grown by a late-insert fold, then shrunk by a
    * delete fold WITHOUT a post-delta source — which trips the
    * permanent insert-only latch for sketches and extremes — still
    * serves the trailing-window sum and average curves EXACTLY,
    * because the signed fold keeps net sums and row counts right where
    * nothing can un-insert a sketch. The oracle recomputes every
    * window from the raw table minus the deleted rows: hash equality
    * proves the latched cube's surviving families exact after real CDC
    * traffic, not just on an insert-only toy. At 100 TB this is the
    * difference between "rebuild the revenue dashboard's MV after
    * every GDPR purge" and "fold the purge, keep serving". */
  private val rollingCdcSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def rollingCdcService(spark: SparkSession,
      sfDir: String): CubeService =
    rollingCdcSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_rollcdc").toString
      val svc = new CubeService(spark, dir)
      val ev = Tables.events(spark, sfDir)
        .select(col("ts"), col("value"), col("event_type"),
          col("event_id"))
      svc.createCube(
        CubeConfig("roll_cdc", "events",
          dims = Seq(TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value"))),
        ev.filter(col("event_id") % 5 =!= 4))
      svc.updateAggregates("roll_cdc",
        ev.filter(col("event_id") % 5 === 4).withColumn("_sign", lit(1)))
      svc.updateAggregates("roll_cdc",
        ev.filter(col("event_type") === "error")
          .withColumn("_sign", lit(-1)))
      svc
    })

  def q196RollingSumCdc(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingCdcService(spark, sfDir)
    svc.getRolling("roll_cdc", "day", windowDays = 7,
        sumOf = Seq("v"), avgOf = Seq("v"))
      .select(col("day"), col("sum_v"), col("avg_v"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q213
  /** Graded: AS-OF ROUTING — the time-travel verbs composed with the
    * optimizer (the r12 routing-matrix gap: "a user who registers a
    * source and asks yesterday's question gets today's cube with no
    * as-of hook"). [[CubeService.registerSourceAsOf]] pins a source
    * path to RETAINED VERSION 1 of the q189 cube (after the late-insert
    * fold, BEFORE the error purge), and a plain aggregate over that
    * source routes to v1's cells — hard-asserted to scan the archived
    * version, and the answer deliberately DIFFERS from the head (v2
    * lacks the error rows). The oracle recomputes v1's state from the
    * raw table (all events — exactly the fold prefix v1 is the fixpoint
    * of), so hash equality proves the as-of-routed serve is the exact
    * historical answer. Publish-proof twice over: the registration is
    * version-keyed (a later publish's refresh can't move it to the
    * head) and its hard-link snapshot keeps the version's files alive
    * even past retention GC. */
  private val asOfRoutingSetup = TrieMap.empty[(SparkSession, String), String]
  private def asOfRoutingSource(spark: SparkSession, sfDir: String): String =
    asOfRoutingSetup.getOrElseUpdate((spark, sfDir), {
      val svc = cubeTimeTravelService(spark, sfDir)
      val dir =
        java.nio.file.Files.createTempDirectory("graft_asof_route").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("value")).write.parquet(srcDir)
      CubeCatalog.install(spark)
      svc.registerSourceAsOf(s"ctt_asof@$sfDir", "ctt", 1, srcDir)
      srcDir
    })

  def q213AsOfRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = asOfRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(dec2(col("value"))).cast("double").as("value_sum"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("ctt.versions/v1")),
      s"as-of routing did not fire on the archived version; scans=$scans")
    q
  }

  def q189CubeTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = cubeTimeTravelService(spark, sfDir)
    val versions = svc.listCubeVersions("ctt")
    require(versions == Seq(0, 1, 2),
      s"expected the full retained window 0..2, got $versions")
    versions.map { v =>
      svc.getAggregatesAsOf("ctt", v, Seq("etype"),
          sumOf = Seq("value_sum"))
        .select(lit(v.toLong).as("version"), col("etype"),
          col("sum_value_sum").as("value_sum"), col("n_rows").as("n"))
    }.reduce(_.unionByName(_)).orderBy(col("version"), col("etype"))
  }

  // --------------------------------------------------------------- q190
  /** The ADVISOR CLOSES THE ROLLING LOOP on the graded surface: the
    * workload handed to [[CubeAdvisor.advise]] is the raw
    * trailing-window shape users actually write (the q138 exact
    * rolling-distinct form and the q159 rolling-extremes form, both
    * built with [[graft.functions.Rolling.endpoints]] over a parquet
    * copy of events) — shapes the generic matcher must REFUSE
    * (count(DISTINCT) over the exploded window is unservable from
    * cells). The advisor recognizes the lowered
    * explode(sequence)/semi-join plan, recommends ONE day-dimmed cube
    * carrying an HLL partial for the distinct curve and exact extreme
    * partials, and the setup materializes that config VERBATIM through
    * [[CubeService.createCube]]. The graded query serves the
    * trailing-window min/max curve via [[CubeService.getRolling]] from
    * the advised cube — the one rolling family that is EXACT from
    * partials, so the DuckDB oracle recomputes every window from the
    * raw table and hash-matches (the estimate families ride the same
    * advised cube and are pinned vs the workload's own curves in
    * CubeAdvisorSpec). At 100 TB this is the design loop that finds
    * the WAU-curve MV from the dashboard's query log instead of
    * guessing it: corpus touched once for daily partials, every
    * refresh thereafter |days|·7 one-row merges. */
  private val advisedRollingSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def advisedRollingService(spark: SparkSession,
      sfDir: String): CubeService =
    advisedRollingSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advroll").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("ts"), col("value"), col("user_id"))
        .write.parquet(srcDir)
      def src = spark.read.parquet(srcDir)
      def dayCol = (unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").as("d")
      val workload = Seq(
        graft.functions.Rolling.endpoints(
            src.select(col("user_id"), dayCol).distinct())
          .agg(countDistinct(col("user_id")).as("nu")),
        graft.functions.Rolling.endpoints(src.select(dayCol, col("value")))
          .agg(min(col("value")).as("mn"), max(col("value")).as("mx")))
      val advice = CubeAdvisor.advise(workload, "adv_roll")
      require(advice.uncovered.isEmpty && advice.rolling.size == 1 &&
          advice.rolling.head.coveredQueries == Seq(0, 1),
        s"advisor must cover the rolling workload: $advice")
      val rec = advice.rolling.head
      // the distinct curve's key column is BIGINT, so the advisor
      // recommends EXACT bitmap partials (not the HLL sketch trade) —
      // q212 serves that curve on the full oracle gate
      require(rec.windows == Seq(7) && rec.dayDim == "ts_day" &&
          rec.config.bitmaps.map(_.path) == Seq("user_id") &&
          rec.config.sketches.isEmpty &&
          rec.exactDistinctOf == Seq("user_id_xd") &&
          rec.config.extremes.map(_.path) == Seq("value"),
        s"unexpected rolling recommendation: $rec")
      val svc = new CubeService(spark, dir)
      svc.createCube(rec.config, src)
      svc
    })

  def q190AdvisedRolling(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = advisedRollingService(spark, sfDir)
    svc.getRolling("adv_roll_rolling_0", "ts_day", windowDays = 7,
        minOf = Seq("value_x"), maxOf = Seq("value_x"))
      .select(col("day"), col("min_value_x").as("min_v"),
        col("max_value_x").as("max_v"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q212
  /** Graded: the ADVISOR'S EXACT-DISTINCT LOOP CLOSED — the WAU curve
    * planned from the workload's own trailing-window query
    * (count(DISTINCT user_id) over the exploded 7-day window), for
    * which [[CubeAdvisor]] recommends BITMAP partials (the key is
    * BIGINT — the exact family; the setup hard-requires no HLL fell
    * out), the q190 setup materialized verbatim, and the curve served
    * by [[CubeService.getRolling]]'s exactDistinctOf path. Where q190
    * grades the advised extremes, this grades the advised distinct —
    * previously only possible as an estimate; the DuckDB oracle
    * recomputes every trailing window from raw events and hash-matches
    * because bitmap union is lossless. advise → materialize →
    * exact serve, all three steps on the hash gate. */
  // --------------------------------------------------------------- q222
  /** Graded: the ADVISOR CLOSES THE SEGMENTED LOOP — the workload is
    * the raw per-segment trailing-window shape (q219's user form:
    * groupBy(event_type, day) over the explode/semi-join with one
    * equality per grouping), which [[CubeAdvisor]] recognizes as a
    * SEGMENTED rolling curve: the recommendation dims the cube on the
    * segment column plus the day bucket, carries `segmentBy`, and —
    * the key being BIGINT — exact bitmap partials. The setup
    * materializes the config verbatim; the graded serve is
    * `getRolling(exactDistinctOf, segmentBy)` and the DuckDB oracle
    * recomputes every (segment, day) trailing window from raw events:
    * workload recognized → cube designed → exact segmented serve, all
    * on the hash gate. */
  private val advisedSegSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def advisedSegService(spark: SparkSession,
      sfDir: String): CubeService =
    advisedSegSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advsegq").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("ts"), col("user_id"))
        .write.parquet(srcDir)
      def src = spark.read.parquet(srcDir)
      def dayCol = (unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").as("d")
      val du = src.select(col("event_type"), col("user_id"), dayCol)
        .distinct()
      val days = du.select(col("event_type"), col("d").as("day")).distinct()
      val workload = du
        .withColumn("day", expr("explode(sequence(d, d + 6))"))
        .drop("d")
        .join(days, Seq("event_type", "day"), "left_semi")
        .groupBy(col("event_type"), col("day"))
        .agg(countDistinct(col("user_id")).as("nu"))
      val advice = CubeAdvisor.advise(Seq(workload), "adv_seg")
      require(advice.uncovered.isEmpty && advice.rolling.size == 1,
        s"advisor must cover the segmented workload: $advice")
      val rec = advice.rolling.head
      require(rec.segmentBy == Seq("event_type") &&
          rec.exactDistinctOf == Seq("user_id_xd") &&
          rec.dayDim == "ts_day",
        s"unexpected segmented recommendation: $rec")
      val svc = new CubeService(spark, dir)
      svc.createCube(rec.config, src)
      svc
    })

  def q222AdvisedSegmentedRolling(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = advisedSegService(spark, sfDir)
    svc.getRolling("adv_seg_rolling_0", "ts_day", windowDays = 7,
        exactDistinctOf = Seq("user_id_xd"),
        segmentBy = Seq("event_type"))
      .select(col("event_type").as("etype"), col("day"),
        col("n_exact_user_id_xd").as("n_users_7d"))
      .orderBy(col("etype"), col("day"))
  }

  def q212AdvisedBitmapRolling(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = advisedRollingService(spark, sfDir)
    svc.getRolling("adv_roll_rolling_0", "ts_day", windowDays = 7,
        exactDistinctOf = Seq("user_id_xd"))
      .select(col("day"), col("n_exact_user_id_xd").as("n_users_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q195
  /** The ADVISOR CLOSES THE JOIN-ROLLING LOOP: the workload is the raw
    * trailing-window shape written over a JOIN — daily revenue
    * (orders ⋈ lineitem on the order key, day = order date) rolled over
    * 7 days with a decimal sum and an exact max. [[CubeAdvisor]]
    * recognizes the explode(sequence)/semi-join plan over the inner
    * equi-join, recommends ONE day-dimmed JOIN MV (measure partial for
    * the sum, extreme partial for the max), and the setup materializes
    * the [[JoinCubeConfig]] verbatim through
    * [[CubeService.createJoinCube]]. The graded query serves the two
    * curves via [[CubeService.getJoinRolling]] — both families are
    * EXACT from daily partials, so the DuckDB oracle recomputes every
    * trailing window from the raw joined tables and hash-matches. The
    * 100 TB story compounds: the delta-join rule maintains the daily
    * partials incrementally (new lineitems fold into their day's cell),
    * and every dashboard refresh reads |days|·7 one-row partials
    * instead of re-joining two fact tables. */
  private val advisedJoinRollSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def advisedJoinRollService(spark: SparkSession,
      sfDir: String): CubeService =
    advisedJoinRollSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advjroll").toString
      val lDir = s"$dir/orders"
      val rDir = s"$dir/lineitem"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"))
        .write.parquet(lDir)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.parquet(rDir)
      def mkQ() = {
        val j = spark.read.parquet(lDir)
          .join(spark.read.parquet(rDir),
            col("o_orderkey") === col("l_orderkey"))
          .select(datediff(col("o_orderdate"), lit("1970-01-01"))
              .cast("long").as("d"),
            col("l_extendedprice"))
        graft.functions.Rolling.endpoints(j)
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("s"),
            max(col("l_extendedprice")).as("mx"))
      }
      val advice = CubeAdvisor.advise(Seq(mkQ()), "adv_jroll")
      require(advice.uncovered.isEmpty && advice.rolling.size == 1,
        s"advisor must cover the join-rolling workload: $advice")
      val rec = advice.rolling.head
      require(rec.joinKeys.exists(k => k._3 == "o_orderkey" &&
          k._4 == "l_orderkey") && rec.dayDim == "o_orderdate_day" &&
          rec.sumOf == Seq("l_extendedprice_sum") &&
          rec.maxOf == Seq("l_extendedprice_x"),
        s"unexpected join-rolling recommendation: $rec")
      val svc = new CubeService(spark, dir)
      svc.createJoinCube(rec.joinConfig.get,
        spark.read.parquet(lDir), spark.read.parquet(rDir))
      svc
    })

  def q195AdvisedJoinRolling(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = advisedJoinRollService(spark, sfDir)
    svc.getJoinRolling("adv_jroll_rolling_0", "o_orderdate_day",
        windowDays = 7, sumOf = Seq("l_extendedprice_sum"),
        maxOf = Seq("l_extendedprice_x"))
      .select(col("day"), col("sum_l_extendedprice_sum").as("rev_7d"),
        col("max_l_extendedprice_x").as("max_price_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q160
  /** Graded: MV routing through the SQL-TEXT surface with a HAVING
    * clause — the same optimizer rule serves `spark.sql(...)` plans
    * (the rewrite runs on the optimized plan, so the entry API is
    * irrelevant — pinned here on the graded surface) and a HAVING
    * filter above the aggregate survives the rewrite: the analyzer
    * folds HAVING aggregates into the Aggregate node, the rule swaps
    * the aggregate leaves for cube partials keeping the original
    * output exprIds, and the filter re-binds untouched. HAVING
    * `count % 2 = 0` genuinely drops groups (counts are exact
    * integers in both engines) and the DuckDB oracle recomputes the
    * same filtered rollup from raw. */
  def q160SqlHavingRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = routingSource(spark, sfDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("routing_events")
    val q = spark.sql("""
      SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        COUNT(1) AS n
      FROM routing_events
      GROUP BY event_type
      HAVING COUNT(1) % 2 = 0
      ORDER BY event_type""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/routing_demo")),
      s"SQL-text HAVING routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q163
  /** One-time setup for q163: a TWO-dimensional cube (event_type ×
    * calendar day) so rollup/grouping-set queries have real hierarchy
    * to roll, materialized and registered the q58 way (cube saved to a
    * temp dir, a normalized source copy written beside it). */
  private val rollupRoutingCfg = CubeConfig("rollup_routing_demo", "events",
    dims = Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
    measures = Seq(Measure("value_sum", "value")),
    // q175's distinct sketch and q176's quantile sketch ride in the
    // SAME cube — one MV serving exact (q163) and approximate
    // (q175/q176) rollups side by side
    sketches = Seq(Measure("users", "user_id")),
    quantiles = Seq(Measure("value_dist", "value")),
    // q223's exact distinct rides too: the hierarchy rewrite unions
    // the day cells' bitmaps per month — the monthly MAU from the
    // day-grained cube, exact
    bitmaps = Seq(Measure("xusers", "user_id")))

  private val rollupRoutingSetup = TrieMap.empty[(SparkSession, String), String]
  private def rollupRoutingSource(spark: SparkSession, sfDir: String): String =
    rollupRoutingSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_rruroute").toString
      CubeManager.save(
        CubeManager.create(rollupRoutingCfg, Tables.events(spark, sfDir)), dir)
      CubeCatalog.install(spark)
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("ts"), col("value"), col("user_id"))
        .write.parquet(srcDir)
      // approxDistinct opt-in is scoped to THIS registration; it only
      // activates for approx_count_distinct leaves (q175), never
      // changing what q163's exact aggregates are served from
      CubeCatalog.register(s"rollup_routing_demo@$sfDir",
        CubeManager.load(spark, dir, "rollup_routing_demo"), srcDir,
        approxDistinct = true)
      srcDir
    })

  // --------------------------------------------------------------- q221
  /** Graded: TIME-HIERARCHY ROUTING — the month view served from the
    * DAY-dimmed cube: a `date_trunc('month', ts)` grouping over the
    * registered source rewrites to re-truncating the cube's day
    * attribute (`date_trunc(month, day)` — exact because month
    * boundaries are day boundaries), so the dashboard's month/quarter/
    * year views all re-aggregate |cube| day cells instead of
    * re-scanning the source per granularity. This is the classic OLAP
    * time hierarchy: ONE day-grained MV serves every coarser
    * calendar level (week rides too — from day, though nothing nests
    * week). Plan hard-asserted to scan the cube; the DuckDB oracle
    * recomputes the month totals from raw events, so hash equality
    * proves the re-truncation exact, not just plausible. */
  def q221GranularityRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollupRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(sum(dec2(col("value"))).cast("double").as("value_sum"),
        count(lit(1)).as("n"))
      .select(epochS(col("month")).as("month_s"), col("value_sum"),
        col("n"))
      .orderBy(col("month_s"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/rollup_routing_demo")),
      s"granularity routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q223
  /** Graded: EXACT DISTINCT through TIME-HIERARCHY routing — the
    * monthly MAU served from the day-grained WAU cube: a
    * `count(DISTINCT user_id)` grouped by `date_trunc('month', ts)`
    * routes to the day-dimmed cube with the grouping re-truncated
    * (q221) AND the distinct leaf rewritten to
    * bitmap_cardinality(union(day cells' bitmaps)) (q209) — the two
    * rewrites compose because the leaf binding and the dim binding are
    * orthogonal, and bitmap union's losslessness makes the coarser
    * level EXACT: the month's distinct set is exactly the OR of its
    * days' sets. This is the engagement-dashboard pair (WAU + MAU)
    * served from ONE maintained day-grained MV; without it the MAU
    * re-shuffles the source's distinct pairs per month per refresh.
    * Plan hard-asserted to scan the cube; full DuckDB oracle. */
  def q223HierarchyBitmapDistinct(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollupRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(countDistinct(col("user_id")).as("mau"),
        count(lit(1)).as("n"))
      .select(epochS(col("month")).as("month_s"), col("mau"), col("n"))
      .orderBy(col("month_s"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/rollup_routing_demo")),
      s"hierarchy bitmap routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q224
  /** Graded: GROUPING SETS × TIME HIERARCHY — `rollup(etype,
    * month(ts))` served from the (etype, DAY) cube: the Expand swap
    * (q163) composes with the hierarchy re-truncation (q221), so the
    * month slot's defining expression binds to `date_trunc(month,
    * day)` inside the routed Expand and every rollup level — per
    * (type, month), per type, grand total — re-aggregates day cells.
    * The BI month report over a star schema from the day-grained MV:
    * without it each grouping set re-scans the source, and a separate
    * month cube would double the MV bill. Exact measures ⇒ full
    * DuckDB ROLLUP oracle, grouping-id bits included; plan
    * hard-asserted to scan the cube. */
  def q224HierarchyRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollupRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .rollup(col("event_type"),
        date_trunc("month", col("ts")).as("month"))
      .agg(grouping_id().as("gid"),
        sum(dec2(col("value"))).cast("double").as("value_sum"),
        count(lit(1)).as("n"))
      .select(col("event_type").as("etype"),
        epochS(col("month")).as("month_s"), col("gid"),
        col("value_sum"), col("n"))
      .orderBy(col("gid"), col("etype"), col("month_s"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/rollup_routing_demo")),
      s"hierarchy rollup routing did not fire; scans=$scans")
    q
  }

  /** Graded: ROLLUP served from the materialized cube. The analyzer
    * lowers `rollup(a, b)` to an Aggregate over an `Expand` whose
    * grouping sets duplicate every row; [[CubeRewriteRule]] swaps the
    * Expand's input from source rows to live cube cells — the cells ARE
    * the finest grouping set, and the coarser sets (per-etype, grand
    * total) re-aggregate its partials, so query cost is ∝ |cube| at
    * every level of the hierarchy instead of |source| × |sets|. At
    * 100 TB that multiplier is the whole point: a 3-level rollup
    * re-reads the fact table three times without the MV. grouping_id()
    * (lowered to the Expand's synthetic gid column, preserved verbatim
    * by the rewrite) disambiguates data NULLs from rollup NULLs. The
    * plan is hard-asserted to scan the cube; the DuckDB oracle
    * recomputes the same ROLLUP from the raw table — grouping()'s bit
    * order (leftmost dim = MSB) agrees between the engines, so the
    * hash compare proves the routed hierarchy bit-identical. */
  def q163RollupRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollupRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .rollup(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("value_sum"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(col("event_type").as("etype"),
        col("day").cast("long").as("day_s"),
        col("gid"), col("value_sum"), col("n"))
      .orderBy(col("gid"), col("etype"), col("day_s"))
    // hard assertion: the optimized plan must scan the cube, not the source
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/rollup_routing_demo")),
      s"rollup routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q175
  /** SKETCH MEASURES through the grouping-set rewrite: a ROLLUP whose
    * aggregates mix approx_count_distinct with exact sum/count, served
    * ENTIRELY from q163's cube — the HLL leaf becomes
    * estimate(union(per-cell `users` partials)) inside the same
    * routed Expand, so every hierarchy level (per-etype/day, per-etype,
    * grand total) unions the SAME maintained partials instead of
    * re-scanning the source per set. Distinct does not add across
    * cells; sketches union losslessly at fixed lgK — which is exactly
    * why a distinct-count rollup is the query family that NEEDS the MV
    * most at 100 TB (without it, |source| × |sets| with a shuffle per
    * set). Same opt-in discipline as q140 (per-registration — the
    * estimator changes, so routing is never silent); rows-only on the
    * driver (datasketches HLL has no DuckDB twin), anchored by
    * CubeRewriteSpec's per-set est-vs-exact bound and the pinned
    * routed == cube-distinctOf grand total, with q163 hash-matching
    * the exact measures of the very same routed plan shape. */
  def q175SketchRollupRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollupRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .rollup(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(approx_count_distinct(col("user_id")).as("nd_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("value_sum"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(col("event_type").as("etype"),
        col("day").cast("long").as("day_s"),
        col("gid"), col("nd_users"), col("value_sum"), col("n"))
      .orderBy(col("gid"), col("etype"), col("day_s"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/rollup_routing_demo")),
      s"sketch rollup routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q176
  /** QUANTILE MEASURES through the same rewrite — percentile_approx
    * over the registered source served from the cube's maintained KLL
    * partials, plain and rolled: ranks do not add across cells (the
    * reason exact percentiles can't live in a pre-aggregated cube at
    * all, q130's argument), but KLL sketches MERGE, so the routed plan
    * computes kll_quantile(merge(per-cell partials), p) at cost
    * ∝ |cube| where the direct plan re-scans and re-sorts the source —
    * per grouping set. The honesty gate mirrors q140's rsd rule on the
    * accuracy knob: percentile_approx contracts rank error ≤
    * 1/accuracy and the maintained k=200 sketch delivers ~1.65%, so
    * only requests at or looser than that bound route (acc=50 here);
    * percentile_approx(…, 10000) — tighter than the partials hold —
    * recomputes from the source, loudly correct. Rows-only on the
    * driver (KLL compaction is rank-randomized; no DuckDB twin);
    * CubeRewriteSpec pins rank-band correctness per grouping set, the
    * opt-in requirement, and both refusal edges (tight accuracy,
    * array form). */
  def q176QuantileRollupRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollupRoutingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .rollup(col("event_type"))
      .agg(
        round(percentile_approx(col("value"), lit(0.5), lit(50)), 6)
          .as("p50_value"),
        round(percentile_approx(col("value"), lit(0.9), lit(50)), 6)
          .as("p90_value"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(col("event_type").as("etype"), col("gid"),
        col("p50_value"), col("p90_value"), col("n"))
      .orderBy(col("gid"), col("etype"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/rollup_routing_demo")),
      s"quantile rollup routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q165
  /** Graded: DELETE-CAPABLE extremes. The insert-only latch (q158's
    * refusal discipline) was correct but blunt — one folded delete
    * permanently degraded every min/max serve of the cube. The fold now
    * accepts the post-delta SOURCE state and recomputes min/max ONLY for
    * the dimension cells the delete batch touched (a broadcast semi-join
    * of the source down to those cells — bounded by the touched cells'
    * rows, never a full recompute; untouched cells keep their merged
    * partials), so delete-then-serve equals a from-scratch recompute and
    * the latch never trips. Setup folds ONE delete batch (every 5th
    * event) through `CubeService.updateAggregates(…, source = …)`; the
    * graded query serves min/max/sum/count per event type from the
    * maintained cube, and the DuckDB oracle recomputes the same
    * aggregation over the post-delete table — hash equality proves the
    * targeted recompute exact. */
  private val deleteExtremesSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def deleteExtremesService(spark: SparkSession,
      sfDir: String): CubeService =
    deleteExtremesSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_delext").toString
      val svc = new CubeService(spark, dir)
      val events = Tables.events(spark, sfDir)
      svc.createCube(
        CubeConfig("delete_extremes", "events",
          dims = Seq(FieldDim("etype", "event_type")),
          measures = Seq(Measure("value_sum", "value")),
          extremes = Seq(Measure("value", "value"))),
        events)
      svc.updateAggregates("delete_extremes",
        events.filter(col("event_id") % 5 === 0).withColumn("_sign", lit(-1)),
        source = Some(events.filter(col("event_id") % 5 =!= 0)))
      svc
    })

  def q165DeleteExtremes(spark: SparkSession, sfDir: String): DataFrame =
    deleteExtremesService(spark, sfDir)
      .getAggregates("delete_extremes", Seq("etype"),
        sumOf = Seq("value_sum"), minOf = Seq("value"), maxOf = Seq("value"))
      .select(col("etype"),
        col("sum_value_sum").as("value_sum"),
        col("min_value"), col("max_value"),
        col("n_rows").cast("long").as("n"))
      .orderBy(col("etype"))

  // --------------------------------------------------------------- q177
  /** Graded: DELETE-CAPABLE SKETCHES — q165's targeted cell recompute
    * generalized to every non-invertible partial family. A fold that
    * carries the post-delta source now rebuilds the touched cells'
    * HLL, KLL, and CMS partials (plus extremes) with the create-time
    * builder expressions, bounded by the touched cells' source rows —
    * so ONE delete no longer permanently degrades every sketch serve
    * of the cube, the failure mode the q158-era latch traded away.
    * Setup folds a delete batch (every 7th event) with the source
    * through the same `CubeService.updateAggregates(…, source = …)`
    * verb; the graded query serves approx-distinct users AND p50 value
    * AND the exact sum/count per event type from the maintained cube —
    * the serve itself is the latch proof, because a latched cube
    * REFUSES distinctOf/quantilesOf requests. Rows-only (HLL/KLL
    * estimates); CubeSpec pins folded == from-scratch per family
    * (HLL and CMS estimate-equal, extremes bit-equal, KLL rank band)
    * and that the sourceless fold still latches. */
  private val deleteSketchSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def deleteSketchService(spark: SparkSession,
      sfDir: String): CubeService =
    deleteSketchSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_delsk").toString
      val svc = new CubeService(spark, dir)
      // CMS keys are strings; feed a derived uid string column (the
      // create-time projection, carried identically by delta + source)
      val events = Tables.events(spark, sfDir)
        .withColumn("uid_s", col("user_id").cast("string"))
      svc.createCube(
        CubeConfig("delete_sketches", "events",
          dims = Seq(FieldDim("etype", "event_type")),
          measures = Seq(Measure("value_sum", "value")),
          sketches = Seq(Measure("users", "user_id")),
          quantiles = Seq(Measure("value_dist", "value")),
          extremes = Seq(Measure("value", "value")),
          freq = Seq(Measure("uid_top", "uid_s"))),
        events)
      svc.updateAggregates("delete_sketches",
        events.filter(col("event_id") % 7 === 0).withColumn("_sign", lit(-1)),
        source = Some(events.filter(col("event_id") % 7 =!= 0)))
      svc
    })

  def q177DeleteSketches(spark: SparkSession, sfDir: String): DataFrame =
    deleteSketchService(spark, sfDir)
      .getAggregates("delete_sketches", Seq("etype"),
        sumOf = Seq("value_sum"), distinctOf = Seq("users"),
        quantilesOf = Seq(("value_dist", 0.5)),
        minOf = Seq("value"), maxOf = Seq("value"))
      .select(col("etype"),
        col("n_distinct_users").as("nd_users"),
        round(col("p50_value_dist"), 6).as("p50_value"),
        round(col("sum_value_sum"), 2).as("value_sum"),
        col("min_value"), col("max_value"),
        col("n_rows").cast("long").as("n"))
      .orderBy(col("etype"))

  // --------------------------------------------------------------- q159
  /** Graded: ROLLING trailing-window MIN/MAX served from maintained
    * daily extreme partials through `CubeService.getRolling` — the
    * q138/q139/q141 rolling-serve shape with the one measure family
    * that is EXACT from partials (min over a window of days == min of
    * the days' mins), which makes this the first rolling serve with a
    * full DuckDB oracle instead of a rows-only sketch estimate. The
    * serve reads cube-sized data once (per-day pre-collapse) and each
    * endpoint merges ≤7 one-row partials — never the source; the
    * oracle recomputes every trailing window from the raw table. */
  private val rollingMmSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def rollingMmService(spark: SparkSession,
      sfDir: String): CubeService =
    rollingMmSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_rollmm").toString
      val svc = new CubeService(spark, dir)
      svc.createCube(
        CubeConfig("rolling_mm", "events",
          dims = Seq(TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value")),
          extremes = Seq(Measure("vx", "value")),
          // exact-distinct bitmap partials over the dense BIGINT user
          // key — the q210 rolling serve
          bitmaps = Seq(Measure("u", "user_id"))),
        Tables.events(spark, sfDir))
      // the SEGMENTED sibling (q219): an extra event-type dimension so
      // per-segment windows have per-segment daily partials to merge
      svc.createCube(
        CubeConfig("rolling_seg", "events",
          dims = Seq(FieldDim("etype", "event_type"),
            TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value")),
          bitmaps = Seq(Measure("u", "user_id"))),
        Tables.events(spark, sfDir))
      // q245: a JSON-derived segment (ExprDim) alongside the step
      // dimension — the segmented-funnel corpus
      svc.createCube(
        CubeConfig("funnel_seg", "events",
          dims = Seq(
            ExprDim("seg",
              "cast(get_json_object(props, '$.k') as int) % 2"),
            FieldDim("etype", "event_type"),
            TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value")),
          bitmaps = Seq(Measure("u", "user_id"))),
        Tables.events(spark, sfDir))
      svc
    })

  def q159RollingMinmax(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRolling("rolling_mm", "day", windowDays = 7,
        minOf = Seq("vx"), maxOf = Seq("vx"))
      .select(col("day"), col("min_vx"), col("max_vx"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q210
  /** Graded: ROLLING trailing-window EXACT DISTINCT from maintained
    * daily BITMAP partials — the WAU curve ([[q138RollingDistinct]]'s
    * shape, the single most common pipeline metric) served from
    * pre-aggregated state with NO estimate: bitmap union is lossless,
    * so OR-merging each endpoint's ≤7 one-row daily partials yields a
    * count EQUAL to the from-scratch distinct re-count — where the HLL
    * twin (q139) trades exactness for the same cost shape. The DuckDB
    * oracle is q138's own SQL (recompute every trailing window from
    * raw events), so hash equality proves partials-only == from-scratch
    * for a distinct curve — previously impossible from maintained
    * state. 100 TB split: corpus touched once for |days| daily bitmaps
    * (each ∝ touched id blocks, not rows); every refresh thereafter is
    * |days|·7 one-row unions, independent of event count. */
  def q210RollingBitmapDistinct(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRolling("rolling_mm", "day", windowDays = 7,
        exactDistinctOf = Seq("u"))
      .select(col("day"), col("n_exact_u").as("n_users_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q255
  private val dictStreamSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def dictStreamService(spark: SparkSession,
      sfDir: String): CubeService =
    dictStreamSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_dictstr").toString
      val svc = new CubeService(spark, dir)
      // a STRING user key (the most common real-world id shape) — the
      // projection is carried identically by the base, the stream
      // batches, and the oracle
      val ev = Tables.events(spark, sfDir)
        .withColumn("uid_s", concat(lit("u"), col("user_id")))
        .select(col("event_id"), col("event_type"), col("ts"),
          col("uid_s"))
      val isDelta = col("event_id") % 4 === 3
      svc.createCube(
        CubeConfig("dict_stream", "events",
          dims = Seq(FieldDim("etype", "event_type"),
            TimeDim("day", "ts", "day")),
          measures = Nil,
          dictBitmaps = Seq(Measure("us", "uid_s"))),
        ev.filter(!isDelta).drop("event_id"))
      // the remaining 25% arrives as TWO change-stream files = two
      // micro-batches, each carrying keys the base may never have
      // seen — the auto-update loop extends the dictionary durably
      // before each per-batch fold
      val deltaDir = s"$dir/deltas"
      val deltas = ev.filter(isDelta).drop("event_id")
      deltas.filter(pmod(xxhash64(col("uid_s")), lit(2)) === 0)
        .coalesce(1).write.parquet(s"$deltaDir/d0")
      deltas.filter(pmod(xxhash64(col("uid_s")), lit(2)) === 1)
        .coalesce(1).write.parquet(s"$deltaDir/d1")
      val q = svc.startAutoUpdate("dict_stream", s"$deltaDir/d*",
        deltas.schema)
      q.processAllAvailable()
      svc.stopAutoUpdate("dict_stream")
      svc
    })

  /** Graded: STREAM-MAINTAINED DICTIONARY BITMAPS — the string-keyed
    * exact rolling-distinct dashboard (q210's curve over STRING ids)
    * maintained by the change-stream auto-update loop, closing the r14
    * refusal: [[CubeService.startAutoUpdate]] routes dictionary cubes
    * to a foreachBatch PER-BATCH fold that anti-joins the batch's
    * unseen keys, appends them to the persisted dictionary BEFORE the
    * fold (the crash-safe order), folds through the same applyDeltas
    * the manual path uses, and publishes one version per batch with
    * the batch id committed atomically inside the head (replay-guard —
    * checkpoint loss re-delivers every batch as a no-op). The cube
    * graded here lived the full lifecycle: created from a 75% base,
    * two stream batches with unseen keys folded by the running loop,
    * stopped, served. The DuckDB oracle recomputes every trailing
    * window from raw strings — hash equality proves streamed ==
    * from-scratch. 100 TB split: each micro-batch costs the batch's
    * unseen-key anti-join + a batch-sized fold, never a source scan;
    * serves stay cube-sized. */
  def q255DictStreamRolling(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = dictStreamService(spark, sfDir)
    svc.getRolling("dict_stream", "day", windowDays = 7,
        exactDistinctOf = Seq("us"))
      .select(col("day"), col("n_exact_us").as("n_users_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q259
  private val dictRouteSetup =
    TrieMap.empty[(SparkSession, String), String]
  private def dictRouteSource(spark: SparkSession, sfDir: String): String =
    dictRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_dictroute").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .withColumn("uid_s", concat(lit("u"), col("user_id")))
        .select(col("uid_s"), col("ts"))
        .write.parquet(srcDir)
      CubeManager.save(CubeManager.create(
        CubeConfig("dict_route_demo", "events",
          dims = Seq(TimeDim("day", "ts", "day")),
          measures = Nil,
          dictBitmaps = Seq(Measure("us", "uid_s"))),
        spark.read.parquet(srcDir)), dir)
      CubeCatalog.install(spark)
      // NO approxDistinct opt-in: the dictionary binding is
      // answer-preserving, so the route must fire WITHOUT it
      CubeCatalog.register(s"dict_route_demo@$sfDir",
        CubeManager.load(spark, dir, "dict_route_demo"), srcDir)
      srcDir
    })

  /** Graded: STRING-keyed rolling routing through the DICTIONARY — the
    * q228 raw trailing-window plan with a STRING id column
    * (`count(DISTINCT uid_s)`, the most common real-world id shape)
    * over a registered dictionary-bitmap cube routes to the EXACT
    * daily-partial merge with NO approx opt-in: the rewrite binds a
    * non-integral count-distinct to a maintained dictionary bitmap
    * FIRST (`CubeRewrite` idFor — effective family xdistinct, dense-id
    * bitmaps are lossless), and only falls back to the opt-in-gated
    * HLL sketch when no dictionary exists. This closes the advisor's
    * last estimate-only ROUTE: before dictionaries, a string WAU
    * dashboard either scanned the source or opted into estimates. The
    * DuckDB oracle recomputes every window from raw strings — hash
    * equality proves the dictionary route is exact. 100 TB split: the
    * raw plan re-shuffles the source's distinct (uid, day) pairs per
    * refresh; the routed serve is |days|·7 one-row bitmap unions, and
    * the dictionary costs one |distinct keys|-row build amortized over
    * the cube's lifetime. */
  def q259DictRollingRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = dictRouteSource(spark, sfDir)
    val du = spark.read.parquet(srcDir)
      .select(col("uid_s"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .distinct()
    val q = graft.functions.Rolling.endpoints(du, 7)
      .agg(countDistinct(col("uid_s")).as("n_users_7d"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/dict_route_demo")),
      s"dictionary rolling routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q231
  /** Graded (rows-only): MONTHLY HEAVY HITTERS from a DAY-dimmed cube's
    * CMS partials — the one partial family that hadn't yet composed
    * with the time hierarchy: `CubeManager.query(timeRollup)` groups
    * the day cells by `date_trunc(month, day)` (exact — month
    * boundaries are day boundaries, the [[CubeRewriteRule.coarserThan]]
    * vocabulary) and the per-day d×w counters ADD losslessly into the
    * month's (sum of part-counters == counters of the whole — CMS is
    * the sketch family whose merge compounds no error), candidates
    * unioning per the bounded-heap discipline. Exact per-(month, uid)
    * counts ride along for the est ≥ truth bound; rows-only because
    * the estimates ride the xxhash64 family (no DuckDB twin) —
    * CubeRewriteSpec pins est-vs-exact and roll-vs-direct-build
    * equality per hierarchy level. 100 TB split: the month view costs
    * |day cells|·64 KiB counter adds from maintained state; the exact
    * twin re-shuffles |distinct (month, uid)| rows per refresh. */
  def q231MonthlyTopkHierarchy(spark: SparkSession,
      sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("ts"), concat(lit("u"), col("user_id")).as("uid"))
    val cfg = CubeConfig("uid_by_day", "events",
      dims = Seq(TimeDim("day", "ts", "day")),
      measures = Nil,
      freq = Seq(Measure("uidf", "uid")))
    val cube = CubeManager.create(cfg, ev)
    val served = CubeManager.query(cube, Nil, topkOf = Seq(("uidf", 5)),
        timeRollup = Seq(("day", "month")))
      .select(date_format(col("day_month"), "yyyy-MM").as("ym"),
        posexplode(col("topk_uidf")))
      .select(col("ym"), (col("pos") + 1).as("rk"),
        col("col.key").as("uid"), col("col.n_est").as("n_est"))
    val exact = ev.groupBy(
        date_format(date_trunc("month", col("ts")), "yyyy-MM").as("ym"),
        col("uid"))
      .agg(count(lit(1)).as("n_exact"))
    served.join(exact, Seq("ym", "uid"))
      .select(col("ym"), col("rk"), col("uid"), col("n_est"),
        col("n_exact"))
      .orderBy(col("ym"), col("rk"), col("uid"))
  }

  // --------------------------------------------------------------- q232
  private val joinRollRouteSetup =
    TrieMap.empty[(SparkSession, String), (CubeService, String, String)]
  private def joinRollRouteAll(spark: SparkSession,
      sfDir: String): (CubeService, String, String) =
    joinRollRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jrollrt").toString
      CubeCatalog.install(spark)
      val oSrc = s"$dir/osrc"
      val lSrc = s"$dir/lsrc"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"))
        .write.parquet(oSrc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_suppkey"))
        .write.parquet(lSrc)
      val svc = new CubeService(spark, dir)
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_roll_route", "osrc_lsrc",
            dims = Seq(TimeDim("day", "o_orderdate", "day")),
            measures = Seq(Measure("rev", "l_extendedprice")),
            bitmaps = Seq(Measure("sup", "l_suppkey")),
            // q283: per-supplier additive partials through the
            // delta-join fold — multiplicity signs (±k) accumulate
            // natively in the weight maps like sum(_sign·measure)
            weighted = Seq(WeightedMeasure("sltv", "l_suppkey",
              "l_extendedprice"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        spark.read.parquet(oSrc), spark.read.parquet(lSrc))
      CubeCatalog.registerJoin(s"join_roll_route@$sfDir",
        svc.loadJoinCube("join_roll_route"), oSrc, lSrc)
      (svc, oSrc, lSrc)
    })
  private def joinRollRouteSources(spark: SparkSession,
      sfDir: String): (String, String) = {
    val (_, oSrc, lSrc) = joinRollRouteAll(spark, sfDir)
    (oSrc, lSrc)
  }

  /** Graded: ROLLING ROUTING over a REGISTERED JOIN — the q228 rewrite
    * composed with the join-MV vocabulary: the raw trailing-window
    * plan over `orders ⋈ lineitem` (7-day revenue + exact distinct
    * suppliers per day, as a user writes it — explode/semi-join, no
    * service verb) is rewritten to the daily-partial merge over the
    * registered join cube, in either side order, exactly like the
    * plain-source form. Both leaves are exact (decimal sums re-add;
    * bitmap union is lossless), so the full DuckDB oracle recomputes
    * every window from the raw tables and hash-matches. 100 TB split:
    * the raw plan pays the fact-to-fact join TWICE (window + observed
    * days) plus the ×7 explode per refresh; the routed serve is
    * |days|·7 one-row merges over MV partials the delta-join rule
    * maintains. */
  def q232JoinRollingRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRollRouteSources(spark, sfDir)
    val j = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .select(datediff(col("o_orderdate"), lit("1970-01-01"))
          .cast("long").as("d"),
        col("l_extendedprice"), col("l_suppkey"))
    val q = graft.functions.Rolling.endpoints(j)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("rev_7d"),
        countDistinct(col("l_suppkey")).as("n_supp_7d"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join rolling routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q230
  private val advisedRetentionSetup =
    TrieMap.empty[(SparkSession, String),
      (CubeService, CubeAdvisor.RetentionRecommendation)]
  private def advisedRetentionState(spark: SparkSession, sfDir: String)
      : (CubeService, CubeAdvisor.RetentionRecommendation) =
    advisedRetentionSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advret").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
        .write.parquet(srcDir)
      val src = spark.read.parquet(srcDir)
      // the workload: the WEEKLY RETAINED curve as users write it —
      // distinct (user, period) pairs self-joined on (same user,
      // adjacent period), re-counted per current period
      val up = src.select(col("user_id"),
        floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
        .distinct()
      val retainedQ = up.as("cur").join(up.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.user_id")).as("retained"))
      val advice = CubeAdvisor.advise(Seq(retainedQ), "advret")
      require(advice.retention.size == 1 && advice.uncovered.isEmpty,
        s"retention advice did not recognize the workload: $advice")
      val rec = advice.retention.head
      require(rec.periods == Seq(7) && rec.sourcePath.endsWith("/source"),
        s"unexpected retention recommendation: $rec")
      val svc = new CubeService(spark, dir)
      // materialize VERBATIM — the honesty loop's whole point
      svc.createCube(rec.config, src)
      (svc, rec)
    })

  /** Graded: the ADVISOR RECOGNIZES RETENTION WORKLOADS — the
    * distinct-pair self-join plan (the defining cohort query, which
    * the generic matcher necessarily reports uncovered: an aggregate
    * over a join of aggregates has no single source) yields a
    * day-dimmed BITMAP cube recommendation wired to
    * [[CubeService.getRetention]]; this query closes the loop by
    * materializing the recommendation VERBATIM and serving the full
    * weekly matrix from it. The DuckDB oracle recomputes active /
    * prev_active / retained / churned / new_ids from raw events with
    * the same self-join the workload used — hash equality proves the
    * advised cube serves the workload's own numbers exactly. 100 TB
    * split: the raw plan re-shuffles the source's distinct pairs TWICE
    * per refresh; the advised serve is |periods| one-row bitmap merges
    * over the maintained day partials. */
  def q230AdvisedRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val (svc, rec) = advisedRetentionState(spark, sfDir)
    svc.getRetention(rec.config.name, rec.dayDim, rec.bitmapId,
      periodDays = rec.periods.head)
  }

  // --------------------------------------------------------------- q229
  private val dictDistinctSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def dictDistinctService(spark: SparkSession,
      sfDir: String): CubeService =
    dictDistinctSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_dict").toString
      val svc = new CubeService(spark, dir)
      // a STRING user key — the exact case the bitmap type gate refuses
      // (cast to BIGINT is lossy); the create-time projection is carried
      // identically by the delta batch and the oracle
      val ev = Tables.events(spark, sfDir)
        .withColumn("uid_s", concat(lit("u"), col("user_id")))
      val isDelta = col("event_id") % 4 === 3
      // lifecycle on the graded surface: create from the 75% base, then
      // ONE signed insert fold whose batch carries keys the base never
      // saw — the dictionary EXTENDS append-only (ids above the current
      // max), and the serve reads the persisted post-fold state
      svc.createCube(
        CubeConfig("dict_distinct", "events",
          dims = Seq(FieldDim("etype", "event_type")),
          measures = Seq(Measure("v", "value")),
          dictBitmaps = Seq(Measure("us", "uid_s"))),
        ev.filter(!isDelta))
      svc.updateAggregates("dict_distinct",
        ev.filter(isDelta).withColumn("_sign", lit(1)))
      svc
    })

  /** Graded: EXACT COUNT(DISTINCT) over a STRING key served from
    * DICTIONARY-ENCODED bitmap partials — closing the last
    * estimate-only distinct case. The plain bitmap family refuses
    * non-integral keys (`CubeManager.create`'s type gate: the cast to
    * BIGINT is lossy); the dictionary path maintains an append-only
    * (key → dense id) map as cube auxiliary state, encodes bits of the
    * dense id, and serves cardinalities that EQUAL a from-scratch
    * count — the DuckDB oracle recomputes from raw strings and
    * hash-matches. The cube graded here lived the full lifecycle:
    * created from a base slice, folded with a batch containing unseen
    * keys (dictionary extended durably before the fold), persisted,
    * reloaded. 100 TB split: the dictionary is |distinct keys| rows
    * built with two distributed passes (zipWithIndex — never a global
    * window); every fold touches only the batch's unseen keys
    * (anti-join) and every serve is cube-sized bitmap unions. */
  def q229DictExactDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    dictDistinctService(spark, sfDir)
      .getAggregates("dict_distinct", Seq("etype"),
        sumOf = Seq("v"), exactDistinctOf = Seq("us"))
      .select(col("etype"),
        col("n_exact_us").as("nd_users"),
        round(col("sum_v"), 2).as("value_sum"),
        col("n_rows").cast("long").as("n"))
      .orderBy(col("etype"))
  }

  // --------------------------------------------------------------- q228
  private val rollingRouteSetup =
    TrieMap.empty[(SparkSession, String), String]
  private def rollingRouteSource(spark: SparkSession, sfDir: String): String =
    rollingRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_rollroute").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("value"), col("ts"),
          col("event_type"))
        .write.parquet(srcDir)
      val src = spark.read.parquet(srcDir)
      CubeManager.save(CubeManager.create(
        CubeConfig("rolling_route_demo", "events",
          // event_type dims the cube so FILTERED raw plans ("WAU of
          // click events") can route to cell-restricted serves; the
          // unfiltered routes collapse across its cells unchanged
          dims = Seq(FieldDim("et", "event_type"),
            TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value")),
          bitmaps = Seq(Measure("u", "user_id")),
          // q284: per-id additive partials for the cohort-value route
          weighted = Seq(WeightedMeasure("wv", "user_id", "value"))),
        src), dir)
      CubeCatalog.install(spark)
      // NO approxDistinct opt-in: the routed families here (bitmap
      // exact distinct, decimal sums) are answer-preserving
      CubeCatalog.register(s"rolling_route_demo@$sfDir",
        CubeManager.load(spark, dir, "rolling_route_demo"), srcDir)
      srcDir
    })

  /** Graded: ROLLING routing through the OPTIMIZER — the raw
    * trailing-window plan users actually write (q138's shape: distinct
    * (user, day) pairs, explode to the ≤7 endpoints, semi-join observed
    * days, re-count per day) over a REGISTERED source is rewritten by
    * [[CubeRewriteRule]] to the daily-bitmap-partial merge
    * [[CubeService.getRolling]] performs — no service verb in sight,
    * the optimizer recognizes the plan shape with the advisor's own
    * matcher ([[CubeAdvisor.analyzeRolling]]). The plan is
    * hard-asserted to scan ONLY the cube; the DuckDB oracle recomputes
    * every window from raw events, so the hash proves the silent
    * rewrite serves the exact curve (bitmap union is lossless). This
    * closes the last source-scan class a dashboard workload hits: the
    * q210 curve is now reachable from the raw DataFrame form, not just
    * the verb. 100 TB split: the raw plan scans the source twice and
    * explodes the collapsed pairs ×7 per refresh; the routed serve is
    * |days|·7 one-row bitmap unions over the maintained cube. */
  def q228RollingRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val du = spark.read.parquet(srcDir)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .distinct()
    val q = graft.functions.Rolling.endpoints(du, 7)
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.endsWith("/rolling_route_demo")),
      s"rolling routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q242
  /** Graded: SQL-TEXT rolling routing — the q228 trailing-window shape
    * written as a SQL STRING over a temp view of the registered
    * source. The text parses to the same logical plan the DataFrame
    * form builds (the IN-subquery becomes the semi-join via Spark's
    * own RewritePredicateSubquery), so [[CubeRewriteRule]]'s matcher
    * fires on it unchanged — proving the dashboard's actual interface
    * (SQL strings, not DataFrame code) reaches the maintained cube.
    * Plan hard-asserted cube-only; the oracle recomputes the curve
    * from raw events. */
  def q242SqlRollingRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    spark.read.parquet(srcDir)
      .createOrReplaceTempView("rolling_route_events")
    val q = spark.sql("""
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(CAST(unix_timestamp(ts) AS DOUBLE) / 86400 AS BIGINT) AS d
        FROM rolling_route_events),
      exp AS (SELECT user_id, explode(sequence(d, d + 6)) AS day FROM du)
      SELECT day, COUNT(DISTINCT user_id) AS n_users_7d
      FROM exp
      WHERE day IN (SELECT d FROM du)
      GROUP BY day
      ORDER BY day""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"SQL-text rolling routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q243
  /** Graded: CUMULATIVE-distinct routing through the optimizer — the
    * raw "lifetime uniques by day" plan (distinct (user, day) pairs
    * joined to the observed days on `d ≤ day`, re-counted per day —
    * the natural SQL form of the metric) over a REGISTERED source is
    * rewritten by [[CubeRewriteRule]] to a PREFIX-union over per-day
    * bitmap partials, recognized by the advisor's own
    * [[CubeAdvisor.analyzeCumulative]] (the q228/q234 shared-matcher
    * discipline). This is the single most scale-hostile raw dashboard
    * query the engine routes: the raw form is QUADRATIC in |days|
    * (every day re-joins all prior pairs through a nested-loop — at
    * 1000 days that is ~500× the source's pair set through one join),
    * while the routed serve is ONE incremental window pass over the
    * |days| frame of cube-derived bitmaps. Exact because the
    * prefix-OR's cardinality at p IS |ids first seen ≤ p|; plan
    * hard-asserted cube-only; DuckDB recomputes the quadratic join
    * raw. */
  def q243CumulativeRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val du = spark.read.parquet(srcDir)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .distinct()
    val days = du.select(col("d").as("day")).distinct()
    val q = days.join(du, col("d") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("cum_users"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"cumulative routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q269
  /** Graded: COMPOSITE-DASHBOARD routing — the raw DAU/MAU stickiness
    * dashboard as a user writes it: TWO trailing-window cohort plans
    * (window 1 and window 28, each the q228 explode/semi-join shape)
    * JOINED on day with the ratio computed in the enclosing
    * projection. No single matcher covers the whole tree — and none
    * needs to: [[CubeRewriteRule]] transforms EVERY Aggregate node,
    * so each sub-metric rewrites to its cube serve IN PLACE while the
    * user's join/arithmetic shell stays untouched. This is how real
    * dashboards compose (ratios, shares, deltas of routed metrics);
    * the graded plan is hard-asserted cube-only END TO END, and the
    * DuckDB oracle recomputes both windows raw. At scale the raw form
    * scans the source four times (two pair-collapses + two explodes);
    * the routed form reads |days|·(1+28) cube-derived one-row bitmap
    * unions and the shell join is |days| × |days| — both cube-sized. */
  def q269DashboardRatioRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    def du = spark.read.parquet(srcDir)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .distinct()
    val dau = graft.functions.Rolling.endpoints(du, 1)
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = graft.functions.Rolling.endpoints(du, 28)
      .agg(countDistinct(col("user_id")).as("mau"))
    val q = dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau"),
        (col("dau") / col("mau")).as("stickiness"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"composite dashboard routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q264
  private val firstSeenRouteSetup =
    TrieMap.empty[(SparkSession, String), String]
  private def firstSeenRouteSource(spark: SparkSession,
      sfDir: String): String =
    firstSeenRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_fsroute").toString
      val srcDir = s"$dir/source"
      Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"), col("o_totalprice"))
        .write.parquet(srcDir)
      val src = spark.read.parquet(srcDir)
      CubeManager.save(CubeManager.create(
        CubeConfig("first_seen_route_demo", "orders",
          dims = Seq(FieldDim("prio", "o_orderpriority"),
            TimeDim("day", "o_orderdate", "day")),
          measures = Nil,
          bitmaps = Seq(Measure("c", "o_custkey")),
          // q286: the calendar cohort-value route's additive partials
          weighted = Seq(WeightedMeasure("rev_w", "o_custkey",
            "o_totalprice"))), src), dir)
      CubeCatalog.install(spark)
      CubeCatalog.register(s"first_seen_route_demo@$sfDir",
        CubeManager.load(spark, dir, "first_seen_route_demo"), srcDir)
      srcDir
    })

  /** Graded: FIRST-SEEN routing through the optimizer — the raw "new
    * customers per week" plan users actually write (GROUP BY customer
    * → min(week), re-counted per first week: the top-left chart of
    * every growth dashboard, here over seven YEARS of orders) over a
    * REGISTERED source is rewritten by [[CubeRewriteRule]] to an
    * ANDNOT-walk against the STRICT prefix union of weekly bitmap
    * unions, recognized by the advisor's own
    * [[CubeAdvisor.analyzeFirstSeen]] (the q228/q234/q243
    * shared-matcher discipline) — extending the routed cohort matrix
    * to the growth-accounting family: an id is new at p exactly when
    * it is in B_p and no earlier bitmap, so the served count is
    * [[CubeService.getGrowthAccounting]]'s new_ids cell, and the ≥ 1
    * filter reproduces the raw plan's row set (a period appears
    * exactly when it is some id's first). Plan hard-asserted
    * cube-only; DuckDB recomputes min-period groups raw. 100 TB
    * split: the raw plan shuffles every (id, period) pair TWICE per
    * refresh (per-id min, then the per-period recount); the routed
    * serve is one incremental window pass over the ~340-row |periods|
    * frame of cube-derived bitmaps. */
  def q264FirstSeenRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    val fw = spark.read.parquet(srcDir)
      .select(col("o_custkey"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("w"))
      .groupBy(col("o_custkey"))
      .agg(min(col("w")).as("fw"))
    val q = fw.groupBy(col("fw"))
      .agg(count(col("o_custkey")).as("new_custs"))
      .select(col("fw").as("week"), col("new_custs"))
      .orderBy(col("week"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"first-seen routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q265
  /** Graded: ENGAGEMENT-HISTOGRAM routing through the optimizer — the
    * raw fixed-window L28 plan ("of January's active users, how many
    * were active exactly k days": per-id count(DISTINCT day) under
    * inclusive epoch-day bounds, re-counted per activity level) over a
    * REGISTERED source is rewritten by [[CubeRewriteRule]] to ONE
    * k-count partition ([[graft.functions.Bitmap.kCountAgg]], the
    * [[CubeService.getEngagement]] primitive) over the window's daily
    * bitmap unions, recognized by [[CubeAdvisor.analyzeEngagement]]:
    * an id's bucket is the number of day bitmaps containing it, which
    * IS its distinct active-day count. Plan hard-asserted cube-only;
    * DuckDB recomputes the two-level group-by raw. The window bounds
    * must be inclusive comparisons of the epoch-day derivation —
    * value-space-provable against the serve's cell filter — and ≤ 366
    * days (the getEngagement fan-out discipline applied at match
    * time). 100 TB split: the raw plan shuffles every (id, day) pair
    * in the window twice; the routed serve reads ≤ 366 cube-derived
    * one-row bitmaps and a single merge-walk partitions ALL ids at
    * once. */
  def q265EngagementRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    // events span epoch days 19723..19752 (2024-01-01..30); the
    // 28-day window truncates the last two days — a real restriction
    val nd = spark.read.parquet(srcDir)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .filter(col("d").between(19723L, 19750L))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("d")).as("days_active"))
    val q = nd.groupBy(col("days_active"))
      .agg(count(col("user_id")).as("users"))
      .orderBy(col("days_active"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"engagement routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q270
  /** Graded: SEGMENTED FIRST-SEEN routing — "new customers per week
    * PER ORDER PRIORITY", q264's growth chart split by a dimension,
    * written the only way raw SQL can: the segment rides BOTH
    * groupings (per-(id, segment) min week, re-counted per (segment,
    * week)). [[CubeAdvisor.analyzeFirstSeen]]'s role assignment
    * (`histogramRoles`) identifies the one inner grouping left
    * un-grouped outside as the counted id and the passthrough as a
    * segment; the serve partitions the strict-prefix ANDNOT walk PER
    * SEGMENT over the cube's (prio, week) bitmap cells — exact, since
    * an id's first week WITHIN a segment is independent of its other
    * segments' activity. Plan hard-asserted cube-only; DuckDB
    * recomputes the two-level grouping raw. 100 TB split: the raw
    * plan shuffles every (id, segment, period) triple twice per
    * refresh; the routed serve walks |segments|·|periods| one-row
    * bitmap frames with the window partitioned per segment — no
    * single task grows with ids or segments. */
  def q270SegmentedFirstSeenRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    val fw = spark.read.parquet(srcDir)
      .select(col("o_custkey"), col("o_orderpriority"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("w"))
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(min(col("w")).as("fw"))
    val q = fw.groupBy(col("o_orderpriority"), col("fw"))
      .agg(count(col("o_custkey")).as("new_custs"))
      .select(col("o_orderpriority").as("prio"), col("fw").as("week"),
        col("new_custs"))
      .orderBy(col("prio"), col("week"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"segmented first-seen routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q271
  /** Graded: SEGMENTED ENGAGEMENT-HISTOGRAM routing — q265's L28
    * activity histogram split per event type ("of the window's click
    * users, how many clicked exactly k days"): per-(id, segment)
    * count(DISTINCT day) under the same inclusive epoch-day bounds,
    * re-counted per (segment, level). The k-count partition
    * ([[graft.functions.Bitmap.kCountAgg]]) runs PER SEGMENT over the
    * window's per-(segment, day) bitmap cells — an id active in two
    * event types lands in both segments' histograms independently,
    * exactly the raw plan's semantics. Plan hard-asserted cube-only;
    * DuckDB recomputes the two-level grouping raw. 100 TB split: the
    * raw plan shuffles every (id, segment, day) triple in the window
    * twice; the routed serve reads ≤ 366·|segments| cube-derived
    * one-row bitmaps and one merge-walk per segment partitions all
    * its ids at once. */
  def q271SegmentedEngagementRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val nd = spark.read.parquet(srcDir)
      .select(col("user_id"), col("event_type"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .filter(col("d").between(19723L, 19750L))
      .groupBy(col("user_id"), col("event_type"))
      .agg(countDistinct(col("d")).as("days_active"))
    val q = nd.groupBy(col("event_type"), col("days_active"))
      .agg(count(col("user_id")).as("users"))
      .select(col("event_type").as("etype"), col("days_active"),
        col("users"))
      .orderBy(col("etype"), col("days_active"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"segmented engagement routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q272
  /** Graded: RESURRECTED routing — growth accounting's fourth matrix
    * cell as users write it raw ("customers who came BACK each week":
    * distinct (customer, week) pairs ANTI-joined on the preceding
    * week, LEFT-SEMI-joined back onto the pairs as the
    * earlier-activity witness `q < w`, re-counted per week), over a
    * REGISTERED source, rewritten by [[CubeRewriteRule]] to
    * |(B_w ∖ B_{w−1}) ∩ prefixOR(B_{<w})| over the cube's weekly
    * bitmap unions — [[CubeService.getGrowthAccounting]]'s
    * `resurrected` column, recognized by
    * [[CubeAdvisor.analyzeResurrected]]. With q234 (retained), q235
    * (churned/new) and q264 (first-seen) this completes the routed
    * growth-accounting dashboard: every cell of the classic
    * new/retained/resurrected/churned matrix now routes from its raw
    * plan. Plan hard-asserted cube-only; DuckDB recomputes the
    * three-join set algebra raw. 100 TB split: the raw plan pays
    * THREE shuffles of the source's (id, period) pairs per refresh
    * and the `q < w` witness is quadratic in |periods| at the source;
    * the routed serve is one incremental prefix window plus one
    * adjacent-period pairing over the ~340-row |periods| frame. */
  def q272ResurrectedRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def up = spark.read.parquet(srcDir)
      .select(col("o_custkey"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("w"))
      .distinct()
    val q0 = up.as("c").join(up.as("prev"),
        col("c.o_custkey") === col("prev.o_custkey") &&
          col("prev.w") === col("c.w") - 1, "left_anti")
      .as("c2").join(up.as("wit"),
        col("wit.o_custkey") === col("c2.o_custkey") &&
          col("wit.w") < col("c2.w"), "left_semi")
      .groupBy(col("w"))
      .agg(countDistinct(col("o_custkey")).as("resurrected"))
    val q = q0.select(col("w").as("week"), col("resurrected"))
      .orderBy(col("week"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"resurrected routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q273
  /** Graded: q272 as SQL TEXT (the q242/q253 discipline) — the
    * resurrected query the way a dashboard's SQL layer emits it:
    * `NOT EXISTS` for the p−1 exclusion and a correlated `EXISTS`
    * with `q.w < cur.w` as the earlier-activity witness. Spark's
    * RewritePredicateSubquery lowers exactly these into the LeftAnti
    * + LeftSemi stack [[CubeAdvisor.analyzeResurrected]] matches, so
    * the TEXT form routes to the same ANDNOT-prefix serve with no
    * DataFrame API in sight. Plan hard-asserted cube-only; same
    * DuckDB oracle family as q272 (a 2-week period width so the two
    * graded forms also differ in vocabulary). */
  def q273SqlResurrectedRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    spark.read.parquet(srcDir)
      .createOrReplaceTempView("first_seen_route_orders")
    val q = spark.sql("""
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(FLOOR(CAST(CAST(unix_timestamp(o_orderdate) AS DOUBLE)
            / 86400 AS BIGINT) / 14.0) AS BIGINT) AS w
        FROM first_seen_route_orders)
      SELECT cur.w AS fortnight,
        COUNT(DISTINCT cur.o_custkey) AS resurrected
      FROM du cur
      WHERE NOT EXISTS (SELECT 1 FROM du p
              WHERE p.o_custkey = cur.o_custkey AND p.w = cur.w - 1)
        AND EXISTS (SELECT 1 FROM du q
              WHERE q.o_custkey = cur.o_custkey AND q.w < cur.w)
      GROUP BY cur.w
      ORDER BY fortnight""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"SQL-text resurrected routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q274
  /** Graded: RESURRECTED routing over a REGISTERED JOIN — q272's
    * shape written over `orders ⋈ lineitem` ("suppliers who came back
    * each week", time from the left side, the counted id from the
    * right): the three pair sides all resolve through the composite
    * join identity and the plan rewrites to the ANDNOT-prefix walk
    * over the JOIN MV's weekly bitmap unions. Every routed cohort
    * family now grades in BOTH single-table and join forms. Plan
    * hard-asserted MV-only; DuckDB recomputes the three-join set
    * algebra over the raw join. 100 TB split: the raw plan pays the
    * fact-to-fact join THREE times (each pair side) plus the
    * quadratic witness; the routed serve reads |periods| one-row MV
    * partials the delta-join rule maintains. */
  def q274JoinResurrectedRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRollRouteSources(spark, sfDir)
    def up = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_suppkey"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("w"))
      .distinct()
    val q0 = up.as("c").join(up.as("prev"),
        col("c.l_suppkey") === col("prev.l_suppkey") &&
          col("prev.w") === col("c.w") - 1, "left_anti")
      .as("c2").join(up.as("wit"),
        col("wit.l_suppkey") === col("c2.l_suppkey") &&
          col("wit.w") < col("c2.w"), "left_semi")
      .groupBy(col("w"))
      .agg(countDistinct(col("l_suppkey")).as("resurrected"))
    val q = q0.select(col("w").as("week"), col("resurrected"))
      .orderBy(col("week"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join resurrected routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q275
  /** Graded: CALENDAR-ORDINAL retention routing — "monthly cohort
    * retention", THE most common growth dashboard in the wild,
    * written the way analysts write it: distinct (customer, month)
    * pairs with the month as the `year*12 + month` INTEGER ORDINAL,
    * self-joined on −1 adjacency. `periodKind` now recognizes the
    * calendar ordinals (month/quarter/year — the shapes whose −1
    * adjacency is EXACT across year boundaries; yyyymm encodings are
    * deliberately refused because 202401 − 1 ≠ 202312) and the serve
    * collapses the registered cube's DAY cells to the user's exact
    * ordinals — the same day-dimmed bitmap cube answers daily, weekly
    * AND monthly cohort questions. ~84 monthly cohorts over seven
    * years of orders, every December→January edge load-bearing. Plan
    * hard-asserted cube-only; DuckDB recomputes the self-join raw.
    * 100 TB split: identical to q234's — the raw plan re-shuffles the
    * source's distinct pairs twice per refresh, the routed AND-walk
    * is |months| one-row merges. */
  // --------------------------------------------------------------- q286
  /** Graded: CALENDAR-MONTH cohort-value routing — q284's LTV rewrite
    * composed with the calendar-ordinal recognition, over seven YEARS
    * of orders: "revenue by customer cohort month and months since
    * first order", written raw with `year*12 + month` ordinals (the
    * encoding whose ±1 adjacency is exact across every Dec → Jan
    * boundary — a yyyymm encoding would refuse). The per-(customer,
    * month) sums and the min-month frame both collapse the registered
    * DAY-dimmed weighted cube's cells to the user's exact ordinals;
    * ~84 monthly weight maps drive the pair walk. FULL DuckDB oracle
    * recomputes the matrix raw. */
  def q286CalendarCohortValueRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def mExpr = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    val g = src.groupBy(col("o_custkey"), mExpr.as("m"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
    val f = src.groupBy(col("o_custkey")).agg(min(mExpr).as("cohort"))
    val q = g.join(f, "o_custkey")
      .groupBy(col("cohort"), (col("m") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active"),
        sum(col("w")).cast("double").as("value"))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"calendar cohort-value routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  def q275CalendarRetentionRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def up = spark.read.parquet(srcDir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .distinct()
    val q = up.as("cur").join(up.as("prev"),
        col("cur.o_custkey") === col("prev.o_custkey") &&
          col("prev.m") === col("cur.m") - 1)
      .groupBy(col("cur.m"))
      .agg(countDistinct(col("cur.o_custkey")).as("retained"))
      .select(col("m").as("month_ord"), col("retained"))
      .orderBy(col("month_ord"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"calendar retention routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q276
  /** Graded: QUARTERLY first-seen routing — "new customers per
    * quarter" with the quarter as the `year*4 + quarter` ordinal:
    * the calendar recognition composed with the q264 min-period
    * matcher, served as the strict-prefix ANDNOT walk over QUARTER
    * collapses of the same day-dimmed cube. Plan hard-asserted
    * cube-only; DuckDB recomputes the min-ordinal groups raw. */
  def q276QuarterlyFirstSeenRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    val fq = spark.read.parquet(srcDir)
      .groupBy(col("o_custkey"))
      .agg(min((year(col("o_orderdate")) * 4 +
        quarter(col("o_orderdate"))).cast("long")).as("fq"))
    val q = fq.groupBy(col("fq"))
      .agg(count(col("o_custkey")).as("new_custs"))
      .select(col("fq").as("quarter_ord"), col("new_custs"))
      .orderBy(col("quarter_ord"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"quarterly first-seen routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q279
  /** Graded: q275 as SQL TEXT (the q242/q253/q273 discipline) — the
    * monthly cohort-retention query exactly as a BI layer emits it: a
    * CTE of distinct (customer, `year*12+month`) ordinals self-joined
    * on −1 adjacency. The analyzer inlines the CTE twice with fresh
    * ids and the pair matchers recognize both sides' calendar
    * derivation, so the TEXT form routes to the ordinal AND-walk with
    * no DataFrame API in sight. Plan hard-asserted cube-only; DuckDB
    * recomputes the self-join raw. */
  def q279SqlCalendarRetention(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    spark.read.parquet(srcDir)
      .createOrReplaceTempView("first_seen_route_orders")
    val q = spark.sql("""
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m
        FROM first_seen_route_orders)
      SELECT cur.m AS month_ord,
        COUNT(DISTINCT cur.o_custkey) AS retained
      FROM du cur JOIN du prev
        ON cur.o_custkey = prev.o_custkey AND prev.m = cur.m - 1
      GROUP BY cur.m
      ORDER BY month_ord""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"SQL-text calendar retention routing did not fire (or still " +
        s"reads the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q277
  /** Graded: MONTHLY funnel routing — the q252 min-join conversion
    * chain with CALENDAR ordinal periods ("customers who placed an
    * URGENT order, then a HIGH order in the same or a later month,
    * cumulative by month" — ~84 monthly frames over seven years):
    * the chain matcher's stage recursion and the cascade's window
    * both ride the calendar collapse, so the funnel family composes
    * with the q275 calendar vocabulary with no funnel-specific
    * calendar state. Plan hard-asserted cube-only; DuckDB recomputes
    * the min-join recursion raw. */
  def q277MonthlyFunnelRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    val ord = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    def sp(step: String) = src
      .filter(col("o_orderpriority") === step)
      .select(col("o_custkey"), ord.as("p"))
    val s1 = sp("1-URGENT").groupBy(col("o_custkey"))
      .agg(min(col("p")).as("t1"))
    val chain = sp("2-HIGH").as("e").join(s1.as("pv"),
        col("e.o_custkey") === col("pv.o_custkey") &&
          col("e.p") >= col("pv.t1"))
      .groupBy(col("e.o_custkey")).agg(min(col("e.p")).as("t2"))
    val months = src.select(ord.as("m")).distinct()
    val q = months.join(chain, col("t2") <= col("m"))
      .groupBy(col("m"))
      .agg(countDistinct(col("o_custkey")).as("converted"))
      .select(col("m").as("month_ord"), col("converted"))
      .orderBy(col("month_ord"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/first_seen_route_demo")),
      s"monthly funnel routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q261
  /** Graded: RETENTION ROUTING over a registered JOIN — the raw
    * distinct-pair self-join cohort plan written over
    * `orders ⋈ lineitem` ("weekly retained suppliers by order week":
    * the time column from the LEFT side, the counted id from the
    * RIGHT) rewrites to the AND-walk over per-period bitmap unions of
    * the registered JOIN MV: the pair-side matchers resolve the
    * composite join identity ([[CubeAdvisor]] `sourceOf` — both cohort
    * sides must be the SAME join) and the rewrite dispatches to join
    * registrations in either side order, completing the routing matrix
    * cell (rolling had its join arm since q232; retention/cumulative
    * now too). Plan hard-asserted MV-only; DuckDB recomputes the
    * self-join over the raw join. 100 TB split: the raw plan pays the
    * fact-to-fact join TWICE (both pair sides) plus the pair shuffle
    * per refresh; the routed serve is |periods| one-row merges over MV
    * partials the delta-join rule maintains. */
  def q261JoinRetentionRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRollRouteSources(spark, sfDir)
    val up = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_suppkey"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val q = up.as("cur").join(up.as("prev"),
        col("cur.l_suppkey") === col("prev.l_suppkey") &&
          col("prev.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(countDistinct(col("cur.l_suppkey")).as("retained"))
      .select(col("p").as("period"), col("retained"))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join retention routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q262
  /** Graded: CUMULATIVE routing over a registered JOIN — q243's
    * quadratic "lifetime uniques by day" plan written over
    * `orders ⋈ lineitem` (lifetime distinct suppliers by order day)
    * routes to the prefix-union serve over the JOIN MV's daily bitmap
    * partials; same matcher extension as q261, same DuckDB raw-join
    * recompute. The raw form re-joins ALL prior (supplier, day) pairs
    * per day through a nested loop ON TOP of the fact-to-fact join —
    * the most scale-hostile composition on the graded surface; the
    * routed serve is one incremental window pass over the |days|
    * frame. */
  def q262JoinCumulativeRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRollRouteSources(spark, sfDir)
    def joined = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
    val du = joined
      .select(col("l_suppkey"),
        (unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").as("d"))
      .distinct()
    val days = du.select(col("d").as("day")).distinct()
    val q = days.join(du, col("d") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("l_suppkey")).as("cum_supps"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join cumulative routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q266
  /** Graded: ENGAGEMENT-HISTOGRAM routing over a registered JOIN —
    * q265's fixed-window shape written over `orders ⋈ lineitem`
    * ("of March 1995's active suppliers, how many shipped on exactly
    * k days": per-supplier count(DISTINCT order day) under inclusive
    * epoch-day bounds, re-counted per activity level) routes to the
    * k-count partition over the JOIN MV's daily bitmap unions —
    * [[CubeAdvisor.analyzeEngagement]]'s `sourceOf` resolves the
    * composite join identity exactly like the pair-side matchers, so
    * the routing matrix's newest families carry their join column
    * too. Plan hard-asserted MV-only; DuckDB recomputes the two-level
    * group-by over the raw join. At scale the raw plan pays the
    * fact-to-fact join plus two pair shuffles per refresh; the routed
    * serve reads 28 cube-derived one-row bitmaps. */
  def q266JoinEngagementRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRollRouteSources(spark, sfDir)
    def joined = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
    // epoch days 9190..9217 = 1995-03-01..1995-03-28
    val nd = joined
      .select(col("l_suppkey"),
        (unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").as("d"))
      .filter(col("d").between(9190L, 9217L))
      .groupBy(col("l_suppkey"))
      .agg(countDistinct(col("d")).as("days_active"))
    val q = nd.groupBy(col("days_active"))
      .agg(count(col("l_suppkey")).as("suppliers"))
      .orderBy(col("days_active"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join engagement routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q284
  /** Graded: COHORT-VALUE ROUTING — q281's LTV matrix as a user writes
    * it RAW (per-(id, day) money sums joined to a per-id min-day
    * frame, re-aggregated per (cohort, age) — no service verb in
    * sight) over a REGISTERED weighted cube, rewritten by
    * [[CubeRewriteRule]] to the weight-map serve
    * ([[CubeAdvisor.analyzeCohortValue]] →
    * `CubeRewrite.buildCohortValueServe`): per-period maps
    * pointwise-ADD to the raw per-(id, period) sums, the first-seen
    * prefix-ANDNOT walk replaces the min-join, each cell is one
    * countIn/sumIn merge-walk, and the routed decimal is rebuilt
    * EXACTLY from the scaled-long sum (MakeDecimal — every weight is
    * an integral count of hundredths). Hard-asserted to scan ONLY the
    * cube; the DuckDB oracle recomputes the whole matrix from raw
    * events. 100 TB split: the raw plan shuffles every (id, period,
    * value) group twice per refresh (min reduce + join recount); the
    * routed serve reads |periods| one-row cube-derived maps. */
  def q284CohortValueRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = (unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long")
    val g = src.groupBy(col("user_id"), pExpr.as("p"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
    val f = src.groupBy(col("user_id")).agg(min(pExpr).as("cohort"))
    val q = g.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active"),
        sum(col("w")).cast("double").as("value"))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"cohort-value routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q283
  /** Graded: COHORT VALUE over a JOIN MV — q281's LTV matrix where the
    * id and the value live on OPPOSITE sides of `orders ⋈ lineitem`
    * ("revenue by supplier cohort age": suppliers cohorted by the week
    * of their first shipped order, valued by their line revenue each
    * week). The weight-map partials ride the delta-join fold like
    * every other measure family — multiplicity signs (±k from the
    * ΔL⋈R / L⋈ΔR / ΔL⋈ΔR terms) accumulate natively as (k·cnt, k·w)
    * — so the maintained join MV serves the matrix with no fact join
    * at read time. Full DuckDB oracle recomputes per-(supplier, week)
    * revenue over the raw join. */
  def q283JoinCohortValue(spark: SparkSession, sfDir: String): DataFrame = {
    val (svc, _, _) = joinRollRouteAll(spark, sfDir)
    svc.getJoinCohortValue("join_roll_route", "day", "sltv",
      periodDays = 7)
  }

  // --------------------------------------------------------------- q267
  /** Graded: FIRST-SEEN routing over a registered JOIN — q264's
    * growth-chart shape written over `orders ⋈ lineitem` ("new
    * suppliers per order week") routes to the prefix-ANDNOT walk over
    * the JOIN MV's weekly bitmap unions. The result is deliberately
    * small (every supplier ships within the first weeks — the fixture
    * truth), but it closes the last cell of the routing matrix ON THE
    * ORACLE GATE: all seven routed families (rolling, retention,
    * churn, cumulative, funnel, first-seen, engagement) now grade in
    * both single-table and join forms; the denser row-equality pin
    * lives in CubeRewriteSpec's join-cohort fixture. */
  def q267JoinFirstSeenRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRollRouteSources(spark, sfDir)
    val fw = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_suppkey"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("w"))
      .groupBy(col("l_suppkey"))
      .agg(min(col("w")).as("fw"))
    val q = fw.groupBy(col("fw"))
      .agg(count(col("l_suppkey")).as("new_supps"))
      .select(col("fw").as("week"), col("new_supps"))
      .orderBy(col("week"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join first-seen routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q263
  private val joinFunnelRouteSetup =
    TrieMap.empty[(SparkSession, String), (String, String)]
  private def joinFunnelRouteSources(spark: SparkSession,
      sfDir: String): (String, String) =
    joinFunnelRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jfunrt").toString
      CubeCatalog.install(spark)
      val oSrc = s"$dir/osrc"
      val lSrc = s"$dir/lsrc"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"))
        .write.parquet(oSrc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_returnflag"))
        .write.parquet(lSrc)
      val svc = new CubeService(spark, dir)
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_funnel_route", "osrc_lsrc",
            dims = Seq(FieldDim("rf", "l_returnflag"),
              TimeDim("day", "o_orderdate", "day")),
            measures = Nil,
            bitmaps = Seq(Measure("sup", "l_suppkey"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        spark.read.parquet(oSrc), spark.read.parquet(lSrc))
      CubeCatalog.registerJoin(s"join_funnel_route@$sfDir",
        svc.loadJoinCube("join_funnel_route"), oSrc, lSrc)
      (oSrc, lSrc)
    })

  /** Graded: FUNNEL routing over a registered JOIN — the raw min-join
    * conversion chain written over `orders ⋈ lineitem` ("suppliers
    * whose lines progressed N → R, cumulative by order day": the time
    * column from the LEFT side, the id and the step column from the
    * RIGHT) rewrites to the bitmap cascade over the registered
    * day+step-dimmed JOIN MV — completing the join column of the
    * routing matrix (rolling q232, retention/churn/cumulative
    * q261/q262, funnel here). The base chain stage over a joined
    * source is structurally a Join itself, so [[CubeAdvisor]]'s
    * minChain falls back from its recursive-stage arm to the joined
    * base stage — the step filter arrives pushed INTO a join side and
    * rides sourceOf's side predicates. Plan hard-asserted MV-only;
    * DuckDB recomputes the chain over the raw join. */
  def q263JoinFunnelRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinFunnelRouteSources(spark, sfDir)
    def joined = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
    def pairs(step: String) = joined
      .filter(col("l_returnflag") === step)
      .select(col("l_suppkey"),
        (unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").as("p"))
    val s1 = pairs("N").groupBy(col("l_suppkey"))
      .agg(min(col("p")).as("t1"))
    val chain = pairs("R").as("e").join(s1.as("pv"),
        col("e.l_suppkey") === col("pv.l_suppkey") &&
          col("e.p") >= col("pv.t1"))
      .groupBy(col("e.l_suppkey"))
      .agg(min(col("e.p")).as("t2"))
    val days = joined.select(
      (unix_timestamp(col("o_orderdate")).cast("double") / 86400)
        .cast("long").as("day")).distinct()
    val q = days.join(chain, col("t2") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("l_suppkey")).as("converted"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join funnel routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q252
  /** Graded: FUNNEL routing through the optimizer — the raw MIN-JOIN
    * conversion-chain plan users actually write ("users who completed
    * view → click → purchase in order, cumulative by day": t_1 = min
    * day of step-1 activity, t_k = min day ≥ t_{k−1} with step-k
    * activity, converted-by-p = |{t_K ≤ p}| — K−1 self-joins plus the
    * observed-days join) over a REGISTERED source is rewritten by
    * [[CubeRewriteRule]] to the funnel CASCADE over the registered
    * day+step-dimmed bitmap cube (C_1 = prefixOR(B_1), C_k =
    * prefixOR(B_k ∩ C_{k−1})), recognized by the advisor's own
    * [[CubeAdvisor.analyzeFunnel]] — the q228/q234/q243 shared-matcher
    * discipline, closing the last routing family without a graded
    * query. Exact because the cascade equals the min-time recursion by
    * induction ([[CubeService.getFunnel]]); the plan is hard-asserted
    * cube-only and DuckDB recomputes the chain raw, so the hash proves
    * the silent rewrite serves the identical curve. 100 TB split: the
    * raw chain is K joins over the source's step pairs PLUS a
    * quadratic period join (every day re-scans all conversion times);
    * the routed serve is ONE conditional-aggregation pass over
    * cube-sized partials + K incremental window passes over the
    * |days| frame. */
  def q252FunnelRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val src = spark.read.parquet(srcDir)
    def pairs(step: String) = src.filter(col("event_type") === step)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
    val s1 = pairs("view").groupBy(col("user_id"))
      .agg(min(col("p")).as("t1"))
    val chain = Seq("click", "purchase").zipWithIndex.foldLeft(s1) {
      case (prev, (s, i)) =>
        pairs(s).as("e").join(prev.as("pv"),
            col("e.user_id") === col("pv.user_id") &&
              col("e.p") >= col(s"pv.t${i + 1}"))
          .groupBy(col("e.user_id"))
          .agg(min(col("e.p")).as(s"t${i + 2}"))
    }
    val days = src.select(
      (unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").as("day")).distinct()
    val q = days.join(chain, col("t3") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("converted"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"funnel routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q253
  /** Graded: the q252 funnel as SQL TEXT (the q242 discipline) — the
    * min-join recursion spelled in plain SQL CTEs routes to the same
    * cascade: SQL lowering leaves extra projections and subquery
    * aliases that CollapseProject folds away, so matching the
    * optimized tree (not the parsed one) makes the rewrite reachable
    * from BI-tool-generated text, not just DataFrames. Same cube-only
    * hard assert; same DuckDB raw recompute (2-step chain — a second
    * chain length through the matcher's recursive stage). */
  def q253SqlFunnelRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    spark.read.parquet(srcDir)
      .createOrReplaceTempView("funnel_route_events")
    val q = spark.sql("""
      WITH ev AS (
        SELECT user_id, event_type,
          CAST(CAST(unix_timestamp(ts) AS DOUBLE) / 86400 AS BIGINT) AS p
        FROM funnel_route_events),
      t1 AS (SELECT user_id, MIN(p) AS t1 FROM ev
             WHERE event_type = 'signup' GROUP BY user_id),
      t2 AS (SELECT ev.user_id, MIN(ev.p) AS t2
             FROM ev JOIN t1 ON ev.user_id = t1.user_id AND ev.p >= t1.t1
             WHERE ev.event_type = 'purchase' GROUP BY ev.user_id),
      days AS (SELECT DISTINCT p AS day FROM ev)
      SELECT days.day, COUNT(DISTINCT t2.user_id) AS converted
      FROM days JOIN t2 ON t2.t2 <= days.day
      GROUP BY days.day
      ORDER BY days.day""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"SQL-text funnel routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q287
  /** Graded: cohort-value routing from SQL TEXT — the monthly LTV
    * matrix as a BI layer emits it (one CTE for the per-(customer,
    * month) sums, a second CTE deriving first months FROM THE FIRST —
    * the natural `f AS (SELECT id, min(m) FROM g)` form), routed
    * verbatim: the optimizer itself collapses the min-over-g aggregate
    * to a min over the source's (id, month) projection (min over group
    * keys == min over raw rows), leaving exactly the two-aggregate
    * join [[CubeAdvisor.analyzeCohortValue]] recognizes. Same cube,
    * same oracle discipline as q286 — proving a dashboard's SQL needs
    * NO rewrite by hand to ride the weight-map serve. */
  def q287SqlCohortValueRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("cv_route_orders")
    val q = spark.sql("""
      WITH g AS (
        SELECT o_custkey,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM cv_route_orders GROUP BY 1, 2),
      f AS (SELECT o_custkey, min(m) AS cohort FROM g GROUP BY 1)
      SELECT f.cohort, g.m - f.cohort AS offset, count(*) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.o_custkey = f.o_custkey
      GROUP BY 1, 2
      ORDER BY 1, 2""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"SQL-text cohort-value routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q254
  // --------------------------------------------------------------- q285
  private val advisedCvSetup =
    TrieMap.empty[(SparkSession, String), String]
  private def advisedCvSource(spark: SparkSession, sfDir: String): String =
    advisedCvSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advcv").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("value"))
        .write.parquet(srcDir)
      val src = spark.read.parquet(srcDir)
      // the workload: the weekly LTV matrix as users write it raw —
      // per-(id, week) money sums joined to a per-id min-week frame
      val advice = CubeAdvisor.advise(Seq(weeklyCohortValue(src)),
        "advcv")
      require(advice.retention.size == 1 && advice.uncovered.isEmpty,
        s"cohort-value advice did not recognize the workload: $advice")
      val rec = advice.retention.head
      require(rec.config.weighted ==
          Seq(WeightedMeasure("value_w", "user_id", "value")) &&
        rec.periods == Seq(7) && rec.sourcePath.endsWith("/source"),
        s"unexpected cohort-value recommendation: $rec")
      // materialize VERBATIM and register — the raw plan must now
      // route (the honesty loop's whole point)
      CubeManager.save(CubeManager.create(rec.config, src), dir)
      CubeCatalog.install(spark)
      CubeCatalog.register(s"advcv@$sfDir",
        CubeManager.load(spark, dir, rec.config.name), srcDir)
      srcDir
    })

  /** The advised workload AND the graded serve: the weekly cohort-value
    * (LTV) matrix over `src`, built identically on both sides of the
    * honesty loop. */
  private def weeklyCohortValue(src: DataFrame): DataFrame = {
    def pExpr = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 7).cast("long")
    val g = src.groupBy(col("user_id"), pExpr.as("p"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
    val f = src.groupBy(col("user_id")).agg(min(pExpr).as("cohort"))
    g.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active"),
        sum(col("w")).cast("double").as("value"))
  }

  /** Graded: the COHORT-VALUE HONESTY LOOP — `advise` on the raw
    * weekly LTV matrix yields a day-dimmed retention-family rec whose
    * cube carries a `weighted` measure (one cube covers counts AND
    * values); materializing it VERBATIM and registering makes the
    * same raw plan route to the weight-map serve
    * ([[CubeAdvisor.analyzeCohortValue]] — hard-asserted to scan only
    * the advised cube). The DuckDB oracle recomputes the matrix from
    * raw events, so the loop is graded end to end: recognize →
    * recommend → materialize → route → hash-match. */
  def q285AdvisedCohortValue(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = advisedCvSource(spark, sfDir)
    val q = weeklyCohortValue(spark.read.parquet(srcDir))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/advcv_retention_0")),
      s"advised cohort-value routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  private val advisedFunnelSetup =
    TrieMap.empty[(SparkSession, String), String]
  private def advisedFunnelSource(spark: SparkSession,
      sfDir: String): String =
    advisedFunnelSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advfun").toString
      val srcDir = s"$dir/source"
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .write.parquet(srcDir)
      val src = spark.read.parquet(srcDir)
      // the workload: the WEEKLY 3-step funnel as users write it —
      // the min-join conversion-time recursion + the observed-period
      // join (q252's shape at a different period width)
      val advice = CubeAdvisor.advise(
        Seq(weeklyFunnelChain(src)), "advfun")
      require(advice.funnel.size == 1 && advice.uncovered.isEmpty,
        s"funnel advice did not recognize the workload: $advice")
      val rec = advice.funnel.head
      require(rec.periods == Seq(7) &&
        rec.chains == Seq(Seq("view", "click", "purchase")) &&
        rec.stepDim == "event_type" && rec.sourcePath.endsWith("/source"),
        s"unexpected funnel recommendation: $rec")
      // materialize VERBATIM and register — the raw plan must now
      // route (the honesty loop's whole point)
      CubeManager.save(CubeManager.create(rec.config, src), dir)
      CubeCatalog.install(spark)
      CubeCatalog.register(s"advfun@$sfDir",
        CubeManager.load(spark, dir, rec.config.name), srcDir)
      srcDir
    })

  /** The advised workload AND the graded serve: weekly view → click →
    * purchase conversion-time recursion over `src`, built identically
    * on both sides of the honesty loop. */
  private def weeklyFunnelChain(src: DataFrame): DataFrame = {
    def pairs(step: String) = src.filter(col("event_type") === step)
      .select(col("user_id"),
        floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
    val s1 = pairs("view").groupBy(col("user_id"))
      .agg(min(col("p")).as("t1"))
    val chain = Seq("click", "purchase").zipWithIndex.foldLeft(s1) {
      case (prev, (s, i)) =>
        pairs(s).as("e").join(prev.as("pv"),
            col("e.user_id") === col("pv.user_id") &&
              col("e.p") >= col(s"pv.t${i + 1}"))
          .groupBy(col("e.user_id"))
          .agg(min(col("e.p")).as(s"t${i + 2}"))
    }
    val periods = src.select(
      floor((unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").cast("double") / 7).cast("long").as("period"))
      .distinct()
    // no orderBy: the advisor's vocabulary is the AGGREGATE (dashboards
    // log the metric; presentation sort is the consumer's) — the graded
    // serve adds its total order on top, which the route ignores
    periods.join(chain, col("t3") <= col("period"))
      .groupBy(col("period"))
      .agg(countDistinct(col("user_id")).as("converted"))
  }

  /** Graded: the ADVISOR RECOGNIZES FUNNEL WORKLOADS — the min-join
    * conversion-chain plan (the defining funnel query, which the
    * generic matcher necessarily reports uncovered: aggregates over
    * joins of aggregates have no single source) yields a
    * day+step-dimmed BITMAP cube recommendation; this query closes the
    * honesty loop by materializing the recommendation VERBATIM,
    * registering it, and re-planning the SAME raw workload — which now
    * silently routes to the funnel cascade (hard-asserted cube-only),
    * while the DuckDB oracle recomputes the weekly chain from raw
    * events. Hash equality proves advise → materialize → route serves
    * the workload's own numbers exactly — the q190/q230 loop for the
    * last unadvised cohort family. 100 TB split: the raw chain is K
    * joins over step pairs + a quadratic period join per refresh; the
    * advised serve is one conditional-aggregation pass over cube-sized
    * partials + K window passes over the |periods| frame. */
  def q254AdvisedFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = advisedFunnelSource(spark, sfDir)
    val q = weeklyFunnelChain(spark.read.parquet(srcDir))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/advfun_funnel_0")),
      s"advised funnel routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q244
  private val cohortTtSetup =
    TrieMap.empty[(SparkSession, String), (CubeService, Int)]
  private def cohortTtService(spark: SparkSession,
      sfDir: String): (CubeService, Int) =
    cohortTtSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_cohort_tt").toString
      val svc = new CubeService(spark, dir)
      val orders = Tables.orders(spark, sfDir)
      val pre = col("o_orderdate").cast("date") <
        lit("1996-01-01").cast("date")
      // v0 = the pre-1996 state; one insert fold moves the head to the
      // full corpus, archiving v0 in the retention window
      svc.createCube(
        CubeConfig("cohort_tt", "orders",
          dims = Seq(TimeDim("day", "o_orderdate", "day")),
          measures = Seq(Measure("rev", "o_totalprice")),
          bitmaps = Seq(Measure("c", "o_custkey"))),
        orders.filter(pre))
      val v0 = svc.currentCubeVersion("cohort_tt")
      svc.updateAggregates("cohort_tt", orders.filter(!pre))
      (svc, v0)
    })

  /** Graded: COHORT TIME TRAVEL — the cumulative dashboard served
    * AS OF a retained historical version ([[CubeService
    * .getCumulativeAsOf]]): the cube is built from pre-1996 orders,
    * one fold appends the rest, and the graded serve reads version v0
    * — the audit-and-reproduce question ("what did the lifetime
    * customer curve say before the backfill landed") answered from
    * the archived cells, bit-for-bit what the head verb served at
    * that publish (CubeServiceSpec pins all four cohort families).
    * The DuckDB oracle recomputes the curve from the raw pre-cutoff
    * rows only — hash-matching proves the archive is the exact
    * pre-fold state, not a re-derivation. Versioning costs the fold
    * one metadata rename (the q189 archive discipline); the as-of
    * serve is the same |days|-frame prefix-union as the head's. */
  def q244CohortTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val (svc, v0) = cohortTtService(spark, sfDir)
    svc.getCumulativeAsOf("cohort_tt", v0, "day",
      sumOf = Seq("rev"), exactDistinctOf = Seq("c"))
  }

  // --------------------------------------------------------------- q268
  /** Graded: STICKINESS curve ([[CubeService.getStickiness]]) — the
    * DAU/MAU-style ratio chart over seven years of orders: per
    * observed order day, the exact distinct customers that day
    * (short window 1), in the trailing 28 days (long window), and
    * their ratio. Both counts are the rolling serve's exact bitmap
    * unions over the SAME maintained daily partials — one day cube
    * answers any window pair — and the ratio is one IEEE division of
    * two exact longs (no accumulation drift; hash-gradable). The raw
    * twin recomputes BOTH trailing windows from the source's distinct
    * pairs per refresh (two explode-join-recount passes); the serve
    * is |days|·(1+28) one-row bitmap unions over cube-derived
    * frames. Reuses q244's lifecycle cube (head state = full
    * corpus). */
  def q268Stickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val (svc, _) = cohortTtService(spark, sfDir)
    svc.getStickiness("cohort_tt", "day", "c",
      shortDays = 1, longDays = 28)
  }

  // --------------------------------------------------------------- q256
  private val joinTtSetup =
    TrieMap.empty[(SparkSession, String), (CubeService, Int)]
  private def joinTtService(spark: SparkSession,
      sfDir: String): (CubeService, Int) =
    joinTtSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_join_tt").toString
      val svc = new CubeService(spark, dir)
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"))
      val line = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_suppkey"), col("l_shipdate"))
      val pre = col("l_shipdate").cast("date") <
        lit("1996-01-01").cast("date")
      // v0 = the pre-1996-shipment state of the RIGHT side; one
      // right-delta fold moves the head to the full corpus, archiving
      // v0 in the jmv retention window
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_tt", "o_l",
            dims = Seq(TimeDim("day", "o_orderdate", "day")),
            measures = Seq(Measure("rev", "l_extendedprice")),
            bitmaps = Seq(Measure("s", "l_suppkey"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        orders, line.filter(pre).drop("l_shipdate"))
      val v0 = svc.currentJoinCubeVersion("join_tt")
      svc.updateJoinAggregates("join_tt",
        orders.limit(0).withColumn("_sign", lit(1L)),
        line.filter(!pre).drop("l_shipdate")
          .withColumn("_sign", lit(1L)))
      (svc, v0)
    })

  /** Graded: JOIN-MV COHORT TIME TRAVEL — q244's audit-and-reproduce
    * question over a JOIN MV: the lifetime supplier curve by order day
    * (`orders ⋈ lineitem`) served AS OF the retained pre-backfill
    * version ([[CubeService.getJoinCumulativeAsOf]] — the r14 as-of
    * refusal for join forms, closed). Sound because a retained jmv
    * version dir is ONE immutable consistent (cube, left, right)
    * triple written by a single fold, and the cohort serves read only
    * its cube aggregates — the three-frame consistency hazard belongs
    * to folds, not serves.
    * The DuckDB oracle recomputes the curve from the raw pre-cutoff
    * JOIN only — hash-matching proves the archived version is the
    * exact pre-fold state. 100 TB split: the as-of serve is the same
    * |days|-frame prefix-union as the head's; versioning cost is the
    * jmv manifest's one rename per fold. */
  def q256JoinCohortTimeTravel(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (svc, v0) = joinTtService(spark, sfDir)
    svc.getJoinCumulativeAsOf("join_tt", v0, "day",
      sumOf = Seq("rev"), exactDistinctOf = Seq("s"))
  }

  // --------------------------------------------------------------- q260
  private val joinDictSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def joinDictService(spark: SparkSession,
      sfDir: String): CubeService =
    joinDictSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jdict").toString
      val svc = new CubeService(spark, dir)
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      // a STRING supplier key — the non-integral id shape over a JOIN
      val line = Tables.lineitem(spark, sfDir)
        .withColumn("supp_s", concat(lit("s"), col("l_suppkey")))
        .select(col("l_orderkey"), col("supp_s"))
      val isDelta = col("l_orderkey") % 4 === 3
      // lifecycle on the graded surface: create from the ~75% base,
      // then ONE right-side fold whose batch carries suppliers some
      // priorities never saw — the dictionary extends through the
      // delta-join fold and persists into the new version triple
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_dict", "o_l",
            dims = Seq(FieldDim("prio", "o_orderpriority")),
            measures = Nil,
            dictBitmaps = Seq(Measure("s", "supp_s"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        orders, line.filter(!isDelta))
      svc.updateJoinAggregates("join_dict",
        orders.limit(0).withColumn("_sign", lit(1L)),
        line.filter(isDelta).withColumn("_sign", lit(1L)))
      svc
    })

  /** Graded: EXACT COUNT(DISTINCT) over a STRING key in a JOIN MV —
    * the dictionary-bitmap family composed with the delta-join rule:
    * `ChainCubeManager.applyDeltas` extends the (key → dense id)
    * dictionary with each batch's unseen keys and every jmv publish
    * persists the extended map inside the version triple, so distinct
    * supplier counts per priority over `orders ⋈ lineitem` are EXACT
    * for any key type — no estimator, no opt-in. The cube graded here
    * lived the full lifecycle (75% base create, one right-side fold
    * with unseen suppliers, versioned publish, serve); the DuckDB
    * oracle recomputes from the raw join and hash-matches. JoinCubeSpec
    * pins folds-extend / restart-reload / delete-recompute ==
    * from-scratch. 100 TB split: the raw twin re-shuffles the joined
    * fact's distinct (priority, supplier) pairs per refresh; the MV
    * serve is |cells| bitmap unions and each fold touches only the
    * delta's keys. */
  def q260JoinDictDistinct(spark: SparkSession,
      sfDir: String): DataFrame = {
    joinDictService(spark, sfDir)
      .getJoinAggregates("join_dict", Seq("prio"),
        exactDistinctOf = Seq("s"))
      .select(col("prio"), col("n_exact_s").as("nd_supp"),
        col("n_rows").cast("long").as("n"))
      .orderBy(col("prio"))
  }

  // --------------------------------------------------------------- q236
  /** Graded: DIM-FILTERED rolling routing — the q228 raw trailing-
    * window plan with a `WHERE event_type = 'click'` restriction ("WAU
    * of click events", the filtered-dashboard form) routes to a
    * CELL-FILTERED serve: the matcher collects `col = lit` / `col IN
    * lits` conjuncts from BOTH sides of the semi-join (they must
    * match — the raw plan's endpoints are the days the FILTERED data
    * was observed) and the serve restricts cube cells on the matching
    * FieldDim before the daily collapse. Exact because cells partition
    * by the dimension: the filtered cells' bitmap union IS the
    * filtered source's id set. 100 TB split: the raw plan scans +
    * filters the full source per refresh; the serve reads only the
    * dimension-matched cells of the maintained cube — the filter
    * becomes partition-sized, not scan-sized. */
  def q236FilteredRollingRouting(
      spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val du = spark.read.parquet(srcDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .distinct()
    val q = graft.functions.Rolling.endpoints(du, 7)
      .agg(countDistinct(col("user_id")).as("n_click_users_7d"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"filtered rolling routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q237
  /** Graded: DIM-FILTERED retention routing — the q234 raw cohort
    * self-join restricted to `event_type = 'click'` on BOTH sides
    * ("weekly retention of click users") routes to the AND-walk over
    * per-period unions of the CELL-FILTERED cube; a one-sided filter
    * refuses (different cohort question — pinned in CubeRewriteSpec).
    * The DuckDB oracle recomputes the filtered self-join raw. */
  def q237FilteredRetentionRouting(
      spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val up = spark.read.parquet(srcDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val q = up.as("cur").join(up.as("prev"),
        col("cur.user_id") === col("prev.user_id") &&
          col("prev.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(countDistinct(col("cur.user_id")).as("retained"))
      .select(col("p").as("period"), col("retained"))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"filtered retention routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q234
  /** Graded: RETENTION ROUTING through the optimizer — the raw
    * distinct-pair self-join cohort plan ("weekly retained users", no
    * service verb) over the q228 REGISTERED source rewrites to an
    * AND-walk over per-period bitmap unions of the registered
    * day-dimmed cube: recognition is [[CubeAdvisor.analyzeRetention]]
    * (advisor and rewrite share the matcher, the q228 discipline), and
    * the serve reproduces the raw plan's row set exactly (periods with
    * an observed p−1 and ≥1 retained id — an empty inner join emits no
    * group). Bitmap intersection is lossless, so the DuckDB recompute
    * of the same self-join hash-matches. 100 TB split: the raw plan
    * re-shuffles the source's distinct pairs TWICE per refresh; the
    * routed serve is |periods| one-row merges + a tiny adjacency
    * join. */
  def q234RetentionRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val up = spark.read.parquet(srcDir)
      .select(col("user_id"),
        floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val q = up.as("cur").join(up.as("prev"),
        col("cur.user_id") === col("prev.user_id") &&
          col("prev.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(countDistinct(col("cur.user_id")).as("retained"))
      .select(col("p").as("period"), col("retained"))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"retention routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q238
  private val calRetSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def calRetService(spark: SparkSession,
      sfDir: String): CubeService =
    calRetSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_calret").toString
      val svc = new CubeService(spark, dir)
      // orders spans 1992-1998 — ~80 calendar months of customer
      // activity, the realistic multi-year cohort corpus (events spans
      // a single month)
      svc.createCube(
        CubeConfig("cal_ret", "orders",
          dims = Seq(TimeDim("day", "o_orderdate", "day")),
          // revenue rides the same cube for q240's YTD curves — the
          // retention serve never reads it
          measures = Seq(Measure("rev", "o_totalprice")),
          bitmaps = Seq(Measure("c", "o_custkey")),
          // per-id additive partials for q281/q282's cohort-VALUE
          // matrices (revenue by cohort age) — same cube, the families
          // compose: bitmaps answer WHO, weight maps answer WORTH
          weighted = Seq(WeightedMeasure("ltv", "o_custkey",
            "o_totalprice"))),
        Tables.orders(spark, sfDir))
      // q280: the priority-step twin over the same multi-year corpus —
      // the calendar time-to-convert's step cells
      svc.createCube(
        CubeConfig("cal_fun", "orders",
          dims = Seq(FieldDim("prio", "o_orderpriority"),
            TimeDim("day", "o_orderdate", "day")),
          measures = Nil,
          bitmaps = Seq(Measure("c", "o_custkey")),
          // q293: the SEGMENTED LTV matrix needs per-(prio, day) maps
          weighted = Seq(WeightedMeasure("ltv", "o_custkey",
            "o_totalprice"))),
        Tables.orders(spark, sfDir))
      svc
    })

  /** Graded: CALENDAR time-to-convert ([[CubeService.getTimeToConvert]]
    * with `calendar = month`) — "how many MONTHS from a customer's
    * first URGENT order to their first HIGH order at or after it",
    * the q278 lag histogram with the lag measured in month ORDINALS
    * over seven years of orders (~84 monthly frames, every December →
    * January edge an exact −1 adjacency). Same F/N bitmap algebra as
    * q278, with day cells collapsed to ordinals; DuckDB recomputes the
    * monthly min-chain recursion and the per-id subtraction raw. */
  def q280CalendarTimeToConvert(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getTimeToConvert("cal_fun", "day", "c", "prio",
      Seq("1-URGENT", "2-HIGH"), calendar = Some("month"))
  }

  // --------------------------------------------------------------- q288
  /** Graded: REVENUE GROWTH ACCOUNTING — the MRR-bridge waterfall
    * ([[CubeService.getValueGrowthAccounting]]) over seven years of
    * weekly order revenue: per week, total revenue decomposed into
    * new / resurrected / expansion / contraction / churned value with
    * the bridge identity (revenue − prev = new + res + exp − con −
    * churn) holding on every row — the chart every subscription
    * dashboard leads with, which no count-distinct family can express
    * (it needs per-id VALUES, not set sizes). Served exactly from the
    * same weight-map partials as q281: first-seen and churn sets from
    * the maps' key bitmaps, expansion/contraction from ONE tandem
    * walk over adjacent periods' maps ([[graft.functions
    * .WeightMapDeltaSums]]). The DuckDB oracle recomputes all seven
    * columns from raw orders with adjacent-period joins — full hash
    * gate. 100 TB split: the raw twin is FOUR self-joins of the
    * per-(id, period) frame per refresh; the serve is one lag +
    * running-union window over |periods| one-row maps. */
  def q288ValueGrowthAccounting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getValueGrowthAccounting("cal_ret", "day", "ltv",
      periodDays = 7)
  }

  // --------------------------------------------------------------- q289
  /** Graded: the CALENDAR-MONTH revenue bridge — q288 in the
    * vocabulary finance actually uses ("MRR bridge by month"):
    * periods key on `year*12 + month − 1` ordinals so every Dec → Jan
    * boundary is exact adjacency and a 28-day February is one month
    * like any other; `period_start` labels each bucket. ~84 monthly
    * frames over the same maintained weight maps. */
  def q289CalendarValueGrowth(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getValueGrowthAccountingCalendar("cal_ret", "day", "ltv",
      "month")
  }

  // --------------------------------------------------------------- q291
  private val dictValSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def dictValService(spark: SparkSession,
      sfDir: String): CubeService =
    dictValSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_dictval").toString
      val svc = new CubeService(spark, dir)
      // a STRING customer key — the most common real-world id shape:
      // the weighted measure rides the dictBitmaps dictionary
      // (weightedIdCol), so the LTV family stays exact with no
      // integral-id requirement
      val src = Tables.orders(spark, sfDir)
        .withColumn("ck_s", concat(lit("c"), col("o_custkey")))
        .select(col("ck_s"), col("o_orderdate"), col("o_totalprice"))
      svc.createCube(
        CubeConfig("dict_val", "orders",
          dims = Seq(TimeDim("day", "o_orderdate", "day")),
          measures = Nil,
          dictBitmaps = Seq(Measure("cs", "ck_s")),
          weighted = Seq(WeightedMeasure("sltv", "ck_s",
            "o_totalprice"))),
        src)
      svc
    })

  /** Graded: STRING-KEYED cohort value — q282's calendar-month LTV
    * matrix over a string customer key: the weighted measure rides
    * the `dictBitmaps` dictionary (any injective encoding yields the
    * same id-free matrix), so the most common real-world id shape
    * gets the exact LTV family with no integral-id requirement. The
    * DuckDB oracle recomputes the matrix over the raw string ids —
    * hash equality proves the dictionary path end to end. */
  def q291DictCohortValue(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = dictValService(spark, sfDir)
    svc.getCohortValueCalendar("dict_val", "day", "sltv", "month")
  }

  // --------------------------------------------------------------- q292
  /** Graded: the STRING-KEYED leaderboard — q290's exact top spenders
    * where the served `id` column is the ORIGINAL string key,
    * translated back through the maintained append-only dictionary (a
    * broadcast-sized join over the |periods|·k board rows; ranks are
    * computed on the dense ids first and unchanged by the injective
    * translation). Ties break (value desc, id ASC) on the STRING key
    * — matched exactly by the oracle's ROW_NUMBER, so the visible-id
    * board hash-matches: the strongest possible pin that the
    * dictionary round-trip is lossless. */
  def q292DictTopSpenders(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = dictValService(spark, sfDir)
    svc.getTopSpenders("dict_val", "day", "sltv", k = 5, periodDays = 7)
  }

  // --------------------------------------------------------------- q294
  private val dictValRouteSetup =
    TrieMap.empty[(SparkSession, String), String]
  private def dictValRouteSource(spark: SparkSession,
      sfDir: String): String =
    dictValRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_dictvalrt").toString
      val srcDir = s"$dir/source"
      Tables.orders(spark, sfDir)
        .withColumn("ck_s", concat(lit("c"), col("o_custkey")))
        .select(col("ck_s"), col("o_orderdate"), col("o_totalprice"))
        .write.parquet(srcDir)
      CubeManager.save(CubeManager.create(
        CubeConfig("dict_val_route", "orders",
          dims = Seq(TimeDim("day", "o_orderdate", "day")),
          measures = Nil,
          dictBitmaps = Seq(Measure("cs", "ck_s")),
          weighted = Seq(WeightedMeasure("sltv", "ck_s",
            "o_totalprice"))),
        spark.read.parquet(srcDir)), dir)
      CubeCatalog.install(spark)
      CubeCatalog.register(s"dict_val_route@$sfDir",
        CubeManager.load(spark, dir, "dict_val_route"), srcDir)
      srcDir
    })

  // --------------------------------------------------------------- q310
  private val dictSegTtSetup =
    TrieMap.empty[(SparkSession, String), CubeService]
  private def dictSegTtService(spark: SparkSession,
      sfDir: String): CubeService =
    dictSegTtSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_dictsegtt").toString
      val svc = new CubeService(spark, dir, retainCubeVersions = 3)
      val src = Tables.orders(spark, sfDir)
        .withColumn("ck_s", concat(lit("c"), col("o_custkey")))
        .select(col("ck_s"), col("o_orderdate"), col("o_totalprice"),
          col("o_orderpriority"), col("o_orderkey"))
      val cfg = CubeConfig("dict_seg_tt", "orders",
        dims = Seq(FieldDim("prio", "o_orderpriority"),
          TimeDim("day", "o_orderdate", "day")),
        measures = Nil,
        dictBitmaps = Seq(Measure("cs", "ck_s")),
        weighted = Seq(WeightedMeasure("sltv", "ck_s", "o_totalprice")))
      svc.createCube(cfg, src.filter(col("o_orderkey") % 5 =!= 4)) // v0
      svc.updateAggregates("dict_seg_tt",                          // v1
        src.filter(col("o_orderkey") % 5 === 4)
          .withColumn("_sign", lit(1L)))
      svc
    })

  /** Graded: the DICT × SEGMENTED × AS-OF leaderboard composition —
    * weekly top-3 spender boards PER ORDER PRIORITY over STRING
    * customer keys, served from RETAINED VERSION 0 of a twice-folded
    * cube ([[CubeService.getTopSpendersAsOf]]): the per-(segment,
    * week) bounded selections run over the archived version's weight
    * maps, and the dictionary translation (dense id → raw string key,
    * the append-only version-safe dictionary) applies BEFORE the
    * deterministic (value DESC, id ASC) re-rank, so ties break on the
    * key the user sees — under segment partitioning, at a version the
    * head has since folded past (the r15 q292 round-trip discipline
    * composed with q302's segmentation and q244's time travel). FULL
    * DuckDB oracle recomputes every sliced board from the raw rows
    * the version-0 slice contained. */
  def q310DictSegTopSpendersAsOf(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = dictSegTtService(spark, sfDir)
    svc.getTopSpendersAsOf("dict_seg_tt", 0, "day", "sltv", k = 3,
      periodDays = 7, segmentBy = Seq("prio"))
  }

  /** Graded: LEADERBOARD ROUTING — q290's exact weekly top-spender
    * board as a user writes it RAW (ROW_NUMBER over per-(customer,
    * week) money sums, filtered to rank ≤ 5 — the "top customers this
    * week" dashboard, as common as the WAU curve), silently rewritten
    * by [[CubeRewriteRule]] to the [[CubeService.getTopSpenders]]
    * serve over the registered weighted cube
    * ([[CubeAdvisor.analyzeTopSpenders]] →
    * `CubeRewrite.buildTopSpendersServe`): per-week maps pointwise-ADD
    * to the raw sums, a bounded O(|map|·k) selection keeps every
    * boundary tie, and the re-rank applies EXACTLY the raw plan's
    * deterministic (value DESC, id ASC) tiebreak — the routed board
    * hash-matches ~344 weekly top-5 boards recomputed raw by DuckDB.
    * The `IS NOT NULL` id guard is part of the matched shape (the id
    * is output-visible and the maps carry no null-id group). Plan
    * hard-asserted cube-only. 100 TB split: the raw plan shuffles
    * every (id, week, value) group then sorts per week; the routed
    * serve reads ~344 one-row cube-derived maps with a k-bounded
    * selection each. */
  def q295TopSpendersRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("o_orderdate")).cast("double")
      / 86400).cast("long").cast("double") / 7).cast("long")
    val g = src.filter(col("o_custkey").isNotNull)
      .groupBy(col("o_custkey"), pExpr.as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p"))
      .orderBy(col("w").desc, col("o_custkey").asc)
    val q = g.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 5)
      .select(col("p").as("period"), col("rnk").cast("long").as("rank"),
        col("o_custkey").as("id"), col("w").cast("double").as("value"))
      .orderBy(col("period"), col("rank"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"leaderboard routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q296
  /** Graded: the STRING-KEYED routed leaderboard — q295 with the id in
    * its most common real-world shape: the raw board ranks string
    * customer keys, and the rewrite's serve translates the dict-dense
    * candidates back through the append-only dictionary BEFORE
    * ranking, so ties break on the key the user sees — the visible-id
    * board hash-matches DuckDB's string-keyed ROW_NUMBER recompute
    * (the strongest pin that the dictionary round-trip is lossless,
    * now on the ROUTED path too). */
  def q296DictTopSpendersRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = dictValRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("o_orderdate")).cast("double")
      / 86400).cast("long").cast("double") / 7).cast("long")
    val g = src.filter(col("ck_s").isNotNull)
      .groupBy(col("ck_s"), pExpr.as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p"))
      .orderBy(col("w").desc, col("ck_s").asc)
    val q = g.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 5)
      .select(col("p").as("period"), col("rnk").cast("long").as("rank"),
        col("ck_s").as("id"), col("w").cast("double").as("value"))
      .orderBy(col("period"), col("rank"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"string-keyed leaderboard routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  /** Graded: WINDOWED-FUNNEL routing — q246's gap-bounded conversion
    * chain written RAW (the ClickHouse-windowFunnel vocabulary: each
    * step must follow a QUALIFIED previous-step pair within 3 days,
    * tracked as DISTINCT qualified (id, period) pairs per level —
    * the greedy min-chain would miss re-qualification), silently
    * rewritten to [[CubeService.getFunnel]]'s `withinPeriods` cascade
    * over the registered day+step-dimmed bitmap cube:
    * [[CubeAdvisor.analyzeFunnel]]'s windowed arm recognizes the
    * final min stage over the qualified-pair recursion and
    * [[windowBound]] proves the join bounds `step_p − prev_p` to
    * exactly [0, w] (strict bounds, mixed windows and repeated steps
    * refuse); the serve intersects each step's bitmap with a TRAILING
    * RANGE window union of the previous step's qualified sets, so
    * calendar gaps age chains out exactly like the raw recursion.
    * Plan hard-asserted cube-only; FULL DuckDB oracle recomputes the
    * qualified-pair recursion raw. 100 TB split: the raw plan pays
    * K−1 fact self-joins plus the quadratic period join per refresh;
    * the routed cascade is one pass over cube partials + K window
    * passes over the |periods| frame. */
  def q298WindowFunnelRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def ev(s: String) = src.filter(col("event_type") === s)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
    val q1 = ev("view").distinct()
    def level(prevQ: DataFrame, s: String) =
      ev(s).as("e").join(prevQ.as("c"),
          col("c.user_id") === col("e.user_id") &&
            col("c.p") >= col("e.p") - 3 && col("c.p") <= col("e.p"))
        .select(col("e.user_id"), col("e.p")).distinct()
    val q3 = level(level(q1, "click"), "purchase")
    val t = q3.groupBy(col("user_id")).agg(min(col("p")).as("t"))
    val days = src.select(
      (unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").as("day")).distinct()
    val q = days.join(t, col("t") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("converted"))
      .orderBy(col("day"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"windowed funnel routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  /** Graded: the SQL-TEXT leaderboard — q295's routed top-spender
    * board in the form BI layers actually emit (a ROW_NUMBER window
    * in a subquery, filtered in the outer SELECT): the analyzer
    * lowers it to exactly the Filter-over-Window shape
    * [[CubeAdvisor.analyzeTopSpenders]] matches, so the text form
    * routes verbatim to the bounded-selection serve — the q242/q287
    * authorship-path discipline extended to the newest routed family.
    * Plan hard-asserted cube-only; the same full DuckDB oracle as
    * q295. */
  def q300SqlTopSpendersRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    spark.read.parquet(srcDir)
      .createOrReplaceTempView("board_route_orders")
    val q = spark.sql("""
      WITH g AS (
        SELECT o_custkey,
          CAST(floor(CAST(datediff(o_orderdate, DATE '1970-01-01')
            AS BIGINT) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM board_route_orders
        WHERE o_custkey IS NOT NULL
        GROUP BY 1, 2),
      r AS (SELECT p, o_custkey, w,
          ROW_NUMBER() OVER (PARTITION BY p
                             ORDER BY w DESC, o_custkey ASC) AS rnk
        FROM g)
      SELECT p AS period, CAST(rnk AS BIGINT) AS rank,
        o_custkey AS id, CAST(w AS DOUBLE) AS value
      FROM r WHERE rnk <= 5
      ORDER BY period, rank""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"SQL-text leaderboard routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  /** Graded: the SEGMENTED routed leaderboard — "top spenders per
    * order priority per week", the sliced board every sales dashboard
    * adds next: the raw plan groups by (priority, customer, week) and
    * ranks within (priority, week); [[CubeAdvisor.analyzeTopSpenders]]
    * reads the segment roles off the WINDOW PARTITION (the ORDER BY's
    * ASC tiebreak names the ranked id; every other plain grouping must
    * partition the window or the route refuses — an unpartitioned
    * grouping would duplicate board rows), and the serve selects
    * per-(priority, week) maps with the same bounded top-k + re-rank.
    * Plan hard-asserted cube-only; FULL DuckDB oracle recomputes ~5 ×
    * 344 sliced boards raw. */
  def q302SegmentedTopSpendersRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("o_orderdate")).cast("double")
      / 86400).cast("long").cast("double") / 7).cast("long")
    val g = src.filter(col("o_custkey").isNotNull)
      .groupBy(col("o_orderpriority"), col("o_custkey"), pExpr.as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"), col("p"))
      .orderBy(col("w").desc, col("o_custkey").asc)
    val q = g.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority").as("prio"),
        col("p").as("period"), col("rnk").cast("long").as("rank"),
        col("o_custkey").as("id"), col("w").cast("double").as("value"))
      .orderBy(col("prio"), col("period"), col("rank"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"segmented leaderboard routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  /** Graded: the SQL-TEXT bridge dashboard — q297's seven-column MRR
    * decomposition as a literal SQL string (CTEs, NOT EXISTS for the
    * churn/resurrected anti-conditions — exactly how a BI layer or an
    * analyst writes it): `RewritePredicateSubquery` lowers NOT EXISTS
    * to the LeftAnti joins and `PushDownLeftSemiAntiJoin` pushes them
    * below the per-(id, week) aggregation, landing on the same
    * optimized shapes [[CubeAdvisor.analyzeValueBridge]] matches — so
    * the text form routes END TO END with no DataFrame in sight.
    * Plan hard-asserted cube-only; same full DuckDB oracle as q297. */
  def q301SqlBridgeDashboardRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    spark.read.parquet(srcDir)
      .createOrReplaceTempView("bridge_route_orders")
    val q = spark.sql("""
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(CAST(datediff(o_orderdate, DATE '1970-01-01')
            AS BIGINT) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM bridge_route_orders
        WHERE o_custkey IS NOT NULL
        GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS fp FROM g GROUP BY 1),
      ps AS (SELECT DISTINCT p FROM g),
      rev AS (SELECT p, sum(w) AS v FROM g GROUP BY 1),
      prevrev AS (SELECT p + 1 AS p, sum(w) AS v FROM g GROUP BY 1),
      newv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND g.p = f.fp GROUP BY 1),
      resv AS (SELECT cur.p, sum(cur.w) AS v FROM g cur
               JOIN f ON f.id = cur.id AND f.fp < cur.p
               WHERE NOT EXISTS (SELECT 1 FROM g prv
                 WHERE prv.id = cur.id AND prv.p = cur.p - 1)
               GROUP BY 1),
      delta AS (SELECT cur.p,
          sum(greatest(cur.w - prv.w, CAST(0 AS DECIMAL(18,2)))) AS e,
          sum(greatest(prv.w - cur.w, CAST(0 AS DECIMAL(18,2)))) AS c
        FROM g cur JOIN g prv
          ON prv.id = cur.id AND prv.p = cur.p - 1
        GROUP BY 1),
      chu AS (SELECT prv.p + 1 AS p, sum(prv.w) AS v FROM g prv
              WHERE NOT EXISTS (SELECT 1 FROM g cur
                WHERE cur.id = prv.id AND cur.p = prv.p + 1)
              GROUP BY 1)
      SELECT ps.p AS period,
        coalesce(CAST(rev.v AS DOUBLE), 0D) AS revenue,
        coalesce(CAST(prevrev.v AS DOUBLE), 0D) AS prev_revenue,
        coalesce(CAST(newv.v AS DOUBLE), 0D) AS new_value,
        coalesce(CAST(resv.v AS DOUBLE), 0D) AS resurrected_value,
        coalesce(CAST(delta.e AS DOUBLE), 0D) AS expansion,
        coalesce(CAST(delta.c AS DOUBLE), 0D) AS contraction,
        coalesce(CAST(chu.v AS DOUBLE), 0D) AS churned_value
      FROM ps
      LEFT JOIN rev ON rev.p = ps.p
      LEFT JOIN prevrev ON prevrev.p = ps.p
      LEFT JOIN newv ON newv.p = ps.p
      LEFT JOIN resv ON resv.p = ps.p
      LEFT JOIN delta ON delta.p = ps.p
      LEFT JOIN chu ON chu.p = ps.p
      ORDER BY 1""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"SQL-text bridge routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  /** Graded: TIME-TO-CONVERT routing — q278's conversion-lag
    * histogram written RAW (the full view→click→purchase min-chain
    * joined to its own first stage, `t_3 − t_1` re-counted per lag —
    * the "median days to convert" feeder query), silently rewritten
    * to [[CubeService.getTimeToConvert]]'s bitmap algebra over the
    * registered day+step cube ([[CubeAdvisor.analyzeTimeToConvert]]):
    * first-step-1 frames F_p (strict prefix ANDNOT) paired with
    * newly-converted frames N_q (the cascade's monotone converted-by
    * set differenced), one AND-cardinality per (p, q ≥ p) pair summed
    * per lag. Plan hard-asserted cube-only; FULL DuckDB oracle
    * recomputes the min-chain + subtraction raw. 100 TB split: the
    * raw plan pays K source joins plus the per-id re-count per
    * refresh; the routed serve is one cascade pass plus a triangle
    * walk over |periods| one-row cube-derived frames. */
  def q299TimeToConvertRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def ev(s: String) = src.filter(col("event_type") === s)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
    def stage(prev: DataFrame, s: String, t: String, pt: String) =
      ev(s).as("e").join(prev.as("pv"),
          col("e.user_id") === col("pv.user_id") &&
            col("e.p") >= col(s"pv.$pt"))
        .groupBy(col("e.user_id")).agg(min(col("e.p")).as(t))
    val s1 = ev("view").groupBy(col("user_id"))
      .agg(min(col("p")).as("t1"))
    val s3 = stage(stage(s1, "click", "t2", "t1"), "purchase", "t3",
      "t2")
    val q = s3.as("k").join(s1.as("f"),
        col("k.user_id") === col("f.user_id"))
      .groupBy((col("k.t3") - col("f.t1")).as("lag_periods"))
      .agg(count(lit(1)).as("converted"))
      .orderBy(col("lag_periods"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"time-to-convert routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q303
  /** Graded: COHORT-MATRIX (count-distinct heatmap) ROUTING — the
    * single most common cohort SQL in existence (every BI tool's
    * retention triangle: distinct (id, day) activity pairs joined to
    * a per-id min-day frame, count(DISTINCT id) per (cohort, age))
    * written RAW over a registered source, silently rewritten by
    * [[CubeRewriteRule]] to [[CubeService.getCohortMatrix]]'s bitmap
    * algebra ([[CubeAdvisor.analyzeCohortMatrix]] →
    * `CubeRewrite.buildCohortMatrixServe`): new_w = P_w ANDNOT
    * prefixOR(P_{<w}) IS the min frame's cohort partition, each
    * (cohort, offset) cell one AND-cardinality merge. Plan
    * hard-asserted cube-only; FULL DuckDB oracle recomputes the
    * heatmap from raw events. 100 TB split: the raw plan shuffles
    * every (id, day) pair TWICE per refresh (min reduce, then the
    * join + distinct recount); the routed serve is one pass to
    * |days| one-row cube-derived bitmaps plus the pair walk. */
  def q303CohortMatrixRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = (unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long")
    val a = src.select(col("user_id"), pExpr.as("p")).distinct()
    val f = src.groupBy(col("user_id")).agg(min(pExpr).as("cohort"))
    val q = a.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(countDistinct(col("user_id")).as("active"))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"cohort-matrix routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q304
  /** Graded: CALENDAR-MONTH cohort-matrix routing — q303's heatmap
    * with `year*12 + month` INTEGER ORDINALS over seven years of
    * orders ("of customers whose first order was month m, how many
    * ordered k months later" — the standard SaaS retention heatmap),
    * collapsed from the registered DAY-dimmed cube's cells to the
    * user's exact ordinals, every December→January edge load-bearing.
    * Plan hard-asserted cube-only; FULL DuckDB oracle recomputes the
    * monthly triangle raw. */
  def q304CalendarCohortMatrixRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def mExpr = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    val a = src.select(col("o_custkey"), mExpr.as("m")).distinct()
    val f = src.groupBy(col("o_custkey")).agg(min(mExpr).as("cohort"))
    val q = a.join(f, "o_custkey")
      .groupBy(col("cohort"), (col("m") - col("cohort")).as("offset"))
      .agg(countDistinct(col("o_custkey")).as("active"))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"calendar cohort-matrix routing did not fire (or still reads " +
        s"the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q305
  /** Graded: STRING-KEYED cohort-matrix routing — q303's heatmap with
    * the id in its most common real-world shape (a string customer
    * key), served from the DICTIONARY bitmaps of the registered cube:
    * the dense dictionary ids are injective and the served matrix is
    * id-free, so no translation ever happens at read time (the q294
    * discipline applied to the count family). Plan hard-asserted
    * cube-only; FULL DuckDB oracle recomputes the weekly triangle
    * over the raw string keys. */
  def q305DictCohortMatrixRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = dictValRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("o_orderdate")).cast("double")
      / 86400).cast("long").cast("double") / 7).cast("long")
    val a = src.select(col("ck_s"), pExpr.as("p")).distinct()
    val f = src.groupBy(col("ck_s")).agg(min(pExpr).as("cohort"))
    val q = a.join(f, "ck_s")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(countDistinct(col("ck_s")).as("active"))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"string-keyed cohort-matrix routing did not fire (or still " +
        s"reads the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q306
  private val chainRouteSetup =
    TrieMap.empty[(SparkSession, String), (CubeService, String, String, String)]
  private def chainRouteAll(spark: SparkSession,
      sfDir: String): (CubeService, String, String, String) =
    chainRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_chainroute").toString
      // narrow projections — edge keys + referenced columns only (the
      // 100 TB discipline: the maintained states carry exactly what
      // the cube's dims/measures read)
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .write.parquet(s"$dir/ord")
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"))
        .write.parquet(s"$dir/lin")
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.parquet(s"$dir/cus")
      val svc = new CubeService(spark, dir)
      val cfg = ChainCubeConfig(
        CubeConfig("chain_route", "orders ⋈ lineitem ⋈ customer",
          dims = Seq(FieldDim("seg", "c_mktsegment"),
            TimeDim("day", "o_orderdate", "day")),
          measures = Seq(Measure("rev", "l_extendedprice")),
          bitmaps = Seq(Measure("s", "l_suppkey")),
          // q312: per-supplier additive partials — the chain's
          // cohort-value family
          weighted = Seq(WeightedMeasure("srev", "l_suppkey",
            "l_extendedprice"))),
        edges = Seq(("o_orderkey", "l_orderkey"),
          ("o_custkey", "c_custkey")))
      val cc = svc.createChainCube(cfg,
        Seq(spark.read.parquet(s"$dir/ord"),
          spark.read.parquet(s"$dir/lin"),
          spark.read.parquet(s"$dir/cus")))
      CubeCatalog.install(spark)
      CubeCatalog.registerChain(s"chain_route@$sfDir", cc,
        Seq(s"$dir/ord", s"$dir/lin", s"$dir/cus"))
      (svc, s"$dir/ord", s"$dir/lin", s"$dir/cus")
    })

  // --------------------------------------------------------------- q311
  private val advisedChainSetup =
    TrieMap.empty[(SparkSession, String), (String, String, String)]
  private def advisedChainSources(spark: SparkSession,
      sfDir: String): (String, String, String) =
    advisedChainSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_advchain").toString
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .write.parquet(s"$dir/ord")
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.parquet(s"$dir/lin")
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.parquet(s"$dir/cus")
      val paths = (s"$dir/ord", s"$dir/lin", s"$dir/cus")
      // the honesty loop on the CHAIN family: advise on the raw
      // three-way rollup, materialize the recommendation VERBATIM,
      // register — the raw plan must then route
      val advice = CubeAdvisor.advise(
        Seq(advisedChainRollup(spark, paths)), "advch311")
      require(advice.chains.size == 1 && advice.uncovered.isEmpty,
        s"chain advice did not recognize the workload: $advice")
      val rec = advice.chains.head
      require(rec.paths.size == 3 && rec.config.edges.size == 2,
        s"unexpected chain recommendation: $rec")
      val cc = ChainCubeManager.create(rec.config,
        rec.paths.map(spark.read.parquet(_)))
      CubeManager.save(cc.cube, dir)
      CubeCatalog.install(spark)
      CubeCatalog.registerChain(s"advch311@$sfDir",
        cc.copy(cube = CubeManager.load(spark, dir,
          rec.config.cube.name)), rec.paths)
      paths
    })

  /** The advised workload AND the graded serve: q306's star rollup
    * over the fixture's own relation dirs, built identically on both
    * sides of the honesty loop. */
  private def advisedChainRollup(spark: SparkSession,
      paths: (String, String, String)): DataFrame =
    spark.read.parquet(paths._1)
      .join(spark.read.parquet(paths._2),
        col("o_orderkey") === col("l_orderkey"))
      .join(spark.read.parquet(paths._3),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .select(col("c_mktsegment").as("seg"),
        col("m").cast("long").as("month_s"), col("revenue"), col("n"))
      .orderBy(col("seg"), col("month_s"))

  /** Graded: the ADVISED chain MV — the honesty loop on the 3+-table
    * family (q285's discipline applied to chains): `CubeAdvisor`
    * recognizes the raw star rollup as a CHAIN-MV workload
    * (`chainSourceOf` flattens the join tree and LINEARIZES the edges
    * into ChainCubeManager's prefix order), the recommendation is
    * materialized VERBATIM and registered, and the same raw plan then
    * routes to the advised cube — FULL DuckDB oracle recomputes the
    * rollup over the raw three-way join, so the hash proves the whole
    * advise → materialize → route loop exact. */
  def q311AdvisedChainRollup(spark: SparkSession,
      sfDir: String): DataFrame = {
    val paths = advisedChainSources(spark, sfDir)
    val q = advisedChainRollup(spark, paths)
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      !scans.exists(s => s.endsWith("/ord") || s.endsWith("/lin") ||
        s.endsWith("/cus")),
      s"advised chain rollup did not route (or still reads the " +
        s"relations); scans=$scans")
    q
  }

  /** Graded: THREE-TABLE rollup routed to a CHAINED JOIN MV — the
    * star-schema dashboard query (`orders ⋈ lineitem ⋈ customer`,
    * revenue by market segment and order month) silently rewritten by
    * [[CubeRewriteRule]] to the maintained chain cube
    * ([[ChainCubeManager]]): the matcher FLATTENS the join tree (inner
    * equi-joins are associative, so any parenthesization of the same
    * relations under the same keys matches), and the month grouping
    * re-truncates the cube's day cells — the time-hierarchy roll-up
    * over the chain. Plan hard-asserted to scan ONLY the `.cmv`
    * version dir; FULL DuckDB oracle recomputes the rollup over the
    * raw three-way join. 100 TB split: the raw plan pays TWO fact
    * joins per refresh (lineitem ⋈ orders ⋈ customer — the biggest
    * shuffle in any TPC-H-shaped dashboard); the routed serve reads
    * |segments|·|days| cube cells, and maintenance folds each delta
    * against key-matching state slices only. */
  def q306ChainRollupRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (_, ord, lin, cus) = chainRouteAll(spark, sfDir)
    val q = spark.read.parquet(ord)
      .join(spark.read.parquet(lin),
        col("o_orderkey") === col("l_orderkey"))
      .join(spark.read.parquet(cus),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .select(col("c_mktsegment").as("seg"),
        col("m").cast("long").as("month_s"), col("revenue"), col("n"))
      .orderBy(col("seg"), col("month_s"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".cmv/")),
      s"chain rollup routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q307
  /** Graded: ROLLING exact-distinct over the CHAINED MV — the
    * trailing-7-day active-supplier curve by order day
    * ([[CubeService.getChainRolling]] with the `s` bitmap): the cohort
    * verbs run over a chain cube's daily bitmap partials exactly as
    * they do over single-table and binary-join cubes, because the
    * chain maintains the same partial families through the composed
    * delta-join fold. FULL DuckDB oracle recomputes every trailing
    * window from the raw three-way join (bitmap union is lossless). */
  def q307ChainRollingDistinct(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (svc, _, _, _) = chainRouteAll(spark, sfDir)
    svc.getChainRolling("chain_route", "day", windowDays = 7,
        exactDistinctOf = Seq("s"))
      .select(col("day"), col("n_exact_s").as("n_supps_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q314
  /** Graded: the SEGMENTED cohort matrix — q248's count-distinct
    * retention triangle PER ORDER PRIORITY
    * ([[CubeService.getCohortMatrix]] segmentBy): each segment's
    * cohorts, first-seen ANDNOT walks and AND-cardinality cells
    * compute within ITS OWN period bitmaps (a customer's first URGENT
    * week is independent of their first LOW week — the per-segment
    * cohort question every sliced retention dashboard asks; the count
    * twin of q293). ~5 priorities × weekly triangles over seven
    * years; DuckDB recomputes every (segment, cohort, offset) cell
    * with segment-keyed first-seen frames. At scale the windows and
    * pair walks partition per segment cell. */
  def q314SegmentedCohortMatrix(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getCohortMatrix("cal_fun", "day", "c", periodDays = 7,
      segmentBy = Seq("prio"))
  }

  // --------------------------------------------------------------- q315
  private val chainTtSetup =
    TrieMap.empty[(SparkSession, String),
      (CubeService, String, String, String)]
  private def chainTtAll(spark: SparkSession, sfDir: String)
      : (CubeService, String, String, String) =
    chainTtSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_chaintt").toString
      val svc = new CubeService(spark, dir, retainJmvVersions = 3)
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.parquet(s"$dir/ord")
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_returnflag"))
        .write.parquet(s"$dir/lin")
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.parquet(s"$dir/cus")
      val cfg = ChainCubeConfig(
        CubeConfig("chain_tt", "orders ⋈ lineitem ⋈ customer",
          dims = Seq(FieldDim("seg", "c_mktsegment"),
            FieldDim("rf", "l_returnflag")),
          measures = Seq(Measure("rev", "l_extendedprice"))),
        edges = Seq(("o_orderkey", "l_orderkey"),
          ("o_custkey", "c_custkey")))
      def lin = spark.read.parquet(s"$dir/lin")
      svc.createChainCube(cfg,                                   // v0
        Seq(spark.read.parquet(s"$dir/ord"),
          lin.filter(col("l_orderkey") % 7 =!= 3),
          spark.read.parquet(s"$dir/cus")))
      svc.updateChainAggregates("chain_tt", Seq(                 // v1
        1 -> lin.filter(col("l_orderkey") % 7 === 3)
          .withColumn("_sign", lit(1L))))
      (svc, s"$dir/ord", s"$dir/lin", s"$dir/cus")
    })

  /** Graded: CHAIN-MV TIME TRAVEL — the three-table rollup served
    * from RETAINED VERSION 0 of a once-folded chain MV
    * ([[CubeService.getChainAggregatesAsOf]]): version dirs are
    * complete consistent (cube, edge list, state0..N) tuples under
    * the same deferred-GC manifest discipline as join MVs, so
    * "rerun yesterday's dashboard against yesterday's chain" is one
    * retained read. FULL DuckDB oracle recomputes the rollup from the
    * rows the version-0 slice contained. */
  def q315ChainTimeTravel(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (svc, _, _, _) = chainTtAll(spark, sfDir)
    svc.getChainAggregatesAsOf("chain_tt", 0, Seq("seg", "rf"),
        sumOf = Seq("rev"))
      .select(col("seg"), col("rf"),
        col("sum_rev").cast("double").as("revenue"),
        col("n_rows").as("n"))
      .orderBy(col("seg"), col("rf"))
  }

  // --------------------------------------------------------------- q312
  /** Graded: COHORT VALUE over the CHAINED MV — q283's supplier-LTV
    * matrix extended to the three-table join ("revenue by supplier
    * cohort week and weeks since first sale" over
    * `orders ⋈ lineitem ⋈ customer`): the weight-map partials ride the
    * COMPOSED delta-join fold like every other measure family
    * (multiplicity signs from any relation's delta accumulate
    * natively), so the maintained chain serves the matrix with no
    * fact join at read time. FULL DuckDB oracle recomputes
    * per-(supplier, week) revenue over the raw three-way join. */
  def q312ChainCohortValue(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (svc, _, _, _) = chainRouteAll(spark, sfDir)
    svc.getChainCohortValue("chain_route", "day", "srev",
      periodDays = 7)
  }

  // --------------------------------------------------------------- q313
  /** Graded: the SQL-TEXT chain rollup — q306's star-schema dashboard
    * in the form BI layers actually emit (a literal three-way JOIN
    * over temp views): the text parses to the same inner equi-join
    * tree the DataFrame form builds, so [[CubeRewriteRule]]'s
    * flatten-and-match fires on it unchanged — the q242/q287/q300
    * authorship-path discipline extended to chains. Plan hard-asserted
    * `.cmv`-only; the same FULL DuckDB oracle as q306. */
  def q313SqlChainRollupRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (_, ord, lin, cus) = chainRouteAll(spark, sfDir)
    spark.read.parquet(ord).createOrReplaceTempView("chain_ord")
    spark.read.parquet(lin).createOrReplaceTempView("chain_lin")
    spark.read.parquet(cus).createOrReplaceTempView("chain_cus")
    val q = spark.sql("""
      SELECT c_mktsegment AS seg,
        CAST(date_trunc('month', o_orderdate) AS LONG) AS month_s,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM chain_ord
      JOIN chain_lin ON o_orderkey = l_orderkey
      JOIN chain_cus ON o_custkey = c_custkey
      GROUP BY c_mktsegment, date_trunc('month', o_orderdate)
      ORDER BY seg, month_s""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".cmv/")),
      s"SQL-text chain rollup routing did not fire (or still reads " +
        s"the sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q316
  /** Graded: RETENTION routing over the CHAINED MV — the last cell of
    * the routing matrix: q261's raw distinct-pair self-join cohort
    * plan ("of week p−1's suppliers, how many shipped again in p")
    * written over the THREE-table join `orders ⋈ lineitem ⋈ customer`.
    * [[CubeAdvisor]]'s pair-side source resolution collapses each
    * side's 3-relation inner equi-join tree to its order-canonical
    * chain key (`cohortSourceOf`), and the rewrite serves the AND-walk
    * from the registered chain cube's per-day supplier bitmaps — the
    * chain fold maintains the same bitmap partials as a single-table
    * cube, so the cohort serve machinery applies unchanged. Plan
    * hard-asserted to scan ONLY the `.cmv` version dir; FULL DuckDB
    * oracle recomputes the self-join retention over the raw three-way
    * join. 100 TB split: the raw plan pays TWO fact joins plus two
    * shuffles of the distinct pairs per refresh; the routed serve is
    * |periods| one-row bitmap merges off the maintained chain. */
  def q316ChainRetentionRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (_, ord, lin, cus) = chainRouteAll(spark, sfDir)
    val up = spark.read.parquet(ord)
      .join(spark.read.parquet(lin),
        col("o_orderkey") === col("l_orderkey"))
      .join(spark.read.parquet(cus),
        col("o_custkey") === col("c_custkey"))
      .select(col("l_suppkey"),
        floor((unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val q = up.as("cur").join(up.as("prev"),
        col("cur.l_suppkey") === col("prev.l_suppkey") &&
          col("prev.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(countDistinct(col("cur.l_suppkey")).as("retained"))
      .select(col("p").as("period"), col("retained"))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".cmv/")),
      s"chain retention routing did not fire (or still reads the " +
        s"sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q317
  /** Graded: AS-OF CHAIN ROUTING — the q213/q220 version-pinned
    * optimizer discipline on the 3+-table family
    * ([[CubeService.registerChainSourceAsOf]]): the three relation
    * paths are registered to be served from RETAINED VERSION 0 of the
    * once-folded `chain_tt` MV, so TODAY'S raw star rollup silently
    * answers from YESTERDAY'S chain — deliberately answer-changing
    * (that is the point of as-of pinning), with the pin version-keyed
    * so a later fold's registry refresh cannot move it to the head.
    * Plan hard-asserted to scan only the `.cmv` v0 dir; FULL DuckDB
    * oracle recomputes the rollup from exactly the rows version 0
    * contained (the `l_orderkey % 7 <> 3` slice). */
  def q317ChainAsOfRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (svc, ord, lin, cus) = chainTtAll(spark, sfDir)
    CubeCatalog.install(spark)
    svc.registerChainSourceAsOf(s"chain_tt_asof@$sfDir", "chain_tt", 0,
      Seq(ord, lin, cus))
    val q = spark.read.parquet(ord)
      .join(spark.read.parquet(lin),
        col("o_orderkey") === col("l_orderkey"))
      .join(spark.read.parquet(cus),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("l_returnflag"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .select(col("c_mktsegment").as("seg"),
        col("l_returnflag").as("rf"), col("revenue"), col("n"))
      .orderBy(col("seg"), col("rf"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(s =>
        s.contains(".cmv/") && s.contains("/v0")),
      s"as-of chain routing did not fire (or did not pin v0); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q308
  /** Graded: TIME-TO-CONVERT routing over a registered JOIN — q299's
    * raw lag histogram written over `orders ⋈ lineitem` ("how many
    * days from a supplier's first N line to its first subsequent R
    * line": the time column from the LEFT side, the id and step from
    * the RIGHT), routed to the (F, N) bitmap pairing over the
    * registered day+step-dimmed JOIN MV —
    * [[CubeAdvisor.analyzeTimeToConvert]]'s `minChain` resolves the
    * composite join identity exactly like the funnel matcher (q263),
    * so the newest routed family carries its join column too. Plan
    * hard-asserted MV-only; FULL DuckDB oracle recomputes the
    * min-chain subtraction over the raw join. */
  def q308JoinTimeToConvertRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinFunnelRouteSources(spark, sfDir)
    def joined = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
    def pairs(step: String) = joined
      .filter(col("l_returnflag") === step)
      .select(col("l_suppkey"),
        (unix_timestamp(col("o_orderdate")).cast("double") / 86400)
          .cast("long").as("p"))
    val s1 = pairs("N").groupBy(col("l_suppkey"))
      .agg(min(col("p")).as("t1"))
    val s2 = pairs("R").as("e").join(s1.as("pv"),
        col("e.l_suppkey") === col("pv.l_suppkey") &&
          col("e.p") >= col("pv.t1"))
      .groupBy(col("e.l_suppkey"))
      .agg(min(col("e.p")).as("t2"))
    val q = s2.as("k").join(s1.as("f"),
        col("k.l_suppkey") === col("f.l_suppkey"))
      .groupBy((col("k.t2") - col("f.t1")).as("lag_days"))
      .agg(count(lit(1)).as("converted"))
      .orderBy(col("lag_days"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join time-to-convert routing did not fire (or still reads " +
        s"the sources); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q309
  /** Graded: CALENDAR-MONTH windowed-funnel routing — q298's
    * qualified-pair recursion with `year*12 + month` INTEGER ORDINALS
    * and a 1-month qualification window ("converted within a calendar
    * month of the prior step"): the bounded cascade's trailing RANGE
    * window runs over REAL month ordinals, so a December step
    * qualifies a January step exactly (the ±1 adjacency every
    * fixed-30-day approximation drifts from). Routed to the
    * `getFunnel(withinPeriods)` cascade over monthly collapses of the
    * registered day-dimmed cube; plan hard-asserted cube-only; FULL
    * DuckDB oracle recomputes the windowed recursion raw. */
  def q309CalendarWindowFunnelRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def mExpr = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    def ev(s: String) = src.filter(col("o_orderpriority") === s)
      .select(col("o_custkey"), mExpr.as("p"))
    val q1 = ev("1-URGENT").distinct()
    def level(prevQ: DataFrame, s: String) =
      ev(s).as("e").join(prevQ.as("c"),
          col("c.o_custkey") === col("e.o_custkey") &&
            col("c.p") >= col("e.p") - 1 && col("c.p") <= col("e.p"))
        .select(col("e.o_custkey"), col("e.p")).distinct()
    val q3 = level(level(q1, "2-HIGH"), "3-MEDIUM")
    val t = q3.groupBy(col("o_custkey")).agg(min(col("p")).as("t"))
    val months = src.select(mExpr.as("m")).distinct()
    val q = months.join(t, col("t") <= col("m"))
      .groupBy(col("m"))
      .agg(countDistinct(col("o_custkey")).as("converted"))
      .orderBy(col("m"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"calendar windowed-funnel routing did not fire (or still " +
        s"reads the source); scans=$scans")
    q
  }

  /** Graded: the RAW MRR-BRIDGE dashboard routes END TO END — q288's
    * seven-column growth-accounting decomposition written exactly as
    * the BI layer emits it (per-(customer, week) money sums; a
    * first-seen frame; adjacent-week self-joins for the retained
    * deltas, the churn anti-join and the resurrected witness; the
    * observed-week spine left-joined to every term), with EVERY term
    * rewritten in place to a weight-map walk over the registered
    * weighted cube ([[CubeAdvisor.analyzeValueBridge]] → the q269
    * composite-shell discipline): revenue and the spine from the
    * per-week maps, new/churned/resurrected from key-bitmap set
    * algebra, expansion/contraction from one tandem merge-walk per
    * adjacent pair. Plan hard-asserted cube-only — the raw plan's
    * FIVE self-joins of the per-(id, week) frame all disappear; FULL
    * DuckDB oracle recomputes the whole bridge raw. 100 TB split: the
    * raw decomposition shuffles the source's (id, week, value) groups
    * five times per refresh; the routed dashboard reads ~344 one-row
    * cube-derived maps per term. */
  def q297BridgeDashboardRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = firstSeenRouteSource(spark, sfDir)
    // the id-filtered discipline: every term scopes to non-null ids,
    // so the weight maps reproduce each exactly (orders has no null
    // customer, so the filter is a no-op on the data)
    def src = spark.read.parquet(srcDir)
      .filter(col("o_custkey").isNotNull)
    def pExpr = floor((unix_timestamp(col("o_orderdate")).cast("double")
      / 86400).cast("long").cast("double") / 7).cast("long")
    def g = src.groupBy(col("o_custkey"), pExpr.as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
    def f = src.groupBy(col("o_custkey")).agg(min(pExpr).as("fp"))
    val spine = src.select(pExpr.as("p")).distinct()
    val rev = g.groupBy(col("p")).agg(sum(col("w")).as("__rev"))
    val prevRev = g.groupBy((col("p") + 1).as("p"))
      .agg(sum(col("w")).as("__prev"))
    val newV = g.as("g").join(f.as("f"),
        col("g.o_custkey") === col("f.o_custkey") &&
          col("g.p") === col("f.fp"))
      .groupBy(col("g.p")).agg(sum(col("g.w")).as("__new"))
    val resV = g.as("cur").join(g.as("prv"),
        col("cur.o_custkey") === col("prv.o_custkey") &&
          col("prv.p") === col("cur.p") - 1, "left_anti")
      .as("c2").join(f.as("f2"),
        col("f2.o_custkey") === col("c2.o_custkey") &&
          col("f2.fp") < col("c2.p"))
      .groupBy(col("c2.p")).agg(sum(col("c2.w")).as("__res"))
    val delta = g.as("cur").join(g.as("prv"),
        col("cur.o_custkey") === col("prv.o_custkey") &&
          col("prv.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(sum(greatest(col("cur.w") - col("prv.w"),
        lit(0).cast("decimal(18,2)"))).as("__exp"),
        sum(greatest(col("prv.w") - col("cur.w"),
          lit(0).cast("decimal(18,2)"))).as("__con"))
    val churn = g.as("prv").join(g.as("cur"),
        col("cur.o_custkey") === col("prv.o_custkey") &&
          col("cur.p") === col("prv.p") + 1, "left_anti")
      .groupBy((col("p") + 1).as("p"))
      .agg(sum(col("w")).as("__chu"))
    def money(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("double"), lit(0.0))
    val q = spine
      .join(rev, Seq("p"), "left_outer")
      .join(prevRev, Seq("p"), "left_outer")
      .join(newV, Seq("p"), "left_outer")
      .join(resV, Seq("p"), "left_outer")
      .join(delta, Seq("p"), "left_outer")
      .join(churn, Seq("p"), "left_outer")
      .select(col("p").as("period"),
        money(col("__rev")).as("revenue"),
        money(col("__prev")).as("prev_revenue"),
        money(col("__new")).as("new_value"),
        money(col("__res")).as("resurrected_value"),
        money(col("__exp")).as("expansion"),
        money(col("__con")).as("contraction"),
        money(col("__chu")).as("churned_value"))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"bridge dashboard routing did not fire (or still reads the " +
        s"source); scans=$scans")
    q
  }

  /** Graded: STRING-KEYED cohort-value ROUTING — q284's raw LTV matrix
    * with the id in its most common real-world shape (a string
    * customer key), silently rewritten to the weight-map serve of a
    * registered DICT-weighted cube: [[CubeAdvisor.analyzeCohortValue]]
    * no longer refuses non-integral ids (r16), because the binding
    * target's maps already key the `dictBitmaps` dictionary's dense
    * ids ([[CubeManager.weightedIdCol]] — injective by construction)
    * and the served matrix is id-free, so no translation ever happens
    * at read time; cube creation still refuses a non-integral weighted
    * id with NO dictionary, which keeps the honesty contract at the
    * same place the verb family holds it (q291). Plan hard-asserted
    * cube-only; FULL DuckDB oracle recomputes the weekly matrix over
    * the raw string keys. 100 TB split: identical to q284's — the raw
    * plan shuffles every (string id, week, value) group twice per
    * refresh; the routed serve reads ~340 one-row cube-derived maps,
    * and the dictionary build amortizes over the cube's lifetime. */
  def q294DictCohortValueRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val srcDir = dictValRouteSource(spark, sfDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("o_orderdate")).cast("double")
      / 86400).cast("long").cast("double") / 7).cast("long")
    val g = src.groupBy(col("ck_s"), pExpr.as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
    val f = src.groupBy(col("ck_s")).agg(min(pExpr).as("cohort"))
    val q = g.join(f, "ck_s")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active"),
        sum(col("w")).cast("double").as("value"))
      .orderBy(col("cohort"), col("offset"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && !scans.exists(_.endsWith("/source")),
      s"string-keyed cohort-value routing did not fire (or still " +
        s"reads the source); scans=$scans")
    q
  }

  // --------------------------------------------------------------- q293
  /** Graded: the SEGMENTED LTV matrix — q281's cohort-value triangle
    * PER ORDER PRIORITY ([[CubeService.getCohortValue]] segmentBy):
    * each segment's cohorts, first-seen walks and pair cells compute
    * within ITS OWN weight maps (a customer's first URGENT week is
    * independent of their first LOW week — the per-segment cohort
    * question every sliced dashboard asks). ~5 priorities × weekly
    * matrices over seven years; the DuckDB oracle recomputes every
    * (segment, cohort, offset) cell with segment-keyed first-seen
    * frames. At scale the windows and pair walks partition per
    * segment cell — no single task grows with segment count. */
  def q293SegmentedCohortValue(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getCohortValue("cal_fun", "day", "ltv", periodDays = 7,
      segmentBy = Seq("prio"))
  }

  // --------------------------------------------------------------- q290
  /** Graded: EXACT TOP SPENDERS per week ([[CubeService
    * .getTopSpenders]]) — the per-entity leaderboard from maintained
    * weight-map partials with NO sketch: where the CMS freq family
    * estimates heavy hitters by occurrence, this ranks by exact NET
    * VALUE (the map carries every customer's weekly revenue), so the
    * whole board hash-matches a ROW_NUMBER() recompute, ties
    * resolved identically (value desc, id asc). ~344 weekly top-5
    * boards over seven years of orders. 100 TB split: the raw twin
    * re-ranks the per-(id, period) frame per refresh; the serve is a
    * bounded O(|map|·k) selection per |periods| one-row maps, and the
    * sharded twin selects per shard first (the global top-k is inside
    * the per-shard unions since shards partition the id space). */
  def q290TopSpenders(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getTopSpenders("cal_ret", "day", "ltv", k = 5, periodDays = 7)
  }

  // --------------------------------------------------------------- q281
  /** Graded: the COHORT VALUE matrix ([[CubeService.getCohortValue]])
    * — revenue by cohort age, the LTV heatmap and the ADDITIVE half of
    * the growth dashboard the count-distinct families cannot express:
    * for each weekly cohort (customers whose FIRST order fell in week
    * w) and offset k, how many of them ordered in week w+k and what
    * those orders summed to. Served from maintained WEIGHT-MAP
    * partials ([[CubeConfig.weighted]] — id → net count, net scaled
    * weight per day cell): pointwise addition is lossless AND
    * sign-invertible, so the family is delete-capable without source
    * access (no latch — the one per-id family that keeps serving
    * through deletes). First-seen sets ride the maps' own key bitmaps
    * through the cohort-triangle prefix-ANDNOT walk; each (cohort,
    * offset) cell is one merge-walk over two one-row blobs. The
    * DuckDB oracle recomputes per-(customer, week) sums, first-seen
    * weeks, and the cohort-age rollup from raw orders — full hash
    * gate on ~340 weekly cohorts. 100 TB split: the raw twin re-joins
    * a per-id min frame against every (id, period, value) group per
    * refresh; the serve is one pass to |periods| one-row maps plus a
    * |periods|²/2 pair walk over cube-derived frames, never the
    * source. */
  def q281CohortValue(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getCohortValue("cal_ret", "day", "ltv", periodDays = 7)
  }

  // --------------------------------------------------------------- q282
  /** Graded: CALENDAR-month cohort value — q281's LTV matrix in the
    * vocabulary real dashboards use ("cohort month × months since
    * first purchase"): cohort and offset key on the month's integer
    * ordinal ([[CubeService.getCohortValueCalendar]], the
    * getRetentionCalendar discipline), so offset 1 from a December
    * cohort is exactly January and a 28-day February is one month
    * like any other — semantics a fixed periodDays = 30 drifts from
    * across the corpus's seven years. Same weight-map algebra as
    * q281; the oracle recomputes the monthly ordinals raw. */
  def q282CohortValueCalendar(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getCohortValueCalendar("cal_ret", "day", "ltv", "month")
  }

  /** Graded: CALENDAR-month retention — the full customer cohort
    * matrix (active / prev_active / retained / churned / new) by REAL
    * calendar month from one day-dimmed bitmap cube
    * ([[CubeService.getRetentionCalendar]]). The period key is the
    * month ordinal (year·12 + month − 1), so Dec → Jan adjacency is
    * exact integer contiguity and a skipped calendar month gates to
    * nulls — semantics a fixed `periodDays = 30` approximation drifts
    * from within a year (months are 28-31 days). `period_start`
    * labels each bucket's first day; the DuckDB oracle recomputes the
    * matrix with the same ordinal from raw orders. 100 TB split:
    * identical to q225 — one pass to |months| one-row bitmaps, lag
    * over that tiny frame. */
  def q238CalendarRetention(spark: SparkSession,
      sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getRetentionCalendar("cal_ret", "day", "c", "month")
  }

  // --------------------------------------------------------------- q239
  /** Graded: CUMULATIVE lifetime curves served from maintained daily
    * partials ([[CubeService.getCumulative]]) — for every observed
    * day, the EXACT all-time unique-user count (prefix-OR of the
    * per-day bitmap partials — bitmap union is lossless, so the curve
    * hash-matches a from-scratch min-first-seen recompute), the
    * first-seen-today increment (the curve's discrete derivative — a
    * metric that needs a min-date-per-id pass from raw data but falls
    * out of the prefix union for free), and the running revenue total
    * (decimal-exact window sum of the daily sum partials). 100 TB
    * split: one pass over cube-sized partials to |days| one-row
    * partials, then an INCREMENTAL unbounded-preceding window over
    * that tiny frame — O(|days|) bitmap merges, never O(|days|²), and
    * never the source; the sharded twin
    * ([[CubeConfig.bitmapShardBits]]) windows per shard and sums
    * cardinalities back (pinned bit-identical in CubeServiceSpec). */
  def q239CumulativeUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getCumulative("rolling_mm", "day",
      sumOf = Seq("v"), exactDistinctOf = Seq("u"))
  }

  // --------------------------------------------------------------- q240
  /** Graded: YTD (calendar-reset) cumulative curves — q239's verb with
    * `resetBy = "year"` over seven years of orders: every curve
    * restarts at Jan 1, so `cum_exact_c` is "distinct customers so far
    * THIS YEAR", `new_exact_c` "customers first seen this year today",
    * `cum_sum_rev` the running YTD revenue. The reset partitions the
    * prefix windows by the calendar-year ordinal (the
    * getRetentionCalendar bucket discipline), so year boundaries are
    * exact and a year's first observed day restarts at its own count —
    * semantics a fixed-width window cannot express. The DuckDB oracle
    * recomputes per-(year, customer) first-seen days and per-year
    * running sums from raw orders. */
  def q240YtdCumulative(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getCumulative("cal_ret", "day",
      sumOf = Seq("rev"), exactDistinctOf = Seq("c"),
      resetBy = Some("year"))
  }

  // --------------------------------------------------------------- q241
  /** Graded: the ORDERED FUNNEL (view → click → purchase) served from
    * maintained daily bitmap partials ([[CubeService.getFunnel]]): for
    * every observed period and step k, the EXACT count of users who
    * completed steps 1..k in order by that period. The serve is a
    * cascade of prefix-unions — C_1 = prefixOR(B_view), C_k =
    * prefixOR(B_k ∩ C_{k−1}) — which by induction equals the
    * min-conversion-time recursion (t_k = min period ≥ t_{k−1} with
    * step-k activity) the DuckDB oracle computes from raw events with
    * chained min-joins; bitmap intersection is lossless, so every cell
    * hash-matches. Same-period completion counts (period granularity
    * cannot order within a period — the documented semantics of every
    * period-bucketed funnel; CubeServiceSpec pins the edge cases,
    * including out-of-order activity NOT counting). 100 TB split: the
    * raw recursion re-joins the source per step per refresh; the serve
    * is |steps| incremental window passes over a |periods| frame of
    * cube-derived bitmaps — and the sharded twin runs the cascade per
    * shard (pinned bit-identical). */
  def q241FunnelBitmap(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getFunnel("rolling_seg", "day", "u", "etype",
      Seq("view", "click", "purchase"))
  }

  // --------------------------------------------------------------- q278
  /** Graded: TIME-TO-CONVERT histogram
    * ([[CubeService.getTimeToConvert]]) — "how long does the
    * view → click → purchase funnel take": for every converted user
    * the EXACT lag `t_3 − t_1` between the first view day and the
    * conversion day under q241's min-chain semantics, as
    * `(lag_periods, converted)` rows. Served from the same daily
    * bitmap partials: F_p = first-view bitmaps (ANDNOT the strict
    * prefix), N_p = newly-converted bitmaps (the cascade's monotone
    * converted-by set differenced against its predecessor), histogram
    * cell = Σ_p |F_p ∩ N_{p+lag}| — each converted id lands in
    * exactly one pair at its true lag, so the DuckDB min-join
    * recursion hash-matches. 100 TB split: the raw twin is the
    * min-join recursion PLUS a per-id subtraction and re-count per
    * refresh; the serve is the cascade's one pass to |periods| frames
    * plus |periods| × maxLag one-row AND-cardinalities — cube-sized,
    * maxLag ≤ 366 (the getEngagement fan-out discipline). */
  def q278TimeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getTimeToConvert("rolling_seg", "day", "u", "etype",
      Seq("view", "click", "purchase"))
  }

  // --------------------------------------------------------------- q245
  /** Graded: SEGMENTED funnel over a JSON-DERIVED segment — q241's
    * cascade per segment cell, where the segment is an [[ExprDim]]
    * computed from the schemaless `props` column (the MongoDB-style
    * dynamic-document grouping the reference's document model implies
    * `[RECON]`): each segment's conversion recursion runs over ITS OWN
    * events and observed periods (a user's events can split across
    * segments — the per-segment cells partition events, not users,
    * and the oracle recomputes the recursion with the same per-segment
    * min-joins). One conditional-aggregation pass regardless of
    * segment count; windows partition per (segment [, shard]), so no
    * single-task frame grows with segments. */
  def q245SegmentedFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getFunnel("funnel_seg", "day", "u", "etype",
      Seq("view", "click", "purchase"), segmentBy = Seq("seg"))
  }

  // --------------------------------------------------------------- q246
  /** Graded: the WINDOWED funnel ("click within 3 days of view,
    * purchase within 3 days of click") — the ClickHouse-windowFunnel
    * semantics, exact from the same daily bitmap partials: a user
    * converts step k at period q iff step-k activity at q follows a
    * step-(k−1) QUALIFICATION at some r ∈ [q−w, q] — ANY chain with
    * adjacent gaps ≤ w counts, including RE-qualification (a user
    * whose first step-1 is too old re-enters by repeating it; pinned
    * in CubeServiceSpec). Mechanics: the qualified set per period is
    * kept as a bitmap column and the "recently qualified" set is a
    * RANGE-frame trailing union over it (calendar gaps age chains out
    * because the frame ranges over the period KEY, not row numbers);
    * the converted curve stays the prefix-union of qualified. The
    * DuckDB oracle materializes the qualified-pair relation per step
    * with windowed chain joins and counts min-qualification times —
    * the set-recursion and the chain-existence recursion are the same
    * predicate, so the matrix hash-matches. `within` large degenerates
    * to q241's unbounded cascade (pinned). */
  def q246WindowFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getFunnel("rolling_seg", "day", "u", "etype",
      Seq("view", "click", "purchase"), withinPeriods = 3)
  }

  // --------------------------------------------------------------- q247
  /** Graded: the EXACT audience-overlap matrix
    * ([[CubeService.getOverlapMatrix]]) — for every pair of event
    * types, |A|, |B|, |A∩B|, both exclusive remainders, and Jaccard,
    * all exact from the same maintained bitmap partials (the
    * hash-gradable twin of q120's HLL overlap): one OR-merged bitmap
    * per dimension value, then one merge-walk per unordered pair —
    * C(|values|,2) one-row operations over cube-derived state; the
    * value-subset knob bounds the quadratic grid by construction. The
    * DuckDB oracle recomputes every cell from distinct (type, user)
    * pairs with a self-join. Jaccard is an integer-ratio double —
    * IEEE division of identical integers, hash-stable across both
    * engines. */
  def q247OverlapMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getOverlapMatrix("rolling_seg", "etype", "u")
  }

  // --------------------------------------------------------------- q248
  /** Graded: the COHORT RETENTION TRIANGLE
    * ([[CubeService.getCohortMatrix]]) — the classic cohort-analysis
    * heatmap: for every cohort day (users FIRST seen that day) and
    * offset k, how many were active k days later, plus the cohort
    * size — all exact from maintained daily bitmap partials: new_w =
    * P_w \ prefixOR(P_{<w}) (bytes-ANDNOT against the lagged running
    * union), cell(w, k) = |new_w ∩ P_{w+k}|. The DuckDB oracle
    * recomputes the triangle from first-seen days with a join back to
    * every (user, day) pair. 100 TB split: the raw twin shuffles the
    * source's distinct pairs twice (min-reduce + join-back) per
    * refresh; the serve is one window pass + a |days|²/2 pair walk
    * over ONE-ROW frames — 30 days here is 465 one-row merge-walks,
    * and a year is ~66k, all cube-derived. */
  def q248CohortMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getCohortMatrix("rolling_mm", "day", "u", periodDays = 1)
  }

  // --------------------------------------------------------------- q249
  /** Graded: CALENDAR-MONTH cohort triangle — q248's heatmap with
    * REAL month cohorts and month-unit offsets over seven years of
    * orders ([[CubeService.getCohortMatrixCalendar]]): the period key
    * is the month ordinal, so offset 1 from a December cohort is
    * exactly January and February is one month like March —
    * semantics a fixed `periodDays = 30` approximation drifts from
    * within a year and compounds across seven (the standard SaaS
    * "cohort month × months since signup" chart needs calendar
    * months, not 30-day buckets). ~80 cohorts × up to 80 offsets,
    * every cell exact and hash-matched against the raw first-seen
    * recompute with the same ordinal. */
  def q249CalendarCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = calRetService(spark, sfDir)
    svc.getCohortMatrixCalendar("cal_ret", "day", "c", "month")
  }

  // --------------------------------------------------------------- q235
  /** Graded: CHURN ROUTING through the optimizer — the raw ANTI-JOIN
    * cohort plan ("of week p's users, how many never showed in p+1",
    * no service verb) over the q228 REGISTERED source rewrites to an
    * ANDNOT-walk over per-period bitmap unions of the registered
    * day-dimmed cube: the [[CubeAdvisor.analyzeRetention]] matcher's
    * LeftAnti arm, orientation read from the adjacency conjunct
    * (absent side FOLLOWS → churn; PRECEDES → new users, pinned in
    * CubeRewriteSpec). The raw anti-join has NO contiguity gate — the
    * last observed period counts fully churned (no p+1 rows exist),
    * which the serve reproduces with a left pairing against the
    * following period's bitmap coalesced to empty. ANDNOT over
    * lossless bitmaps equals the set difference exactly, so the DuckDB
    * NOT EXISTS recompute hash-matches. 100 TB split: the raw plan
    * anti-joins the source's distinct pairs against themselves per
    * refresh; the routed serve is |periods| one-row merges + a tiny
    * left pairing. */
  def q235ChurnRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = rollingRouteSource(spark, sfDir)
    val up = spark.read.parquet(srcDir)
      .select(col("user_id"),
        floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val q = up.as("prev").join(up.as("cur"),
        col("cur.user_id") === col("prev.user_id") &&
          col("cur.p") === col("prev.p") + 1, "left_anti")
      .groupBy(col("p"))
      .agg(countDistinct(col("user_id")).as("churned"))
      .select(col("p").as("period"), col("churned"))
      .orderBy(col("period"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty &&
      scans.forall(_.endsWith("/rolling_route_demo")),
      s"churn routing did not fire (or still reads the source); " +
        s"scans=$scans")
    q
  }

  // --------------------------------------------------------------- q219
  /** Graded: SEGMENTED rolling exact distinct — "WAU per event type",
    * the grouped form of q210 (`getRolling(segmentBy)`): the cube
    * subdivides its daily bitmap partials per segment cell, each
    * segment's trailing windows merge ITS observed days' partials
    * (endpoints are per-segment observed days — a day where a segment
    * is silent is not an endpoint of that segment's curve), and
    * because bitmap union is lossless every (segment, day) value
    * equals the from-scratch re-count. One hash aggregate to per-
    * (segment, day) partials + a broadcast endpoint semi-join — the
    * per-cohort engagement dashboard at 100 TB, never re-shuffling
    * events per segment or per refresh. */
  def q219RollingSegmented(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRolling("rolling_seg", "day", windowDays = 7,
        exactDistinctOf = Seq("u"), segmentBy = Seq("etype"))
      .select(col("etype"), col("day"), col("n_exact_u").as("n_users_7d"))
      .orderBy(col("etype"), col("day"))
  }

  // --------------------------------------------------------------- q225
  /** Graded: the RETENTION/CHURN matrix served from maintained daily
    * bitmap partials — the first SET-ALGEBRA serve (the union-only
    * families can answer "how many", never "how many CAME BACK"):
    * [[CubeService.getRetention]] ANDs each period's OR-merged bitmap
    * against the prior period's, emitting active / prev_active /
    * retained (p ∩ p−1) / churned (p−1 \ p) / new_ids (p \ p−1) — all
    * five EXACT, because bitmap union is lossless and the pairwise
    * AND/ANDNOT walks are set identities. The DuckDB oracle recomputes
    * every cell with a distinct self-join over the raw table and
    * hash-matches. Daily periods (periodDays = 1) keep the curve
    * non-degenerate on this fixture (~130 of 150 users active per day,
    * ~15% churn); the weekly form is the q227 segmented grade. 100 TB
    * split: corpus touched once for |days| daily bitmaps; every serve
    * is |periods| one-row merges + a lag over that tiny frame — the
    * raw twin re-shuffles the source's distinct pairs TWICE (self-join)
    * per refresh. */
  def q225RetentionBitmap(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRetention("rolling_mm", "day", "u", periodDays = 1)
  }

  // --------------------------------------------------------------- q226
  /** Graded: the STICKINESS curve — ids active on EVERY observed day
    * of the trailing 7-day window ([[CubeService.getRolling]]'s
    * `intersectOf` family): daily bitmap partials intersected per
    * endpoint via [[graft.functions.BitmapIntersectAgg]]. Intersection
    * is lossless like union, so each point equals the from-scratch
    * "active all window days" recompute — the DuckDB oracle derives
    * per-(endpoint, user) observed-day counts from the raw table and
    * counts the users matching the window's observed-day total. Same
    * cost shape as the WAU serve (q210): |days|·7 one-row merges, with
    * state that only SHRINKS across the window (the intersect
    * aggregate's buffer is bounded by the first day's bitmap). */
  def q226RollingIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRolling("rolling_mm", "day", windowDays = 7,
        intersectOf = Seq("u"))
      .select(col("day"), col("n_everyday_u").as("n_everyday"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q250
  /** Graded: the ENGAGEMENT-FREQUENCY histogram — the exact L7
    * "power-user curve" ([[CubeService.getEngagement]]): for every
    * observed day, how many users were active exactly k of the
    * trailing window's days, k = 1..7 — the intensity decomposition
    * of the q210 WAU total (Σ_k users = WAU; the k = 7 bucket is
    * q226's stickiness count — both identities pinned in
    * CubeServiceSpec). Served from the SAME maintained daily bitmap
    * partials via [[graft.functions.BitmapKCountAgg]]: per endpoint,
    * the ≤ 7 one-row day bitmaps fold into the occurrence-count
    * partition (N_j = ids active exactly j days — order-independent
    * and MERGEABLE, so the aggregate distributes), and the histogram
    * is the partition's cardinalities. The DuckDB oracle recomputes
    * per-(endpoint, user) active-day counts from raw and histograms
    * them — every bucket exact, full hash gate. 100 TB split: the raw
    * twin re-shuffles (endpoint, user, day) triples — window ×
    * active-users rows — per refresh; the serve is |days| × 7 one-row
    * merges over cube-derived state, with the sharded twin summing
    * per-bucket counts across id-range shards (pinned bit-identical).
    */
  def q250Engagement(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getEngagement("rolling_mm", "day", "u", windowDays = 7)
  }

  // --------------------------------------------------------------- q251
  /** Graded: the GROWTH-ACCOUNTING matrix
    * ([[CubeService.getGrowthAccounting]]) — the four-way user-base
    * decomposition behind the standard growth chart: per day, active
    * splits EXACTLY into new (never seen before — against the
    * PREFIX union, not just yesterday), resurrected (seen before,
    * absent yesterday), and retained (present yesterday), plus the
    * churned outflow; active = new + resurrected + retained holds on
    * every row (the quick-ratio invariant), which [[CubeService
    * .getRetention]] cannot say — its new_ids conflates new with
    * resurrected. All five cells from the same daily bitmap partials:
    * one running-union window (evaluated incrementally) + a lag over
    * the |periods| frame, then five merge-walk cardinalities per row.
    * The DuckDB oracle recomputes from raw with a min-first-seen
    * frame and adjacent self-joins — full hash gate. 100 TB split:
    * the raw twin needs a min-reduce over all (id, day) pairs PLUS
    * two adjacent self-joins per refresh; the serve never touches the
    * source, and the sharded twin windows per id-range shard with
    * counts summed back (pinned bit-identical). */
  def q251GrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getGrowthAccounting("rolling_mm", "day", "u", periodDays = 1)
  }

  // --------------------------------------------------------------- q227
  /** Graded: SEGMENTED weekly retention — q225's matrix per event
    * type (`segmentBy`), each segment's periods and contiguity gates
    * computed within ITS OWN observed weeks, served from the same
    * segment-dimmed cube that feeds q219. Weekly periods are
    * non-degenerate per segment (a user's per-type activity is ~7×
    * sparser than their overall activity); the oracle recomputes every
    * (segment, week) cell with a segment-keyed distinct self-join. At
    * scale the lag window partitions per segment — no single-task
    * frame grows with segment count. */
  def q227SegmentRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRetention("rolling_seg", "day", "u", periodDays = 7,
      segmentBy = Seq("etype"))
  }

  // --------------------------------------------------------------- q194
  /** Graded: ROLLING trailing-window SUM from maintained daily measure
    * partials — the third exact rolling family (after q159's extremes),
    * and the only one that is also DELETE-PROOF: sums add across days
    * and the signed fold keeps net sums exact, so this curve survives
    * a delete history where sketches and extremes trip the insert-only
    * latch. Same cost split as the whole family: corpus touched once
    * for the daily partials, each endpoint is a merge of ≤7 one-row
    * decimals — the trailing-revenue curve at 100 TB. Decimal
    * arithmetic end to end, so the DuckDB oracle recomputing every
    * window from the raw table hash-matches bit-exactly. */
  def q194RollingSum(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = rollingMmService(spark, sfDir)
    svc.getRolling("rolling_mm", "day", windowDays = 7,
        sumOf = Seq("v"), avgOf = Seq("v"))
      .select(col("day"), col("sum_v"), col("avg_v"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q158
  /** Graded: MIN/MAX served BY THE OPTIMIZER from maintained cube
    * partials — the extremes measure family ([[CubeConfig.extremes]])
    * on the graded surface. The query mixes min/max with the sum and
    * count the cube already serves, written as if no MV existed;
    * [[CubeRewriteRule]] swaps min(value) → min(value_min) and
    * max(value) → max(value_max) over the cube's cells (hard-asserted
    * to scan the cube, not the source). Unlike sketch serves these are
    * EXACT — min of per-cell mins IS the row-level min, same type, no
    * estimate — so the DuckDB oracle recomputes from the raw table and
    * the hash compare proves the routed answer bit-identical. Deletes
    * would trip the insert-only latch and refuse (CubeRewriteSpec pins
    * the refusal); this cube is insert-only, so the serve stands. */
  def q158MinmaxRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = routingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/routing_demo")),
      s"min/max MV routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q157
  /** Graded: FILTER-AWARE JOIN-MV routing — the routing matrix's last
    * cell on the graded surface ({single-table, join} × {full rollup,
    * dim-subset, dim-filtered}): q153's join-shaped aggregation with a
    * WHERE on the cube dimension, written as if no MV existed. The
    * optimizer must serve the predicate as a cube-CELL filter on the
    * MV's dimension attribute AND eliminate the fact-to-fact join
    * (hard-asserted: the plan scans only the manifest-current MV). A
    * dim-valued predicate keeps or drops whole cells and σ commutes
    * with the inner join, so σ-then-aggregate over the raw join equals
    * σ-then-re-aggregate over the MV — the DuckDB oracle recomputes
    * the filtered rollup from the raw tables to prove it. */
  def q157JoinFilterRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRouteSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"filter-aware join-MV routing did not fire; scans=$scans")
    q
  }

  /** Graded: the roll-up served from the STREAM-maintained join MV —
    * see [[joinStreamService]]. Oracle = q152's final-state recompute
    * (same slices, different machinery: streaming wire-format decode +
    * per-micro-batch three-frame publish instead of manual folds). */
  def q154JoinMvStream(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = joinStreamService(spark, sfDir)
    svc.getJoinAggregates("join_stream", Seq("prio"), sumOf = Seq("revenue"))
      .select(col("prio"), col("sum_revenue").as("revenue"),
        col("n_rows").as("n"))
      .orderBy(col("prio"))
  }

  // --------------------------------------------------------------- q153
  /** JOIN-MV ROUTING on the graded surface (the q58 story extended to
    * joins): a plain aggregate over the registered inner equi-join of
    * two parquet relations is silently served from the materialized
    * join cube by [[CubeRewriteRule]] — the fact-to-fact join AND its
    * aggregation both disappear from the plan, replaced by a
    * |priorities|-row MV scan (hard-asserted). The DuckDB oracle
    * recomputes the full join rollup from the raw tables, so the hash
    * compare proves the routed answer exact. Setup (per session/sfDir):
    * narrow projections of orders/lineitem land as parquet, a join MV
    * over them is created through the service and registered. */
  private val joinRouteSetup = TrieMap.empty[(SparkSession, String), (String, String)]
  private def joinRouteSources(spark: SparkSession,
      sfDir: String): (String, String) =
    joinRouteSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_jroute").toString
      CubeCatalog.install(spark)
      val oSrc = s"$dir/osrc"
      val lSrc = s"$dir/lsrc"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.parquet(oSrc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.parquet(lSrc)
      val svc = new CubeService(spark, dir)
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_route", "osrc_lsrc",
            dims = Seq(FieldDim("prio", "o_orderpriority")),
            measures = Seq(Measure("revenue", "l_extendedprice"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        spark.read.parquet(oSrc), spark.read.parquet(lSrc))
      CubeCatalog.registerJoin(s"join_route@$sfDir",
        svc.loadJoinCube("join_route"), oSrc, lSrc)
      (oSrc, lSrc)
    })

  // --------------------------------------------------------------- q183
  /** SKETCH MEASURES IN A JOIN MV, optimizer-served: the join cube
    * maintains an HLL partial on `l_suppkey` per priority cell through
    * the SAME delta-join fold that maintains its sums (a sketch is just
    * another mergeable partial to [[CubeManager.applyDeltas]], and the
    * fold here is a real one — the MV is created from a base slice and
    * a right-side insert batch folds the rest in). An
    * `approx_count_distinct(l_suppkey)` over the registered equi-join
    * then routes to estimate(union(per-cell partials)) exactly like the
    * single-table q140 — distinct-over-join is the query that costs
    * TWO shuffles (join + distinct re-shuffle) without the MV, per
    * run; with it, cube-sized work. Same per-registration opt-in
    * (`registerJoin(..., approxDistinct = true)`, carried across
    * publishes — a dropped flag would silently de-route after the
    * first fold). Rows-only (HLL estimate); CubeRewriteSpec pins
    * routed == the MV's own distinctOf read, est-vs-exact, the opt-in
    * requirement, and q153's exact measures keep hash-matching from
    * the same registration machinery. */
  private val joinSketchSetup =
    TrieMap.empty[(SparkSession, String), (String, String)]
  private def joinSketchSources(spark: SparkSession,
      sfDir: String): (String, String) =
    joinSketchSetup.getOrElseUpdate((spark, sfDir), {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_jsketch").toString
      CubeCatalog.install(spark)
      val oSrc = s"$dir/osrc"
      val lSrc = s"$dir/lsrc"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.parquet(oSrc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
        .write.parquet(lSrc)
      val svc = new CubeService(spark, dir)
      val late = col("l_linenumber") % 3 === 2
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_sketch", "osrc_lsrc",
            dims = Seq(FieldDim("prio", "o_orderpriority")),
            measures = Seq(Measure("revenue", "l_extendedprice")),
            sketches = Seq(Measure("supps", "l_suppkey")),
            // q188's quantile measure rides in the same MV
            quantiles = Seq(Measure("price_dist", "l_extendedprice")),
            // q214's EXACT distinct measure rides too: l_suppkey is a
            // dense BIGINT key, so the same MV serves the estimate
            // (q183, HLL) and the exact (q214, bitmap) distinct
            bitmaps = Seq(Measure("xsupps", "l_suppkey"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        spark.read.parquet(oSrc),
        Tables.lineitem(spark, sfDir).filter(!late)
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice")))
      // the sketch partials must MAINTAIN, not just build: fold the
      // late lines in as a right-side insert batch
      svc.updateJoinAggregates("join_sketch",
        spark.read.parquet(oSrc).limit(0).withColumn("_sign", lit(1L)),
        Tables.lineitem(spark, sfDir).filter(late)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
          .withColumn("_sign", lit(1L)))
      CubeCatalog.registerJoin(s"join_sketch@$sfDir",
        svc.loadJoinCube("join_sketch"), oSrc, lSrc, approxDistinct = true)
      (oSrc, lSrc)
    })

  // --------------------------------------------------------------- q188
  /** QUANTILES OVER A REGISTERED JOIN from the MV's KLL partials — the
    * final composition of the shared aggregate-leaf binding: the same
    * percentile_approx rewrite that serves q176's rollups fires when
    * the plan under the aggregate is the registered inner equi-join,
    * because the join-matching and the leaf binding are orthogonal.
    * Without the MV a percentile-over-join pays the join shuffle PLUS
    * a per-group sort of the joined fact rows per run; with it, a KLL
    * merge of |MV| one-sketch cells. Same opt-in + accuracy-honesty
    * gates as q176; rows-only (rank-randomized), CubeRewriteSpec pins
    * the rank band per group on an in-memory twin and q183/q153 pin
    * the same registration machinery's exact measures. */
  // --------------------------------------------------------------- q257
  /** Graded: the EXACT monthly top-k twin of q231 — the same monthly
    * heavy-hitter question (top-5 uids per calendar month of events)
    * computed exactly: full (month, uid) counts, ranked per month with
    * a deterministic tiebreak (count desc, uid asc). q231's CMS
    * hierarchy serve is rows-only by design (xxhash64 estimates have
    * no DuckDB twin); THIS query is its oracle-graded exact anchor,
    * the q167-for-q168 discipline — cross-referenced in ContractSpec's
    * justification pin. 100 TB split: this is precisely the recompute
    * the sketch avoids — a |distinct (month, uid)|-row shuffle per
    * refresh vs the cube's maintained 64 KiB counters per day cell;
    * the anchor documents the exactness trade the CMS path buys out
    * of. */
  def q257MonthlyTopkExact(spark: SparkSession,
      sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("ts"), concat(lit("u"), col("user_id")).as("uid"))
    val counts = ev.groupBy(
        date_format(date_trunc("month", col("ts")), "yyyy-MM").as("ym"),
        col("uid"))
      .agg(count(lit(1)).as("n_exact"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ym"))
      .orderBy(col("n_exact").desc, col("uid"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("ym"), col("rk"), col("uid"), col("n_exact"))
      .orderBy(col("ym"), col("rk"))
  }

  // --------------------------------------------------------------- q258
  /** Graded: the EXACT join-median twin of q188 — the same per-priority
    * median price over `orders ⋈ lineitem`, computed exactly as an
    * order statistic (the value at rank ⌊(n+1)/2⌋ of the sorted group —
    * no interpolation, so decimal values pass through bit-exact in
    * both engines). q188's KLL serve is rows-only by design
    * (rank-randomized compaction); THIS query is its oracle-graded
    * exact anchor, cross-referenced in ContractSpec. 100 TB split: the
    * anchor pays the per-group sort the KLL path avoids — the exact
    * median needs a total order per group (one shuffle + per-partition
    * sort), while the maintained KLL partials answer any quantile from
    * mergeable cube-sized state; the pair documents that trade with
    * both sides on the graded surface. */
  def q258JoinQuantileExact(spark: SparkSession,
      sfDir: String): DataFrame = {
    val j = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_extendedprice")),
        col("o_orderkey") === col("l_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("l_extendedprice"))
    val g = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
    j.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(g))
      .filter(col("rn") === ((col("n") + 1) / 2).cast("long"))
      .select(col("o_orderpriority").as("prio"),
        col("l_extendedprice").cast("double").as("p50_exact"),
        col("n"))
      .orderBy(col("prio"))
  }

  def q188JoinQuantileRouting(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinSketchSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(percentile_approx(col("l_extendedprice"), lit(0.5), lit(50)), 6)
          .as("p50_price"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority").as("prio"), col("p50_price"), col("n"))
      .orderBy(col("prio"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join quantile routing did not fire; scans=$scans")
    q
  }

  def q183JoinSketchRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinSketchSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("l_suppkey")).as("nd_supps"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority").as("prio"), col("nd_supps"),
        col("revenue"), col("n"))
      .orderBy(col("prio"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join-MV sketch routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q214
  /** Graded: EXACT COUNT(DISTINCT) OVER A REGISTERED JOIN from the
    * join MV's bitmap partials — the bitmap family's last routing-
    * matrix cell (q209 plain table, q211 grouping sets, q210/q212
    * rolling; now the join). The same MV serves q183's HLL ESTIMATE of
    * distinct suppliers and this query's EXACT count: both partials
    * are maintained by the delta-join fold (the setup folds a late
    * right-side insert batch after creation), but bitmap union is
    * lossless, so this serve is answer-preserving — needs no opt-in,
    * and carries a FULL DuckDB oracle where q183 is rows-only. Without
    * the MV a distinct-over-join pays the join shuffle PLUS the
    * distinct-pair re-shuffle per run; with it, |MV| fixed-size bitmap
    * unions. Plan hard-asserted to scan the MV version dir. */
  def q214JoinBitmapDistinct(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinSketchSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("l_suppkey")).as("nd_supps"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority").as("prio"), col("nd_supps"),
        col("revenue"), col("n"))
      .orderBy(col("prio"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join-MV bitmap routing did not fire; scans=$scans")
    q
  }

  // --------------------------------------------------------------- q185
  /** ROLLUP OVER A REGISTERED JOIN served from the join MV — the last
    * cell of the routing matrix: the grouping-set rewrite (q163) and
    * the join-MV matching (q153) now compose, so a
    * `join(...).rollup(dims).agg(...)` query — the report shape every
    * BI tool emits against a star join — swaps the Expand's input from
    * JOINED SOURCE ROWS to join-cube cells. Without the MV each
    * grouping set re-pays the join shuffle AND the re-scan (the worst
    * multiplier in the matrix: |source| × |sets| with a shuffle per
    * set); with it, every hierarchy level re-aggregates |MV| cells.
    * Exact measures only here, so unlike the sketch rollups this one
    * carries a FULL oracle: DuckDB recomputes the same ROLLUP from the
    * raw join — hash equality proves the routed hierarchy
    * bit-identical, grouping-id bits included. */
  def q185JoinRollupRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRouteSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .rollup(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(col("o_orderpriority").as("prio"), col("gid"),
        col("revenue"), col("n"))
      .orderBy(col("gid"), col("prio"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join rollup routing did not fire; scans=$scans")
    q
  }

  /** Graded: FILTER-AWARE MV routing — the q58 aggregation with a WHERE
    * on the cube dimension, written as if no MV existed. The optimizer
    * serves the predicate as a cube-CELL filter on the dimension
    * attribute (hard-asserted to scan the cube, not the source): a
    * dim-valued predicate keeps or drops whole cells, so σ-then-
    * aggregate over the source equals σ-then-re-aggregate over the MV.
    * The DuckDB oracle recomputes from the raw table with the same
    * WHERE — hash equality proves the filtered rewrite exact. */
  def q155FilterRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val srcDir = routingSource(spark, sfDir)
    val q = spark.read.parquet(srcDir)
      .filter(col("event_type").isin("click", "purchase", "error"))
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.exists(_.endsWith("/routing_demo")),
      s"filter-aware MV routing did not fire; scans=$scans")
    q
  }

  /** Graded: the join-shaped aggregation, written as if no MV existed;
    * the optimizer must serve it from the join cube (hard-asserted —
    * the plan may scan NEITHER source relation). */
  def q153JoinRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinRouteSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"join-MV routing did not fire; scans=$scans")
    q
  }

  /** Graded: the roll-up served from the maintained join MV after both
    * delta batches, THROUGH the service verbs — each fold read the
    * previously published version and atomically swapped the manifest,
    * so the CORRECTNESS row also proves the versioned persistence. The
    * serve reads |priorities| rows of manifest-current parquet.
    * Oracle = recompute from the final two-sided state. */
  def q152JoinMv(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = joinCubeState(spark, sfDir)
    svc.getJoinAggregates("join_mv", Seq("prio"), sumOf = Seq("revenue"))
      .select(col("prio"), col("sum_revenue").as("revenue"),
        col("n_rows").as("n"))
      .orderBy(col("prio"))
  }

  /** Graded: the roll-up served after the change stream (decoded from
    * wire-format JSON) folded into the persisted cube. Oracle = signed
    * recompute of the final collection state from the raw table. */
  def q151ChangeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val svc = changeStreamService(spark, sfDir)
    svc.getAggregates("mongo_cdc", Seq("etype"), sumOf = Seq("value_sum"))
      .select(col("etype"), col("sum_value_sum").as("value_sum"),
        col("n_rows").as("n"))
      .orderBy(col("etype"))
  }

  // ---------------------------------------------------------------- q64
  /** Cube over a DYNAMIC document field: the dimension is a JSON path
    * into the schemaless `props` column (the MongoDB reality the
    * reference lives in) via [[ExprDim]], bucketed mod 10. */
  def q64CubeJsonDim(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = CubeConfig("json_dim", "events",
      dims = Seq(
        ExprDim("k_bucket",
          "CAST(get_json_object(props, '$.k') AS BIGINT) % 10"),
        FieldDim("etype", "event_type")),
      measures = Seq(Measure("value_sum", "value")))
    val cube = CubeManager.create(cfg, Tables.events(spark, sfDir))
    cube.aggregates
      .select(col("k_bucket"), col("etype"),
        col("value_sum").cast("double").as("value_sum"),
        col(CubeManager.CountCol).as("n"))
      .orderBy(col("k_bucket"), col("etype"))
  }

  // ---------------------------------------------------------------- q119
  /** COUNT-DISTINCT in an incremental cube via MERGEABLE HLL sketches
    * (Spark's datasketches functions): per-(event_type, day) partial
    * sketches of the user set, then a per-type union of the day
    * sketches. Plain count-distinct cannot live in a pre-aggregated
    * cube — distinct users don't add across cells — but sketches DO
    * merge, which is exactly how a continuous-aggregation service
    * serves "unique users" from maintained per-hour partials instead
    * of re-scanning the source (and how 1000 executors combine shard
    * partials at 100 TB: union is associative + commutative).
    *
    * Output pins union-of-parts == sketch-of-whole (both estimates
    * computed here) and carries the exact count for the error-bound
    * test. Rows-only: the sketch estimate has no DuckDB twin. */
  def q119HllCube(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val daily = e.groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("day_sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("day_sk"))).as("est_merged"))
    val whole = e.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_whole"),
        countDistinct(col("user_id")).as("exact"))
    merged.join(whole, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        col("est_merged"), col("est_whole"), col("exact"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q120
  /** Audience overlap from sketch partials: |A∩B| estimated by
    * inclusion–exclusion over the per-event-type HLL user sketches
    * (|A| + |B| − |A∪B|, union via sketch merge) — answering an
    * INTERSECTION question from the same maintained partials q119
    * serves counts from, without ever touching raw user ids again. At
    * 100 TB the pairwise stage operates on |types| sketch rows, not the
    * corpus. Exact overlap rides along for the error-bound test.
    * Rows-only (datasketches estimates). */
  def q120AudienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val sk = e.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n"))
    val pairs = sk.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"), col("n").as("n_a"))
      .join(sk.select(col("event_type").as("type_b"),
        col("sk").as("sk_b"), col("n").as("n_b")),
        col("type_a") < col("type_b"))
    val exact = e.select(col("event_type").as("type_a"), col("user_id"))
      .distinct()
      .join(e.select(col("event_type").as("type_b"), col("user_id"))
        .distinct(), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    pairs
      .withColumn("est_union",
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      .select(col("type_a"), col("type_b"),
        greatest(col("n_a") + col("n_b") - col("est_union"), lit(0L))
          .as("est_overlap"))
      .join(exact, Seq("type_a", "type_b"), "left_outer")
      .select(col("type_a"), col("type_b"), col("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy(col("type_a"), col("type_b"))
  }

  // ---------------------------------------------------------------- q121
  /** The ENGINE's sketch-measure path graded end-to-end: a cube with an
    * HLL distinct-users measure per (event_type, day), rolled up to
    * event_type via [[CubeManager.query]]'s distinctOf (union the day
    * partials, estimate once) — q119 showed the technique as a free
    * query, this exercises it through CubeConfig/create/query. Exact
    * count rides along for the error-bound check. Rows-only
    * (datasketches estimate). */
  def q121CubeDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = CubeConfig("users_by_type_day", "events",
      dims = Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
      measures = Seq(Measure("value_sum", "value")),
      sketches = Seq(Measure("users", "user_id")))
    val cube = CubeManager.create(cfg, Tables.events(spark, sfDir))
    val rolled = CubeManager.query(cube, Seq("etype"),
      sumOf = Seq("value_sum"), distinctOf = Seq("users"))
    val exact = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("etype"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, Seq("etype"))
      .select(col("etype"), col("sum_value_sum"),
        col("n_distinct_users"), col("exact_users"), col("n_rows"))
      .orderBy(col("etype"))
  }

  // ---------------------------------------------------------------- q130
  /** PERCENTILES in an incremental cube via MERGEABLE KLL quantile
    * sketches — the distribution sibling of q121's HLL distinct
    * measure, through the same CubeConfig/create/query path: per-
    * (event_type, day) KLL partials of the value distribution, rolled
    * up to event_type (one sketch union per group, two point-reads).
    * Exact percentiles cannot live in a pre-aggregated cube (rank
    * queries don't add across cells); KLL unions do, with a
    * merge-shape-independent rank-error bound — how a continuous
    * aggregation serves p50/p90 latency-style dashboards from
    * maintained partials, and how 1000 executors combine shard
    * partials at 100 TB.
    *
    * Exact percentiles ride along for the error-bound test (CubeSpec
    * pins |rank(est) − q| ≤ KLL bound + merge-equality behavior).
    * Rows-only: KLL compaction is rank-randomized (no DuckDB twin). */
  def q130CubeQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = CubeConfig("value_dist_by_type_day", "events",
      dims = Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
      measures = Seq(Measure("value_sum", "value")),
      quantiles = Seq(Measure("value_dist", "value")))
    val cube = CubeManager.create(cfg, Tables.events(spark, sfDir))
    val rolled = CubeManager.query(cube, Seq("etype"),
      sumOf = Seq("value_sum"),
      quantilesOf = Seq(("value_dist", 0.5), ("value_dist", 0.9)))
    val exact = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("etype"))
      .agg(expr("percentile(value, 0.5)").as("exact_p50"),
        expr("percentile(value, 0.9)").as("exact_p90"))
    rolled.join(exact, Seq("etype"))
      .select(col("etype"), col("p50_value_dist"), col("p90_value_dist"),
        col("exact_p50"), col("exact_p90"), col("n_rows"))
      .orderBy(col("etype"))
  }

  // --------------------------------------------------------------- q139
  /** ROLLING 7-DAY DISTINCT USERS from MAINTAINED DAILY SKETCHES — the
    * sketch twin of the exact q138, and the form that serves the WAU
    * curve at 100 TB: the corpus is touched ONCE to build one HLL
    * partial per day (the same per-day partials a continuous cube
    * maintains incrementally — new events only ever fold into today's
    * sketch), after which every rolling endpoint is a union of ≤7
    * one-row sketches. The windowed stage costs ∝ |days|·7 sketch
    * merges — independent of event count — where q138's exact re-count
    * re-shuffles ×7 the collapsed user-day table on every refresh.
    * Union is lossless at fixed lgK (union-of-parts == sketch-of-whole,
    * pinned by q119 and re-pinned per-window in CubeSpec), so the
    * rolling estimate carries the single-sketch ±1.6% guarantee.
    * Rows-only: the sketch estimate has no DuckDB twin; CubeSpec pins
    * it within 5% of the exact q138 value on every endpoint. */
  def q139RollingDistinctHll(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400).cast("long").as("d"))
      .groupBy(col("d"))
      .agg(hll_sketch_agg(col("user_id")).as("day_sk"))
    graft.functions.Rolling.endpoints(daily)
      .agg(count(lit(1)).as("n_days_merged"),
        hll_sketch_estimate(hll_union_agg(col("day_sk"))).as("est_users_7d"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q141
  /** ROLLING 7-DAY QUANTILES from MAINTAINED DAILY KLL PARTIALS — the
    * distribution sibling of q139: exact percentiles cannot be served
    * from pre-aggregated state (ranks don't add across cells), but KLL
    * sketches union associatively, so ONE maintained sketch per day
    * serves every rolling endpoint as a merge of ≤7 one-row partials.
    * Same scale split as q139: the corpus is touched once to build
    * |days| sketches; the windowed stage costs ∝ |days|·7 merges of
    * O(k log n) bytes — independent of event count, where the exact
    * alternative re-shuffles ×7 the raw values per refresh. Merge-order
    * independence keeps the q130 rank guarantee (≤ ~1.65% at k=200).
    * Rows-only (rank-randomized compaction); CubeSpec pins each
    * endpoint's p50/p90 within the KLL rank band of the exact window. */
  def q141RollingQuantilesKll(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Kll
    val daily = Tables.events(spark, sfDir)
      .select((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"), col("value"))
      .groupBy(col("d"))
      .agg(Kll.sketchAgg(col("value")).as("day_sk"), count(lit(1)).as("n"))
    graft.functions.Rolling.endpoints(daily)
      .agg(sum(col("n")).as("n_rows"), Kll.mergeAgg(col("day_sk")).as("sk"))
      .select(col("day"), col("n_rows"),
        round(Kll.quantile(col("sk"), 0.5), 6).as("p50_value"),
        round(Kll.quantile(col("sk"), 0.9), 6).as("p90_value"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q156
  /** One-time setup for q156: a TWO-dim join MV (order priority ×
    * line return flag) over narrow orders/lineitem projections, the
    * joinRouteSources discipline. */
  private val joinSubsetSetup = TrieMap.empty[(SparkSession, String), (String, String)]
  private def joinSubsetSources(spark: SparkSession,
      sfDir: String): (String, String) =
    joinSubsetSetup.getOrElseUpdate((spark, sfDir), {
      val dir = java.nio.file.Files.createTempDirectory("graft_jsub").toString
      CubeCatalog.install(spark)
      val oSrc = s"$dir/osrc"
      val lSrc = s"$dir/lsrc"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.parquet(oSrc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
        .write.parquet(lSrc)
      val svc = new CubeService(spark, dir)
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("join_subset", "osrc_lsrc",
            dims = Seq(FieldDim("prio", "o_orderpriority"),
              FieldDim("rflag", "l_returnflag")),
            measures = Seq(Measure("revenue", "l_extendedprice"))),
          leftKey = "o_orderkey", rightKey = "l_orderkey"),
        spark.read.parquet(oSrc), spark.read.parquet(lSrc))
      CubeCatalog.registerJoin(s"join_subset@$sfDir",
        svc.loadJoinCube("join_subset"), oSrc, lSrc)
      (oSrc, lSrc)
    })

  /** Graded: DIM-SUBSET rollup over the two-dim join MV — the query
    * groups only by the RIGHT side's dimension, so the left side's dim
    * column is pruned out of the join entirely; the rule's partial
    * binding must still serve it from the join cube (hard-asserted),
    * re-aggregating across the dropped dimension's cells. Oracle
    * recomputes the join rollup from the raw tables. */
  def q156JoinSubsetRouting(spark: SparkSession, sfDir: String): DataFrame = {
    val (oSrc, lSrc) = joinSubsetSources(spark, sfDir)
    val q = spark.read.parquet(oSrc)
      .join(spark.read.parquet(lSrc),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(".jmv/")),
      s"dim-subset join-MV routing did not fire; scans=$scans")
    q
  }

  // ---------------------------------------------------------------- q168
  /** HEAVY HITTERS in an incremental cube via MERGEABLE Count-Min
    * partials — the frequency sibling of q121 (HLL distinct) and q130
    * (KLL quantiles), through the same CubeConfig/create/query path:
    * per-(lang, source) cells each hold a d×w CMS counter array + its
    * top-[[CubeManager.FreqCand]] candidate keys, rolled up to lang by
    * LOSSLESS counter addition (sum of part-sketches == sketch of the
    * whole — CMS is the one sketch family whose merge compounds no
    * error) + candidate union, then each candidate re-estimated against
    * the merged counters and the top-10 kept.
    *
    * Scale shape: per-key counts can't live in a pre-aggregated cube
    * (the key domain is unbounded); CMS counters CAN — fixed 64 KiB per
    * cell, so a continuous aggregation serves "top words per language"
    * from maintained partials at 100 TB where the exact plan (q167)
    * shuffles |distinct (lang, word)| rows per query. Exact counts ride
    * along for the est≥truth test; q167 is the oracled exact anchor.
    * Rows-only: estimates ride the xxhash64 family, candidates are
    * sketch-heuristic at the margin (no DuckDB twin); CubeSpec pins
    * lossless fold == whole-build counters, est ≥ exact, recall of the
    * exact top-3, persistence round-trip, and the delete latch. */
  def q168CubeTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"),
        explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .withColumn("one", lit(1))
    val cfg = CubeConfig("words_by_lang_source", "documents",
      dims = Seq(FieldDim("lang", "lang"), FieldDim("src", "source")),
      measures = Seq(Measure("n_tokens", "one")),
      freq = Seq(Measure("w", "w")))
    val cube = CubeManager.create(cfg, words)
    val served = CubeManager.query(cube, Seq("lang"),
        topkOf = Seq(("w", 10)))
      .select(col("lang"), posexplode(col("topk_w")))
      .select(col("lang"), (col("pos") + 1).as("rk"),
        col("col.key").as("word"), col("col.n_est").as("n_est"))
    val exact = words.groupBy(col("lang"), col("w").as("word"))
      .agg(count(lit(1)).as("n_exact"))
    served.join(exact, Seq("lang", "word"))
      .select(col("lang"), col("rk"), col("word"), col("n_est"),
        col("n_exact"))
      .orderBy(col("lang"), col("rk"))
  }

  lazy val defs: Map[String, Q] = Map(
    "q168_cube_topk" -> q168CubeTopk,
    "q139_rolling_distinct_hll" -> q139RollingDistinctHll,
    "q141_rolling_quantiles_kll" -> q141RollingQuantilesKll,
    "q64_cube_json_dim" -> q64CubeJsonDim,
    "q130_cube_quantiles" -> q130CubeQuantiles,
    "q119_hll_cube" -> q119HllCube,
    "q120_audience_overlap" -> q120AudienceOverlap,
    "q121_cube_distinct" -> q121CubeDistinct,
    "q33_cube_create" -> q33CubeCreate,
    "q34_cube_query" -> q34CubeQuery,
    "q35_cube_incremental" -> q35CubeIncremental,
    "q58_cube_routing" -> q58CubeRouting,
    "q140_distinct_routing" -> q140DistinctRouting,
    "q209_exact_distinct_routing" -> q209ExactDistinctRouting,
    "q211_bitmap_rollup_routing" -> q211BitmapRollupRouting,
    "q213_asof_routing" -> q213AsOfRouting,
    "q214_join_bitmap_distinct" -> q214JoinBitmapDistinct,
    "q218_stream_bitmap_rolling" -> q218StreamBitmapRolling,
    "q220_join_asof_routing" -> q220JoinAsOfRouting,
    "q221_granularity_routing" -> q221GranularityRouting,
    "q223_hierarchy_bitmap_distinct" -> q223HierarchyBitmapDistinct,
    "q224_hierarchy_rollup" -> q224HierarchyRollup,
    "q146_service_lifecycle" -> q146ServiceLifecycle,
    "q147_service_auto_update" -> q147ServiceAutoUpdate,
    "q151_change_stream" -> q151ChangeStream,
    "q152_join_mv" -> q152JoinMv,
    "q174_mv_time_travel" -> q174MvTimeTravel,
    "q189_cube_time_travel" -> q189CubeTimeTravel,
    "q190_advised_rolling" -> q190AdvisedRolling,
    "q192_cube_version_diff" -> q192CubeVersionDiff,
    "q195_advised_join_rolling" -> q195AdvisedJoinRolling,
    "q196_rolling_sum_cdc" -> q196RollingSumCdc,
    "q153_join_routing" -> q153JoinRouting,
    "q154_join_mv_stream" -> q154JoinMvStream,
    "q157_join_filter_routing" -> q157JoinFilterRouting,
    "q158_minmax_routing" -> q158MinmaxRouting,
    "q159_rolling_minmax" -> q159RollingMinmax,
    "q194_rolling_sum" -> q194RollingSum,
    "q210_rolling_bitmap_distinct" -> q210RollingBitmapDistinct,
    "q228_rolling_routing" -> q228RollingRouting,
    "q229_dict_exact_distinct" -> q229DictExactDistinct,
    "q230_advised_retention" -> q230AdvisedRetention,
    "q231_monthly_topk_hierarchy" -> q231MonthlyTopkHierarchy,
    "q232_join_rolling_routing" -> q232JoinRollingRouting,
    "q234_retention_routing" -> q234RetentionRouting,
    "q235_churn_routing" -> q235ChurnRouting,
    "q236_filtered_rolling_routing" -> q236FilteredRollingRouting,
    "q237_filtered_retention_routing" -> q237FilteredRetentionRouting,
    "q238_calendar_retention" -> q238CalendarRetention,
    "q239_cumulative_users" -> q239CumulativeUsers,
    "q240_ytd_cumulative" -> q240YtdCumulative,
    "q241_funnel_bitmap" -> q241FunnelBitmap,
    "q242_sql_rolling_routing" -> q242SqlRollingRouting,
    "q243_cumulative_routing" -> q243CumulativeRouting,
    "q252_funnel_routing" -> q252FunnelRouting,
    "q253_sql_funnel_routing" -> q253SqlFunnelRouting,
    "q254_advised_funnel" -> q254AdvisedFunnel,
    "q255_dict_stream_rolling" -> q255DictStreamRolling,
    "q256_join_cohort_time_travel" -> q256JoinCohortTimeTravel,
    "q257_monthly_topk_exact" -> q257MonthlyTopkExact,
    "q258_join_quantile_exact" -> q258JoinQuantileExact,
    "q259_dict_rolling_routing" -> q259DictRollingRouting,
    "q260_join_dict_distinct" -> q260JoinDictDistinct,
    "q261_join_retention_routing" -> q261JoinRetentionRouting,
    "q262_join_cumulative_routing" -> q262JoinCumulativeRouting,
    "q263_join_funnel_routing" -> q263JoinFunnelRouting,
    "q264_first_seen_routing" -> q264FirstSeenRouting,
    "q265_engagement_routing" -> q265EngagementRouting,
    "q270_segmented_first_seen_routing" -> q270SegmentedFirstSeenRouting,
    "q271_segmented_engagement_routing" -> q271SegmentedEngagementRouting,
    "q272_resurrected_routing" -> q272ResurrectedRouting,
    "q273_sql_resurrected_routing" -> q273SqlResurrectedRouting,
    "q274_join_resurrected_routing" -> q274JoinResurrectedRouting,
    "q275_calendar_retention_routing" -> q275CalendarRetentionRouting,
    "q276_quarterly_first_seen_routing" -> q276QuarterlyFirstSeenRouting,
    "q277_monthly_funnel_routing" -> q277MonthlyFunnelRouting,
    "q278_time_to_convert" -> q278TimeToConvert,
    "q279_sql_calendar_retention" -> q279SqlCalendarRetention,
    "q280_calendar_time_to_convert" -> q280CalendarTimeToConvert,
    "q281_cohort_value" -> q281CohortValue,
    "q282_cohort_value_calendar" -> q282CohortValueCalendar,
    "q283_join_cohort_value" -> q283JoinCohortValue,
    "q284_cohort_value_routing" -> q284CohortValueRouting,
    "q285_advised_cohort_value" -> q285AdvisedCohortValue,
    "q286_calendar_cohort_value_routing" -> q286CalendarCohortValueRouting,
    "q287_sql_cohort_value_routing" -> q287SqlCohortValueRouting,
    "q288_value_growth_accounting" -> q288ValueGrowthAccounting,
    "q289_calendar_value_growth" -> q289CalendarValueGrowth,
    "q290_top_spenders" -> q290TopSpenders,
    "q293_segmented_cohort_value" -> q293SegmentedCohortValue,
    "q291_dict_cohort_value" -> q291DictCohortValue,
    "q292_dict_top_spenders" -> q292DictTopSpenders,
    "q294_dict_cohort_value_routing" -> q294DictCohortValueRouting,
    "q295_top_spenders_routing" -> q295TopSpendersRouting,
    "q296_dict_top_spenders_routing" -> q296DictTopSpendersRouting,
    "q297_bridge_dashboard_routing" -> q297BridgeDashboardRouting,
    "q298_window_funnel_routing" -> q298WindowFunnelRouting,
    "q299_time_to_convert_routing" -> q299TimeToConvertRouting,
    "q300_sql_top_spenders_routing" -> q300SqlTopSpendersRouting,
    "q301_sql_bridge_dashboard_routing" -> q301SqlBridgeDashboardRouting,
    "q302_segmented_top_spenders_routing" -> q302SegmentedTopSpendersRouting,
    "q303_cohort_matrix_routing" -> q303CohortMatrixRouting,
    "q304_calendar_cohort_matrix_routing" -> q304CalendarCohortMatrixRouting,
    "q305_dict_cohort_matrix_routing" -> q305DictCohortMatrixRouting,
    "q306_chain_rollup_routing" -> q306ChainRollupRouting,
    "q307_chain_rolling_distinct" -> q307ChainRollingDistinct,
    "q308_join_time_to_convert_routing" -> q308JoinTimeToConvertRouting,
    "q309_calendar_window_funnel_routing" -> q309CalendarWindowFunnelRouting,
    "q310_dict_seg_top_spenders_asof" -> q310DictSegTopSpendersAsOf,
    "q311_advised_chain_rollup" -> q311AdvisedChainRollup,
    "q312_chain_cohort_value" -> q312ChainCohortValue,
    "q313_sql_chain_rollup_routing" -> q313SqlChainRollupRouting,
    "q314_segmented_cohort_matrix" -> q314SegmentedCohortMatrix,
    "q315_chain_time_travel" -> q315ChainTimeTravel,
    "q316_chain_retention_routing" -> q316ChainRetentionRouting,
    "q317_chain_asof_routing" -> q317ChainAsOfRouting,
    "q266_join_engagement_routing" -> q266JoinEngagementRouting,
    "q267_join_first_seen_routing" -> q267JoinFirstSeenRouting,
    "q268_stickiness" -> q268Stickiness,
    "q269_dashboard_ratio_routing" -> q269DashboardRatioRouting,
    "q244_cohort_time_travel" -> q244CohortTimeTravel,
    "q245_segmented_funnel" -> q245SegmentedFunnel,
    "q246_window_funnel" -> q246WindowFunnel,
    "q247_overlap_matrix" -> q247OverlapMatrix,
    "q248_cohort_matrix" -> q248CohortMatrix,
    "q249_calendar_cohorts" -> q249CalendarCohorts,
    "q212_advised_bitmap_rolling" -> q212AdvisedBitmapRolling,
    "q219_rolling_segmented" -> q219RollingSegmented,
    "q222_advised_segmented_rolling" -> q222AdvisedSegmentedRolling,
    "q225_retention_bitmap" -> q225RetentionBitmap,
    "q226_rolling_intersect" -> q226RollingIntersect,
    "q227_segment_retention" -> q227SegmentRetention,
    "q250_engagement" -> q250Engagement,
    "q251_growth_accounting" -> q251GrowthAccounting,
    "q160_sql_having_routing" -> q160SqlHavingRouting,
    "q163_rollup_routing" -> q163RollupRouting,
    "q175_sketch_rollup_routing" -> q175SketchRollupRouting,
    "q176_quantile_rollup_routing" -> q176QuantileRollupRouting,
    "q183_join_sketch_routing" -> q183JoinSketchRouting,
    "q184_join_stream_sketch" -> q184JoinStreamSketch,
    "q185_join_rollup_routing" -> q185JoinRollupRouting,
    "q188_join_quantile_routing" -> q188JoinQuantileRouting,
    "q187_advised_routing" -> q187AdvisedRouting,
    "q165_delete_extremes" -> q165DeleteExtremes,
    "q177_delete_sketches" -> q177DeleteSketches,
    "q155_filter_routing" -> q155FilterRouting,
    "q156_join_subset_routing" -> q156JoinSubsetRouting,
  )

  lazy val sql: Map[String, String] = Map(
    // From-scratch recompute over the same deterministic post-delta
    // slice the maintained cube describes: hash equality proves the
    // whole lifecycle (create → insert+DELETE fold with targeted bitmap
    // recompute → persist → reload → route) exactly equals never having
    // maintained anything — the invariant, on the FULL oracle gate for
    // a distinct-count for the first time (bitmaps are lossless where
    // HLL estimates).
    "q209_exact_distinct_routing" -> """
      WITH src AS (
        SELECT event_type, user_id, value FROM events
        WHERE NOT (event_id % 5 <> 4 AND event_type = 'error'))
      SELECT event_type, count(DISTINCT user_id) AS nd_users,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      FROM src
      GROUP BY 1
      ORDER BY 1""",
    // The whole rollup lattice recomputed from the same post-delta
    // slice: every level's count(DISTINCT) must hash-equal the routed
    // bitmap unions — grouping() bit order matches grouping_id().
    "q211_bitmap_rollup_routing" -> """
      WITH src AS (
        SELECT event_type, user_id, value FROM events
        WHERE NOT (event_id % 5 <> 4 AND event_type = 'error'))
      SELECT event_type,
        CAST(grouping(event_type) AS BIGINT) AS gid,
        count(DISTINCT user_id) AS nd_users,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM src
      GROUP BY ROLLUP (event_type)
      ORDER BY gid, event_type""",
    // Version 1's fold prefix is ALL events (base slice + the held-out
    // inserts, before the error purge): the as-of-routed serve must
    // hash-equal that historical state, and it visibly differs from
    // the head (which excludes the error rows).
    "q213_asof_routing" -> """
      SELECT event_type,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY 1
      ORDER BY 1""",
    // Exact distinct suppliers per priority recomputed from the raw
    // join: the routed bitmap unions must hash-equal it (q183's HLL
    // twin of the same MV is rows-only).
    "q214_join_bitmap_distinct" -> """
      SELECT o_orderpriority AS prio,
        count(DISTINCT l_suppkey) AS nd_supps,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1
      ORDER BY 1""",
    // q138's oracle over ALL events: the stream-maintained bitmap
    // curve must equal a from-scratch recompute - stream-maintained ==
    // never-streamed, exact, for a distinct curve.
    "q218_stream_bitmap_rolling" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // Every retention cell recomputed from raw with a distinct
    // self-join: the served AND/ANDNOT cardinalities must hash-equal
    // the set identities they claim to be.
    "q225_retention_bitmap" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
            AS p,
          user_id
        FROM events),
      act AS (SELECT p, count(*) AS active FROM ud GROUP BY p),
      ret AS (
        SELECT a.p, count(*) AS retained
        FROM ud a JOIN ud b ON b.p = a.p - 1 AND b.user_id = a.user_id
        GROUP BY a.p)
      SELECT act.p AS period, act.active, pa.active AS prev_active,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE COALESCE(ret.retained, 0) END AS retained,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE pa.active - COALESCE(ret.retained, 0) END AS churned,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE act.active - COALESCE(ret.retained, 0) END AS new_ids
      FROM act
      LEFT JOIN act pa ON pa.p = act.p - 1
      LEFT JOIN ret ON ret.p = act.p
      ORDER BY period""",
    // Per-endpoint stickiness recomputed from raw: a user counts iff
    // their observed-day total over the trailing window equals the
    // window's observed-day total.
    "q226_rolling_intersect" -> """
      WITH ud AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
            AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM ud),
      win AS (
        SELECT days.day, ud.d, ud.user_id
        FROM days JOIN ud ON ud.d BETWEEN days.day - 6 AND days.day),
      nd AS (SELECT day, count(DISTINCT d) AS ndays FROM win GROUP BY day),
      pu AS (SELECT day, user_id, count(DISTINCT d) AS udays
             FROM win GROUP BY day, user_id)
      SELECT nd.day, COALESCE(cnt.n, 0) AS n_everyday
      FROM nd LEFT JOIN (
        SELECT pu.day, count(*) AS n
        FROM pu JOIN nd ON nd.day = pu.day AND pu.udays = nd.ndays
        GROUP BY pu.day) cnt ON cnt.day = nd.day
      ORDER BY nd.day""",
    // Per-(endpoint, user) active-day counts from raw, histogrammed:
    // every intensity bucket of the served partition must hash-equal
    // the brute-force recompute.
    "q250_engagement" -> """
      WITH ud AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
            AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM ud),
      pu AS (
        SELECT days.day, ud.user_id, count(DISTINCT ud.d) AS days_active
        FROM days JOIN ud ON ud.d BETWEEN days.day - 6 AND days.day
        GROUP BY days.day, ud.user_id)
      SELECT day, days_active, count(*) AS users
      FROM pu
      GROUP BY day, days_active
      ORDER BY day, days_active""",
    // Growth accounting recomputed from raw: a min-first-seen frame
    // splits "absent yesterday" into new vs resurrected; churn is the
    // adjacent anti-join. active = new + resurrected + retained must
    // hold in BOTH engines for the hash to match.
    "q251_growth_accounting" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
            AS p,
          user_id
        FROM events),
      fs AS (SELECT user_id, min(p) AS fp FROM ud GROUP BY user_id),
      cur AS (
        SELECT ud.p, count(*) AS active,
          count(CASE WHEN fs.fp = ud.p THEN 1 END) AS new_ids,
          count(pv.user_id) AS retained,
          count(CASE WHEN fs.fp < ud.p AND pv.user_id IS NULL THEN 1 END)
            AS resurrected
        FROM ud
        JOIN fs ON fs.user_id = ud.user_id
        LEFT JOIN ud pv ON pv.user_id = ud.user_id AND pv.p = ud.p - 1
        GROUP BY ud.p),
      ch AS (
        SELECT a.p + 1 AS p, count(*) AS churned
        FROM ud a LEFT JOIN ud b
          ON b.user_id = a.user_id AND b.p = a.p + 1
        WHERE b.user_id IS NULL
        GROUP BY a.p + 1)
      SELECT cur.p AS period, cur.active, cur.new_ids, cur.resurrected,
        cur.retained, COALESCE(ch.churned, 0) AS churned
      FROM cur LEFT JOIN ch ON ch.p = cur.p
      ORDER BY period""",
    // q225's matrix per event type: segment-keyed self-joins, each
    // segment's contiguity judged within its own observed weeks.
    "q227_segment_retention" -> """
      WITH ud AS (
        SELECT DISTINCT event_type AS etype,
          CAST(floor(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) / 7)
            AS BIGINT) AS p,
          user_id
        FROM events),
      act AS (SELECT etype, p, count(*) AS active FROM ud GROUP BY 1, 2),
      ret AS (
        SELECT a.etype, a.p, count(*) AS retained
        FROM ud a JOIN ud b
          ON b.etype = a.etype AND b.p = a.p - 1 AND b.user_id = a.user_id
        GROUP BY 1, 2)
      SELECT act.etype, act.p AS period, act.active,
        pa.active AS prev_active,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE COALESCE(ret.retained, 0) END AS retained,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE pa.active - COALESCE(ret.retained, 0) END AS churned,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE act.active - COALESCE(ret.retained, 0) END AS new_ids
      FROM act
      LEFT JOIN act pa ON pa.etype = act.etype AND pa.p = act.p - 1
      LEFT JOIN ret ON ret.etype = act.etype AND ret.p = act.p
      ORDER BY act.etype, period""",
    // v1's fold prefix restores the FULL join (base slices + the
    // insert fold), so the oracle is the raw-join recompute - and the
    // head (v2) would differ, proving the pin serves history.
    "q220_join_asof_routing" -> """
      SELECT o_orderpriority AS prio,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1
      ORDER BY 1""",
    // Month totals recomputed from raw events: the day-cube's
    // re-truncated serve must hash-equal them (month boundaries are
    // day boundaries - the hierarchy's exactness claim).
    "q221_granularity_routing" -> """
      SELECT CAST(floor(epoch(date_trunc('month', CAST(ts AS TIMESTAMP)))) AS BIGINT)
          AS month_s,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY 1
      ORDER BY 1""",
    // Monthly exact distinct users recomputed from raw: the routed
    // month = OR of day bitmaps must hash-equal it (the MAU-from-WAU
    // composition's exactness claim).
    "q223_hierarchy_bitmap_distinct" -> """
      SELECT CAST(floor(epoch(date_trunc('month', CAST(ts AS TIMESTAMP)))) AS BIGINT)
          AS month_s,
        count(DISTINCT user_id) AS mau,
        count(1) AS n
      FROM events
      GROUP BY 1
      ORDER BY 1""",
    // The whole month-level rollup lattice recomputed from raw; the
    // routed Expand's day-cell re-aggregation must hash-equal it at
    // every level, grouping-id bits included.
    "q224_hierarchy_rollup" -> """
      SELECT event_type AS etype,
        CAST(floor(epoch(date_trunc('month', CAST(ts AS TIMESTAMP)))) AS BIGINT)
          AS month_s,
        CAST(grouping(event_type, date_trunc('month', CAST(ts AS TIMESTAMP)))
          AS BIGINT) AS gid,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY ROLLUP (event_type, date_trunc('month', CAST(ts AS TIMESTAMP)))
      ORDER BY gid, etype, month_s""",
    "q33_cube_create" -> """
      SELECT event_type AS etype,
        CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour_s,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY 1, 2
      ORDER BY etype, hour_s""",
    "q34_cube_query" -> """
      SELECT event_type AS etype,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value_sum,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS avg_value_sum,
        count(1) AS n_rows
      FROM events
      WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) >= TIMESTAMP '2024-01-08 00:00:00'
        AND date_trunc('hour', CAST(ts AS TIMESTAMP)) < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1
      ORDER BY etype""",
    "q35_cube_incremental" -> """
      SELECT etype, hour_s,
        CAST(sum(sign * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        CAST(sum(sign) AS BIGINT) AS n
      FROM (
        SELECT event_type AS etype,
          CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour_s,
          value, 1 AS sign
        FROM events
        UNION ALL
        SELECT event_type,
          CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT),
          value, -1
        FROM events
        WHERE event_id % 5 <> 4 AND event_type = 'error') t
      GROUP BY etype, hour_s
      HAVING sum(sign) > 0
      ORDER BY etype, hour_s""",
    "q64_cube_json_dim" -> """
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        event_type AS etype,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY 1, 2
      ORDER BY k_bucket, etype""",
    "q58_cube_routing" -> """
      SELECT event_type,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(1) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "q146_service_lifecycle" -> """
      SELECT etype, hour_s,
        CAST(sum(sign * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        CAST(sum(sign) AS BIGINT) AS n
      FROM (
        SELECT event_type AS etype,
          CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour_s,
          value, 1 AS sign
        FROM events
        UNION ALL
        SELECT event_type,
          CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT),
          value, -1
        FROM events
        WHERE event_id % 5 <> 4 AND event_type = 'error') t
      GROUP BY etype, hour_s
      HAVING sum(sign) > 0
      ORDER BY etype, hour_s""",
    "q147_service_auto_update" -> """
      SELECT event_type AS etype,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY event_type
      ORDER BY etype""",
    // Final collection state after the change stream: %7==4 deleted,
    // %7==5 updated to value+1.0 (double add BEFORE the decimal cast —
    // the same IEEE op the update event's post-image carries), %7==6
    // inserted, everything else untouched base.
    "q151_change_stream" -> """
      SELECT event_type AS etype,
        CAST(sum(CAST(value
          + (CASE WHEN event_id % 7 = 5 THEN 1.0 ELSE 0.0 END)
          AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      WHERE event_id % 7 <> 4
      GROUP BY event_type
      ORDER BY etype""",
    // Final two-sided state: all orders; lineitem keeps everything
    // except the base slice's returned lines (the only deletes).
    "q174_mv_time_travel" -> """
      SELECT CAST(0 AS BIGINT) AS version, o_orderpriority AS prio,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey % 5 <> 4 AND l_linenumber % 3 <> 2
      GROUP BY 2
      UNION ALL
      SELECT CAST(1 AS BIGINT), o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
        count(1)
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 2
      UNION ALL
      SELECT CAST(2 AS BIGINT), o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
        count(1)
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE NOT (l_linenumber % 3 <> 2 AND l_returnflag = 'R')
      GROUP BY 2
      ORDER BY version, prio""",
    // Per-version recompute of the single-table cube history: v0 =
    // base slice, v1 = + late inserts (all events), v2 = − error rows.
    "q189_cube_time_travel" -> """
      SELECT CAST(0 AS BIGINT) AS version, event_type AS etype,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      WHERE event_id % 5 <> 4
      GROUP BY 2
      UNION ALL
      SELECT CAST(1 AS BIGINT), event_type,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        count(1)
      FROM events
      GROUP BY 2
      UNION ALL
      SELECT CAST(2 AS BIGINT), event_type,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        count(1)
      FROM events
      WHERE event_type <> 'error'
      GROUP BY 2
      ORDER BY version, etype""",
    // Per-version recompute of v0 (base slice) and v2 (minus error
    // rows) full-outer joined per type — the version-diff verb's twin.
    // Both engines subtract the same DOUBLE serve values, so the delta
    // is bit-deterministic.
    "q192_cube_version_diff" -> """
      WITH v0 AS (
        SELECT event_type AS etype,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
          count(1) AS n
        FROM events WHERE event_id % 5 <> 4 GROUP BY 1),
      v2 AS (
        SELECT event_type AS etype,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
          count(1) AS n
        FROM events WHERE event_type <> 'error' GROUP BY 1)
      SELECT coalesce(v0.etype, v2.etype) AS etype,
        coalesce(v0.v, 0) AS v_from, coalesce(v2.v, 0) AS v_to,
        coalesce(v2.v, 0) - coalesce(v0.v, 0) AS v_delta,
        coalesce(v0.n, 0) AS n_from, coalesce(v2.n, 0) AS n_to,
        coalesce(v2.n, 0) - coalesce(v0.n, 0) AS n_delta
      FROM v0 FULL OUTER JOIN v2 ON v0.etype = v2.etype
      ORDER BY 1""",
    // q159's trailing-window oracle over the ADVISED cube: the advisor
    // derived the day-dimmed config from the workload's own rolling
    // plans, so hash equality proves advised == hand-designed == raw.
    "q190_advised_rolling" -> """
      WITH daily AS (
        SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d,
          min(value) AS dmin, max(value) AS dmax
        FROM events GROUP BY 1),
      days AS (SELECT DISTINCT d AS day FROM daily)
      SELECT days.day, min(daily.dmin) AS min_v, max(daily.dmax) AS max_v
      FROM days JOIN daily ON daily.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    "q152_join_mv" -> """
      SELECT o_orderpriority AS prio,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE NOT (l_linenumber % 3 <> 2 AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY prio""",
    // Same final state as q152, maintained by the streaming wire-format
    // path instead of manual folds.
    "q154_join_mv_stream" -> """
      SELECT o_orderpriority AS prio,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE NOT (l_linenumber % 3 <> 2 AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY prio""",
    "q160_sql_having_routing" -> """
      SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(1) AS n
      FROM events
      GROUP BY event_type
      HAVING count(1) % 2 = 0
      ORDER BY event_type""",
    // Post-delete state recomputed from raw: every 5th event deleted,
    // extremes served from the targeted-cell-recompute fold.
    "q165_delete_extremes" -> """
      SELECT event_type AS etype,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        min(value) AS min_value,
        max(value) AS max_value,
        count(1) AS n
      FROM events
      WHERE event_id % 5 <> 0
      GROUP BY event_type
      ORDER BY etype""",
    // ROLLUP recomputed from raw; grouping() bit order (leftmost = MSB)
    // matches Spark's grouping_id(), and the day key is epoch seconds
    // of the UTC calendar-day truncation (the q146 hour_s discipline).
    "q163_rollup_routing" -> """
      SELECT event_type AS etype,
        CAST(floor(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))) AS BIGINT)
          AS day_s,
        CAST(grouping(event_type, date_trunc('day', CAST(ts AS TIMESTAMP)))
          AS BIGINT) AS gid,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      GROUP BY ROLLUP (event_type, date_trunc('day', CAST(ts AS TIMESTAMP)))
      ORDER BY gid, etype, day_s""",
    // q138's day arithmetic (UTC epoch-days) + the rolling join form;
    // min/max re-aggregate exactly from daily partials, so this rolling
    // serve gets a full oracle where the sketch curves are rows-only.
    "q159_rolling_minmax" -> """
      WITH daily AS (
        SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d,
          min(value) AS dmin, max(value) AS dmax
        FROM events GROUP BY 1),
      days AS (SELECT DISTINCT d AS day FROM daily)
      SELECT days.day, min(daily.dmin) AS min_vx, max(daily.dmax) AS max_vx
      FROM days JOIN daily ON daily.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // Trailing windows over the POST-CDC state (all events minus the
    // deleted error rows): the latched cube's sum/avg partials must
    // still be exact.
    "q196_rolling_sum_cdc" -> """
      WITH daily AS (
        SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d,
          sum(CAST(value AS DECIMAL(18,2))) AS ds, count(1) AS n
        FROM events WHERE event_type <> 'error' GROUP BY 1),
      days AS (SELECT DISTINCT d AS day FROM daily)
      SELECT days.day, CAST(sum(daily.ds) AS DOUBLE) AS sum_v,
        CAST(sum(daily.ds) AS DOUBLE) / sum(daily.n) AS avg_v
      FROM days JOIN daily ON daily.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // Trailing 7-day revenue + max price over the JOIN, recomputed from
    // the raw tables — the advised join MV's daily partials re-aggregate
    // both exactly.
    "q195_advised_join_rolling" -> """
      WITH j AS (
        SELECT CAST(datediff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
          l_extendedprice AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      daily AS (
        SELECT d, sum(CAST(p AS DECIMAL(18,2))) AS ds, max(p) AS dm
        FROM j GROUP BY 1),
      days AS (SELECT DISTINCT d AS day FROM daily)
      SELECT days.day, CAST(sum(daily.ds) AS DOUBLE) AS rev_7d,
        max(daily.dm) AS max_price_7d
      FROM days JOIN daily ON daily.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // q138's own oracle: the exact WAU curve recomputed from raw
    // events — the bitmap-partials serve must EQUAL it (lossless
    // union), which puts a rolling distinct on the full hash gate for
    // the first time.
    "q210_rolling_bitmap_distinct" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // q210's curve over STRING ids, recomputed from raw strings — the
    // stream-maintained dictionary cube must hash-match it
    "q255_dict_stream_rolling" -> """
      WITH du AS (
        SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS uid,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.uid) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // the weekly retained curve recomputed with the raw self-join —
    // the optimizer-routed AND-walk over period bitmaps must
    // hash-match it (row set included: only periods with an observed
    // p−1 and >= 1 retained id)
    "q234_retention_routing" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(floor(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            / 7) AS BIGINT) AS p,
          user_id
        FROM events)
      SELECT a.p AS period, count(DISTINCT a.user_id) AS retained
      FROM ud a JOIN ud b ON b.p = a.p - 1 AND b.user_id = a.user_id
      GROUP BY 1
      ORDER BY 1""",
    // the weekly churn curve recomputed with the raw NOT EXISTS — the
    // optimizer-routed ANDNOT-walk must hash-match it, including the
    // no-contiguity-gate row set (the last observed period is all
    // churn; a calendar gap churns everyone)
    "q235_churn_routing" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(floor(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            / 7) AS BIGINT) AS p,
          user_id
        FROM events)
      SELECT a.p AS period, count(DISTINCT a.user_id) AS churned
      FROM ud a
      WHERE NOT EXISTS (
        SELECT 1 FROM ud b
        WHERE b.user_id = a.user_id AND b.p = a.p + 1)
      GROUP BY 1
      ORDER BY 1""",
    // every trailing 7-day window recomputed from the raw JOIN — the
    // optimizer-routed join-rolling serve must hash-match both the
    // decimal revenue and the exact distinct supplier count
    "q232_join_rolling_routing" -> """
      WITH j AS (
        SELECT CAST(datediff('day', DATE '1970-01-01',
            CAST(o.o_orderdate AS DATE)) AS BIGINT) AS d,
          l.l_extendedprice, l.l_suppkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      days AS (SELECT DISTINCT d AS day FROM j)
      SELECT days.day,
        CAST(sum(CAST(j.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS rev_7d,
        count(DISTINCT j.l_suppkey) AS n_supp_7d
      FROM days JOIN j ON j.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // q225's matrix at WEEKLY periods, recomputed with the same
    // self-join the advised workload used — the advise → materialize →
    // serve loop must hash-match it end to end
    "q230_advised_retention" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(floor(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            / 7) AS BIGINT) AS p,
          user_id
        FROM events),
      act AS (SELECT p, count(*) AS active FROM ud GROUP BY p),
      ret AS (
        SELECT a.p, count(*) AS retained
        FROM ud a JOIN ud b ON b.p = a.p - 1 AND b.user_id = a.user_id
        GROUP BY a.p)
      SELECT act.p AS period, act.active, pa.active AS prev_active,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE COALESCE(ret.retained, 0) END AS retained,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE pa.active - COALESCE(ret.retained, 0) END AS churned,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE act.active - COALESCE(ret.retained, 0) END AS new_ids
      FROM act
      LEFT JOIN act pa ON pa.p = act.p - 1
      LEFT JOIN ret ON ret.p = act.p
      ORDER BY period""",
    // the dictionary-encoded serve must equal a raw COUNT(DISTINCT)
    // over the string key — value_sum/n prove the same cells also carry
    // the exact invertible measures through the same fold
    "q229_dict_exact_distinct" -> """
      SELECT event_type AS etype,
        count(DISTINCT 'u' || CAST(user_id AS VARCHAR)) AS nd_users,
        round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
          AS value_sum,
        CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1
      ORDER BY 1""",
    // q138's oracle again: the optimizer-routed raw plan must serve the
    // exact WAU curve a from-scratch recompute yields (the registered
    // source is a projected copy of events, so raw events are the twin)
    "q228_rolling_routing" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // the FILTERED WAU curve recomputed raw — the cell-filtered routed
    // serve must hash-match it (endpoints are the days CLICK data was
    // observed, exactly the raw plan's filtered semi-join side)
    "q236_filtered_rolling_routing" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events
        WHERE event_type = 'click'),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS n_click_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // the FILTERED weekly retention matrix recomputed with the raw
    // self-join over click events only
    "q237_filtered_retention_routing" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(floor(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            / 7) AS BIGINT) AS p,
          user_id
        FROM events
        WHERE event_type = 'click')
      SELECT a.p AS period, count(DISTINCT a.user_id) AS retained
      FROM ud a JOIN ud b ON b.p = a.p - 1 AND b.user_id = a.user_id
      GROUP BY 1
      ORDER BY 1""",
    // the calendar-month customer matrix recomputed from raw orders
    // with the same month ordinal (year*12 + month - 1): Dec -> Jan is
    // integer adjacency, a skipped month gates the prev-derived cells
    // to NULL
    "q238_calendar_retention" -> """
      WITH ud AS (
        SELECT DISTINCT
          CAST(year(CAST(o_orderdate AS DATE)) * 12 +
            month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS p,
          o_custkey
        FROM orders),
      act AS (SELECT p, count(*) AS active FROM ud GROUP BY p),
      ret AS (
        SELECT a.p, count(*) AS retained
        FROM ud a JOIN ud b ON b.p = a.p - 1 AND b.o_custkey = a.o_custkey
        GROUP BY a.p)
      SELECT act.p AS period,
        strftime(make_date(CAST(act.p // 12 AS INT),
          CAST(act.p % 12 AS INT) + 1, 1), '%Y-%m-%d') AS period_start,
        act.active,
        pa.active AS prev_active,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE COALESCE(ret.retained, 0) END AS retained,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE pa.active - COALESCE(ret.retained, 0) END AS churned,
        CASE WHEN pa.p IS NULL THEN NULL
             ELSE act.active - COALESCE(ret.retained, 0) END AS new_ids
      FROM act
      LEFT JOIN act pa ON pa.p = act.p - 1
      LEFT JOIN ret ON ret.p = act.p
      ORDER BY period""",
    // lifetime curves recomputed raw: first-seen day per user gives
    // both the cumulative distinct (running sum of first-seen counts)
    // and the increment; revenue is the decimal window sum
    "q239_cumulative_users" -> """
      WITH e AS (
        SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS day,
          user_id, value
        FROM events),
      f AS (SELECT user_id, min(day) AS fd FROM e GROUP BY 1),
      nd AS (SELECT fd AS day, count(*) AS n FROM f GROUP BY 1),
      ds AS (SELECT day, sum(CAST(value AS DECIMAL(18,2))) AS sv
             FROM e GROUP BY 1)
      SELECT ds.day,
        CAST(sum(COALESCE(nd.n, 0)) OVER (ORDER BY ds.day) AS BIGINT)
          AS cum_exact_u,
        CAST(COALESCE(nd.n, 0) AS BIGINT) AS new_exact_u,
        CAST(sum(ds.sv) OVER (ORDER BY ds.day) AS DOUBLE) AS cum_sum_v
      FROM ds LEFT JOIN nd ON nd.day = ds.day
      ORDER BY ds.day""",
    // the YTD twin: first-seen and running sums partition per calendar
    // year — every curve restarts at Jan 1
    "q240_ytd_cumulative" -> """
      WITH e AS (
        SELECT date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) AS day,
          year(CAST(o_orderdate AS DATE)) AS y, o_custkey, o_totalprice
        FROM orders),
      f AS (SELECT y, o_custkey, min(day) AS fd FROM e GROUP BY 1, 2),
      nd AS (SELECT y, fd AS day, count(*) AS n FROM f GROUP BY 1, 2),
      ds AS (SELECT y, day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
             FROM e GROUP BY 1, 2)
      SELECT ds.day,
        CAST(sum(COALESCE(nd.n, 0))
          OVER (PARTITION BY ds.y ORDER BY ds.day) AS BIGINT)
          AS cum_exact_c,
        CAST(COALESCE(nd.n, 0) AS BIGINT) AS new_exact_c,
        CAST(sum(ds.sv) OVER (PARTITION BY ds.y ORDER BY ds.day)
          AS DOUBLE) AS cum_sum_rev
      FROM ds LEFT JOIN nd ON nd.y = ds.y AND nd.day = ds.day
      ORDER BY ds.day""",
    // the funnel recomputed raw with the min-conversion-time
    // recursion: t_k(user) = min period >= t_{k-1} with step-k
    // activity; converted_k at P = #users with t_k <= P
    "q241_funnel_bitmap" -> """
      WITH ev AS (
        SELECT user_id, event_type AS s,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
      ps AS (SELECT DISTINCT p FROM ev),
      t1 AS (SELECT user_id, min(p) AS t FROM ev WHERE s = 'view'
             GROUP BY 1),
      t2 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t1 ON t1.user_id = e.user_id AND e.p >= t1.t
             WHERE e.s = 'click' GROUP BY 1),
      t3 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t2 ON t2.user_id = e.user_id AND e.p >= t2.t
             WHERE e.s = 'purchase' GROUP BY 1)
      SELECT ps.p AS period, 1 AS step_ord, 'view' AS step,
        (SELECT count(*) FROM t1 WHERE t1.t <= ps.p) AS converted
      FROM ps
      UNION ALL
      SELECT ps.p, 2, 'click',
        (SELECT count(*) FROM t2 WHERE t2.t <= ps.p) FROM ps
      UNION ALL
      SELECT ps.p, 3, 'purchase',
        (SELECT count(*) FROM t3 WHERE t3.t <= ps.p) FROM ps
      ORDER BY period, step_ord""",
    // the per-segment recursion: conversion times computed WITHIN each
    // JSON-derived segment's events (cells partition events, not users)
    "q245_segmented_funnel" -> """
      WITH ev AS (
        SELECT CAST(json_extract_string(props, '$.k') AS INT) % 2 AS seg,
          user_id, event_type AS s,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
      ps AS (SELECT DISTINCT seg, p FROM ev),
      t1 AS (SELECT seg, user_id, min(p) AS t FROM ev WHERE s = 'view'
             GROUP BY 1, 2),
      t2 AS (SELECT e.seg, e.user_id, min(e.p) AS t FROM ev e
             JOIN t1 ON t1.seg = e.seg AND t1.user_id = e.user_id
               AND e.p >= t1.t
             WHERE e.s = 'click' GROUP BY 1, 2),
      t3 AS (SELECT e.seg, e.user_id, min(e.p) AS t FROM ev e
             JOIN t2 ON t2.seg = e.seg AND t2.user_id = e.user_id
               AND e.p >= t2.t
             WHERE e.s = 'purchase' GROUP BY 1, 2)
      SELECT ps.seg, ps.p AS period, 1 AS step_ord, 'view' AS step,
        (SELECT count(*) FROM t1
         WHERE t1.seg = ps.seg AND t1.t <= ps.p) AS converted
      FROM ps
      UNION ALL
      SELECT ps.seg, ps.p, 2, 'click',
        (SELECT count(*) FROM t2
         WHERE t2.seg = ps.seg AND t2.t <= ps.p) FROM ps
      UNION ALL
      SELECT ps.seg, ps.p, 3, 'purchase',
        (SELECT count(*) FROM t3
         WHERE t3.seg = ps.seg AND t3.t <= ps.p) FROM ps
      ORDER BY seg, period, step_ord""",
    // the raw min-join conversion chain recomputed in full — the
    // optimizer-routed bitmap cascade must hash-match it, row set
    // included (only observed days with >= 1 converted id)
    "q252_funnel_routing" -> """
      WITH ev AS (
        SELECT user_id, event_type AS s,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      t1 AS (SELECT user_id, min(p) AS t FROM ev WHERE s = 'view'
             GROUP BY 1),
      t2 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t1 ON t1.user_id = e.user_id AND e.p >= t1.t
             WHERE e.s = 'click' GROUP BY 1),
      t3 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t2 ON t2.user_id = e.user_id AND e.p >= t2.t
             WHERE e.s = 'purchase' GROUP BY 1),
      days AS (SELECT DISTINCT p AS day FROM ev)
      SELECT days.day, count(DISTINCT t3.user_id) AS converted
      FROM days JOIN t3 ON t3.t <= days.day
      GROUP BY 1
      ORDER BY 1""",
    // the advised weekly chain recomputed raw — advise → materialize
    // verbatim → route must serve the workload's own numbers
    "q254_advised_funnel" -> """
      WITH ev AS (
        SELECT user_id, event_type AS s,
          CAST(floor(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            / 7) AS BIGINT) AS p
        FROM events),
      t1 AS (SELECT user_id, min(p) AS t FROM ev WHERE s = 'view'
             GROUP BY 1),
      t2 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t1 ON t1.user_id = e.user_id AND e.p >= t1.t
             WHERE e.s = 'click' GROUP BY 1),
      t3 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t2 ON t2.user_id = e.user_id AND e.p >= t2.t
             WHERE e.s = 'purchase' GROUP BY 1),
      periods AS (SELECT DISTINCT p AS period FROM ev)
      SELECT periods.period, count(DISTINCT t3.user_id) AS converted
      FROM periods JOIN t3 ON t3.t <= periods.period
      GROUP BY 1
      ORDER BY 1""",
    // the SQL-text chain (signup -> purchase) recomputed raw
    "q253_sql_funnel_routing" -> """
      WITH ev AS (
        SELECT user_id, event_type AS s,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      t1 AS (SELECT user_id, min(p) AS t FROM ev WHERE s = 'signup'
             GROUP BY 1),
      t2 AS (SELECT e.user_id, min(e.p) AS t FROM ev e
             JOIN t1 ON t1.user_id = e.user_id AND e.p >= t1.t
             WHERE e.s = 'purchase' GROUP BY 1),
      days AS (SELECT DISTINCT p AS day FROM ev)
      SELECT days.day, count(DISTINCT t2.user_id) AS converted
      FROM days JOIN t2 ON t2.t <= days.day
      GROUP BY 1
      ORDER BY 1""",
    // the windowed chain recursion: qualified pairs per step with
    // adjacent gaps <= 3, then min-qualification times per user
    "q246_window_funnel" -> """
      WITH ev AS (
        SELECT user_id, event_type AS s,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
      ps AS (SELECT DISTINCT p FROM ev),
      c1 AS (SELECT DISTINCT user_id, p FROM ev WHERE s = 'view'),
      c2 AS (SELECT DISTINCT e.user_id, e.p FROM ev e
             JOIN c1 ON c1.user_id = e.user_id
               AND c1.p BETWEEN e.p - 3 AND e.p
             WHERE e.s = 'click'),
      c3 AS (SELECT DISTINCT e.user_id, e.p FROM ev e
             JOIN c2 ON c2.user_id = e.user_id
               AND c2.p BETWEEN e.p - 3 AND e.p
             WHERE e.s = 'purchase'),
      t1 AS (SELECT user_id, min(p) AS t FROM c1 GROUP BY 1),
      t2 AS (SELECT user_id, min(p) AS t FROM c2 GROUP BY 1),
      t3 AS (SELECT user_id, min(p) AS t FROM c3 GROUP BY 1)
      SELECT ps.p AS period, 1 AS step_ord, 'view' AS step,
        (SELECT count(*) FROM t1 WHERE t1.t <= ps.p) AS converted
      FROM ps
      UNION ALL
      SELECT ps.p, 2, 'click',
        (SELECT count(*) FROM t2 WHERE t2.t <= ps.p) FROM ps
      UNION ALL
      SELECT ps.p, 3, 'purchase',
        (SELECT count(*) FROM t3 WHERE t3.t <= ps.p) FROM ps
      ORDER BY period, step_ord""",
    // every overlap cell recomputed from distinct (type, user) pairs
    "q247_overlap_matrix" -> """
      WITH du AS (SELECT DISTINCT event_type AS et, user_id FROM events),
      s AS (SELECT et, count(*) AS n FROM du GROUP BY 1),
      ov AS (SELECT a.et AS a, b.et AS b, count(*) AS o
             FROM du a JOIN du b
               ON a.user_id = b.user_id AND a.et < b.et
             GROUP BY 1, 2)
      SELECT sa.et AS a, sb.et AS b,
        sa.n AS n_a, sb.n AS n_b,
        COALESCE(ov.o, 0) AS overlap,
        sa.n - COALESCE(ov.o, 0) AS only_a,
        sb.n - COALESCE(ov.o, 0) AS only_b,
        CAST(COALESCE(ov.o, 0) AS DOUBLE) /
          (sa.n + sb.n - COALESCE(ov.o, 0)) AS jaccard
      FROM s sa JOIN s sb ON sa.et < sb.et
      LEFT JOIN ov ON ov.a = sa.et AND ov.b = sb.et
      ORDER BY a, b""",
    // the triangle recomputed raw: first-seen day per user, joined
    // back to every (user, day) pair — only observed cells appear
    "q248_cohort_matrix" -> """
      WITH ud AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      f AS (SELECT user_id, min(p) AS c FROM ud GROUP BY 1),
      cs AS (SELECT c, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.c AS cohort, ud.p - f.c AS "offset",
        cs.cohort_size, count(*) AS retained
      FROM ud
      JOIN f ON f.user_id = ud.user_id
      JOIN cs ON cs.c = f.c
      GROUP BY 1, 2, 3
      ORDER BY cohort, "offset"""",
    // the monthly triangle recomputed raw with the same month ordinal
    "q249_calendar_cohorts" -> """
      WITH ud AS (
        SELECT DISTINCT o_custkey,
          CAST(year(CAST(o_orderdate AS DATE)) * 12 +
            month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS p
        FROM orders),
      f AS (SELECT o_custkey, min(p) AS c FROM ud GROUP BY 1),
      cs AS (SELECT c, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.c AS cohort, ud.p - f.c AS "offset",
        cs.cohort_size, count(*) AS retained
      FROM ud
      JOIN f ON f.o_custkey = ud.o_custkey
      JOIN cs ON cs.c = f.c
      GROUP BY 1, 2, 3
      ORDER BY cohort, "offset"""",
    // same curve as q228 — the SQL text and the DataFrame form must
    // serve the identical routed answer
    "q242_sql_rolling_routing" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // the quadratic raw form recomputed verbatim — the routed
    // prefix-union serve must hash-match it
    "q243_cumulative_routing" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS cum_users
      FROM days JOIN du ON du.d <= days.day
      GROUP BY 1
      ORDER BY 1""",
    // the archived version IS the pre-cutoff state: the oracle
    // recomputes the lifetime curves from raw pre-1996 orders only
    "q244_cohort_time_travel" -> """
      WITH e AS (
        SELECT date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) AS day,
          o_custkey, o_totalprice
        FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'),
      f AS (SELECT o_custkey, min(day) AS fd FROM e GROUP BY 1),
      nd AS (SELECT fd AS day, count(*) AS n FROM f GROUP BY 1),
      ds AS (SELECT day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
             FROM e GROUP BY 1)
      SELECT ds.day,
        CAST(sum(COALESCE(nd.n, 0)) OVER (ORDER BY ds.day) AS BIGINT)
          AS cum_exact_c,
        CAST(COALESCE(nd.n, 0) AS BIGINT) AS new_exact_c,
        CAST(sum(ds.sv) OVER (ORDER BY ds.day) AS DOUBLE) AS cum_sum_rev
      FROM ds LEFT JOIN nd ON nd.day = ds.day
      ORDER BY ds.day""",
    // the weekly retained-supplier curve recomputed with the raw
    // self-join OVER the raw join — the MV-routed AND-walk must
    // hash-match it
    "q261_join_retention_routing" -> """
      WITH up AS (
        SELECT DISTINCT l.l_suppkey,
          CAST(floor(floor(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)))
            / 86400) / 7) AS BIGINT) AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
      SELECT a.p AS period, count(DISTINCT a.l_suppkey) AS retained
      FROM up a JOIN up b ON b.p = a.p - 1 AND b.l_suppkey = a.l_suppkey
      GROUP BY 1
      ORDER BY 1""",
    // lifetime distinct suppliers by order day recomputed with the raw
    // quadratic join over the raw join
    "q262_join_cumulative_routing" -> """
      WITH du AS (
        SELECT DISTINCT l.l_suppkey,
          CAST(floor(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)))
            / 86400) AS BIGINT) AS d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.l_suppkey) AS cum_supps
      FROM days JOIN du ON du.d <= days.day
      GROUP BY 1
      ORDER BY 1""",
    // the N -> R supplier chain recomputed raw over the raw join —
    // the MV-routed cascade must hash-match it
    "q263_join_funnel_routing" -> """
      WITH ev AS (
        SELECT l.l_suppkey, l.l_returnflag AS s,
          CAST(floor(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)))
            / 86400) AS BIGINT) AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      t1 AS (SELECT l_suppkey, min(p) AS t FROM ev WHERE s = 'N'
             GROUP BY 1),
      t2 AS (SELECT e.l_suppkey, min(e.p) AS t FROM ev e
             JOIN t1 ON t1.l_suppkey = e.l_suppkey AND e.p >= t1.t
             WHERE e.s = 'R' GROUP BY 1),
      days AS (SELECT DISTINCT p AS day FROM ev)
      SELECT days.day, count(DISTINCT t2.l_suppkey) AS converted
      FROM days JOIN t2 ON t2.t <= days.day
      GROUP BY 1
      ORDER BY 1""",
    // the raw min-period groups — the routed prefix-ANDNOT serve must
    // hash-match them (row set: only periods that ARE some id's first)
    "q264_first_seen_routing" -> """
      WITH du AS (
        SELECT o_custkey,
          CAST(floor(CAST(floor(floor(epoch(CAST(o_orderdate
            AS TIMESTAMP))) / 86400) AS BIGINT) / 7.0) AS BIGINT) AS w
        FROM orders),
      f AS (SELECT o_custkey, min(w) AS fw FROM du GROUP BY 1)
      SELECT fw AS week, count(o_custkey) AS new_custs
      FROM f GROUP BY 1 ORDER BY 1""",
    // the raw two-level group-by — the routed k-count partition must
    // hash-match it (buckets with >= 1 user, like the raw groups)
    "q265_engagement_routing" -> """
      WITH du AS (
        SELECT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS d
        FROM events),
      nd AS (SELECT user_id, count(DISTINCT d) AS days_active
             FROM du WHERE d BETWEEN 19723 AND 19750 GROUP BY 1)
      SELECT days_active, count(user_id) AS users
      FROM nd GROUP BY 1 ORDER BY 1""",
    // q264 per segment: per-(id, priority) min week, re-counted per
    // (priority, week) — the per-segment ANDNOT walk must hash-match
    "q270_segmented_first_seen_routing" -> """
      WITH du AS (
        SELECT o_custkey, o_orderpriority,
          CAST(floor(CAST(floor(floor(epoch(CAST(o_orderdate
            AS TIMESTAMP))) / 86400) AS BIGINT) / 7.0) AS BIGINT) AS w
        FROM orders),
      f AS (SELECT o_custkey, o_orderpriority, min(w) AS fw
            FROM du GROUP BY 1, 2)
      SELECT o_orderpriority AS prio, fw AS week,
        count(o_custkey) AS new_custs
      FROM f GROUP BY 1, 2 ORDER BY 1, 2""",
    // q265 per segment: per-(id, event type) distinct window days,
    // re-counted per (event type, level) — the per-segment k-count
    // partition must hash-match
    "q271_segmented_engagement_routing" -> """
      WITH du AS (
        SELECT user_id, event_type,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS d
        FROM events),
      nd AS (SELECT user_id, event_type,
               count(DISTINCT d) AS days_active
             FROM du WHERE d BETWEEN 19723 AND 19750 GROUP BY 1, 2)
      SELECT event_type AS etype, days_active, count(user_id) AS users
      FROM nd GROUP BY 1, 2 ORDER BY 1, 2""",
    // growth accounting's fourth cell recomputed raw: absent from
    // w−1, seen before — the routed ANDNOT-prefix walk must hash-match
    "q272_resurrected_routing" -> """
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(floor(CAST(floor(floor(epoch(CAST(o_orderdate
            AS TIMESTAMP))) / 86400) AS BIGINT) / 7.0) AS BIGINT) AS w
        FROM orders),
      r AS (
        SELECT cur.w, cur.o_custkey
        FROM du cur
        WHERE NOT EXISTS (SELECT 1 FROM du p
                WHERE p.o_custkey = cur.o_custkey AND p.w = cur.w - 1)
          AND EXISTS (SELECT 1 FROM du q
                WHERE q.o_custkey = cur.o_custkey AND q.w < cur.w))
      SELECT w AS week, count(DISTINCT o_custkey) AS resurrected
      FROM r GROUP BY 1 ORDER BY 1""",
    "q273_sql_resurrected_routing" -> """
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(floor(CAST(floor(floor(epoch(CAST(o_orderdate
            AS TIMESTAMP))) / 86400) AS BIGINT) / 14.0) AS BIGINT) AS w
        FROM orders),
      r AS (
        SELECT cur.w, cur.o_custkey
        FROM du cur
        WHERE NOT EXISTS (SELECT 1 FROM du p
                WHERE p.o_custkey = cur.o_custkey AND p.w = cur.w - 1)
          AND EXISTS (SELECT 1 FROM du q
                WHERE q.o_custkey = cur.o_custkey AND q.w < cur.w))
      SELECT w AS fortnight, count(DISTINCT o_custkey) AS resurrected
      FROM r GROUP BY 1 ORDER BY 1""",
    "q274_join_resurrected_routing" -> """
      WITH du AS (
        SELECT DISTINCT l.l_suppkey,
          CAST(floor(CAST(floor(floor(epoch(CAST(o.o_orderdate
            AS TIMESTAMP))) / 86400) AS BIGINT) / 7.0) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      r AS (
        SELECT cur.w, cur.l_suppkey
        FROM du cur
        WHERE NOT EXISTS (SELECT 1 FROM du p
                WHERE p.l_suppkey = cur.l_suppkey AND p.w = cur.w - 1)
          AND EXISTS (SELECT 1 FROM du q
                WHERE q.l_suppkey = cur.l_suppkey AND q.w < cur.w))
      SELECT w AS week, count(DISTINCT l_suppkey) AS resurrected
      FROM r GROUP BY 1 ORDER BY 1""",
    // monthly cohort retention recomputed raw over the integer month
    // ordinal — the calendar-collapsed AND-walk must hash-match,
    // December -> January edges included
    "q275_calendar_retention_routing" -> """
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m
        FROM orders)
      SELECT cur.m AS month_ord,
        count(DISTINCT cur.o_custkey) AS retained
      FROM du cur JOIN du prev
        ON cur.o_custkey = prev.o_custkey AND prev.m = cur.m - 1
      GROUP BY 1 ORDER BY 1""",
    "q276_quarterly_first_seen_routing" -> """
      WITH f AS (
        SELECT o_custkey,
          min(CAST(year(o_orderdate) * 4 + quarter(o_orderdate)
            AS BIGINT)) AS fq
        FROM orders GROUP BY 1)
      SELECT fq AS quarter_ord, count(o_custkey) AS new_custs
      FROM f GROUP BY 1 ORDER BY 1""",
    // the monthly min-join conversion recursion recomputed raw — the
    // calendar-collapsed cascade must hash-match
    "q277_monthly_funnel_routing" -> """
      WITH p1 AS (
        SELECT o_custkey,
          min(CAST(year(o_orderdate) * 12 + month(o_orderdate)
            AS BIGINT)) AS t1
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      e2 AS (
        SELECT o_custkey,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS p
        FROM orders WHERE o_orderpriority = '2-HIGH'),
      p2 AS (
        SELECT e2.o_custkey, min(e2.p) AS t2
        FROM e2 JOIN p1
          ON e2.o_custkey = p1.o_custkey AND e2.p >= p1.t1
        GROUP BY 1),
      m AS (
        SELECT DISTINCT
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m
        FROM orders)
      SELECT m.m AS month_ord, count(DISTINCT p2.o_custkey) AS converted
      FROM m JOIN p2 ON p2.t2 <= m.m
      GROUP BY 1 ORDER BY 1""",
    // the conversion-lag histogram recomputed raw: the min-chain
    // recursion, then count per (t3 - t1)
    "q278_time_to_convert" -> """
      WITH ev AS (
        SELECT user_id, event_type,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      s1 AS (SELECT user_id, min(p) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.p) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id AND e.p >= s1.t1
             WHERE e.event_type = 'click' GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.p) AS t3 FROM ev e
             JOIN s2 ON e.user_id = s2.user_id AND e.p >= s2.t2
             WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT s3.t3 - s1.t1 AS lag_periods, count(*) AS converted
      FROM s3 JOIN s1 ON s3.user_id = s1.user_id
      GROUP BY 1 ORDER BY 1""",
    "q279_sql_calendar_retention" -> """
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m
        FROM orders)
      SELECT cur.m AS month_ord,
        count(DISTINCT cur.o_custkey) AS retained
      FROM du cur JOIN du prev
        ON cur.o_custkey = prev.o_custkey AND prev.m = cur.m - 1
      GROUP BY 1 ORDER BY 1""",
    // the monthly min-chain + per-id subtraction recomputed raw — the
    // ordinal-collapsed lag histogram must hash-match (offsets cancel
    // in the difference, so any consistent month encoding agrees)
    "q280_calendar_time_to_convert" -> """
      WITH p1 AS (
        SELECT o_custkey,
          min(CAST(year(o_orderdate) * 12 + month(o_orderdate)
            AS BIGINT)) AS t1
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      e2 AS (
        SELECT o_custkey,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS p
        FROM orders WHERE o_orderpriority = '2-HIGH'),
      p2 AS (
        SELECT e2.o_custkey, min(e2.p) AS t2
        FROM e2 JOIN p1
          ON e2.o_custkey = p1.o_custkey AND e2.p >= p1.t1
        GROUP BY 1)
      SELECT p2.t2 - p1.t1 AS lag_periods, count(*) AS converted
      FROM p2 JOIN p1 ON p2.o_custkey = p1.o_custkey
      GROUP BY 1 ORDER BY 1""",
    // the MRR bridge recomputed raw: per-(customer, week) sums,
    // first-seen weeks, adjacent-period joins for the retained deltas
    // and the churn — every column hash-matched as exact money
    "q288_value_growth_accounting" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS fp FROM g GROUP BY 1),
      ps AS (SELECT DISTINCT p FROM g),
      prv AS (SELECT p + 1 AS p, id, w FROM g),
      rev AS (SELECT p, sum(w) AS v FROM g GROUP BY 1),
      prevrev AS (SELECT p + 1 AS p, sum(w) AS v FROM g GROUP BY 1),
      newv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND g.p = f.fp GROUP BY 1),
      resv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND f.fp < g.p
               LEFT JOIN prv ON prv.p = g.p AND prv.id = g.id
               WHERE prv.id IS NULL GROUP BY 1),
      delta AS (SELECT g.p,
          sum(greatest(g.w - prv.w, 0)) AS exp,
          sum(greatest(prv.w - g.w, 0)) AS con
        FROM g JOIN prv ON prv.p = g.p AND prv.id = g.id GROUP BY 1),
      chu AS (SELECT prv.p, sum(prv.w) AS v FROM prv
              LEFT JOIN g ON g.p = prv.p AND g.id = prv.id
              WHERE g.id IS NULL GROUP BY 1)
      SELECT ps.p AS period,
        CAST(CAST(COALESCE(rev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS revenue,
        CAST(CAST(COALESCE(prevrev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS prev_revenue,
        CAST(CAST(COALESCE(newv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS new_value,
        CAST(CAST(COALESCE(resv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS resurrected_value,
        CAST(CAST(COALESCE(delta.exp, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS expansion,
        CAST(CAST(COALESCE(delta.con, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS contraction,
        CAST(CAST(COALESCE(chu.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS churned_value
      FROM ps
      LEFT JOIN rev ON rev.p = ps.p
      LEFT JOIN prevrev ON prevrev.p = ps.p
      LEFT JOIN newv ON newv.p = ps.p
      LEFT JOIN resv ON resv.p = ps.p
      LEFT JOIN delta ON delta.p = ps.p
      LEFT JOIN chu ON chu.p = ps.p
      ORDER BY 1""",
    // the same bridge on calendar-month ordinals with the bucket's
    // first-day label (year*12 + month - 1, the serve's encoding)
    "q289_calendar_value_growth" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
            AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS fp FROM g GROUP BY 1),
      ps AS (SELECT DISTINCT p FROM g),
      prv AS (SELECT p + 1 AS p, id, w FROM g),
      rev AS (SELECT p, sum(w) AS v FROM g GROUP BY 1),
      prevrev AS (SELECT p + 1 AS p, sum(w) AS v FROM g GROUP BY 1),
      newv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND g.p = f.fp GROUP BY 1),
      resv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND f.fp < g.p
               LEFT JOIN prv ON prv.p = g.p AND prv.id = g.id
               WHERE prv.id IS NULL GROUP BY 1),
      delta AS (SELECT g.p,
          sum(greatest(g.w - prv.w, 0)) AS exp,
          sum(greatest(prv.w - g.w, 0)) AS con
        FROM g JOIN prv ON prv.p = g.p AND prv.id = g.id GROUP BY 1),
      chu AS (SELECT prv.p, sum(prv.w) AS v FROM prv
              LEFT JOIN g ON g.p = prv.p AND g.id = prv.id
              WHERE g.id IS NULL GROUP BY 1)
      SELECT ps.p AS period,
        CAST(CAST(COALESCE(rev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS revenue,
        CAST(CAST(COALESCE(prevrev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS prev_revenue,
        CAST(CAST(COALESCE(newv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS new_value,
        CAST(CAST(COALESCE(resv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS resurrected_value,
        CAST(CAST(COALESCE(delta.exp, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS expansion,
        CAST(CAST(COALESCE(delta.con, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS contraction,
        CAST(CAST(COALESCE(chu.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS churned_value,
        strftime(make_date(CAST(ps.p // 12 AS INT),
          CAST(ps.p % 12 AS INT) + 1, 1), '%Y-%m-%d') AS period_start
      FROM ps
      LEFT JOIN rev ON rev.p = ps.p
      LEFT JOIN prevrev ON prevrev.p = ps.p
      LEFT JOIN newv ON newv.p = ps.p
      LEFT JOIN resv ON resv.p = ps.p
      LEFT JOIN delta ON delta.p = ps.p
      LEFT JOIN chu ON chu.p = ps.p
      ORDER BY 1""",
    // the string-keyed matrix recomputed over the raw string ids —
    // hash equality proves the dictionary encoding end to end (any
    // injective map yields the same id-free matrix)
    "q291_dict_cohort_value" -> """
      WITH g AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
            AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1),
      cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value,
        strftime(make_date(CAST(f.cohort // 12 AS INT),
          CAST(f.cohort % 12 AS INT) + 1, 1), '%Y-%m-%d') AS cohort_start
      FROM g JOIN f ON g.id = f.id JOIN cs ON f.cohort = cs.cohort
      GROUP BY 1, 2, 3, 6
      ORDER BY 1, 2""",
    // the string-keyed board with VISIBLE ids — ties break on the
    // original key, so the dictionary round-trip must be lossless
    "q292_dict_top_spenders" -> """
      WITH g AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      r AS (SELECT p AS period, id, w,
          row_number() OVER (PARTITION BY p ORDER BY w DESC, id ASC)
            AS rank
        FROM g)
      SELECT period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 5
      ORDER BY 1, 2""",
    // ~5 x 344 sliced boards recomputed raw — the per-(priority,
    // week) bounded selections must hash-match under the same tiebreak
    "q302_segmented_top_spenders_routing" -> """
      WITH g AS (
        SELECT o_orderpriority AS prio, o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2, 3),
      r AS (SELECT prio, p AS period, id, w,
          row_number() OVER (PARTITION BY prio, p
                             ORDER BY w DESC, id ASC) AS rank
        FROM g)
      SELECT prio, period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 3
      ORDER BY 1, 2, 3""",
    // the BI text form of q295 recomputed raw — the routed board
    // must hash-match under the same deterministic tiebreak
    "q300_sql_top_spenders_routing" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT p AS period, id, w,
          row_number() OVER (PARTITION BY p ORDER BY w DESC, id ASC)
            AS rank
        FROM g)
      SELECT period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 5
      ORDER BY 1, 2""",
    // the min-chain + per-id subtraction recomputed raw — the routed
    // (F, N) bitmap pairing must hash-match the lag histogram
    "q299_time_to_convert_routing" -> """
      WITH ev AS (
        SELECT user_id, event_type,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      s1 AS (SELECT user_id, min(p) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.p) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id AND e.p >= s1.t1
             WHERE e.event_type = 'click' GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.p) AS t3 FROM ev e
             JOIN s2 ON e.user_id = s2.user_id AND e.p >= s2.t2
             WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT s3.t3 - s1.t1 AS lag_periods,
        CAST(count(*) AS BIGINT) AS converted
      FROM s3 JOIN s1 ON s3.user_id = s1.user_id
      GROUP BY 1 ORDER BY 1""",
    // the windowed qualified-pair recursion recomputed raw — the
    // routed bounded cascade must hash-match the conversion curve
    "q298_window_funnel_routing" -> """
      WITH ev AS (
        SELECT user_id, event_type AS s,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      c1 AS (SELECT DISTINCT user_id, p FROM ev WHERE s = 'view'),
      c2 AS (SELECT DISTINCT e.user_id, e.p FROM ev e
             JOIN c1 ON c1.user_id = e.user_id
               AND c1.p BETWEEN e.p - 3 AND e.p
             WHERE e.s = 'click'),
      c3 AS (SELECT DISTINCT e.user_id, e.p FROM ev e
             JOIN c2 ON c2.user_id = e.user_id
               AND c2.p BETWEEN e.p - 3 AND e.p
             WHERE e.s = 'purchase'),
      t3 AS (SELECT user_id, min(p) AS t FROM c3 GROUP BY 1),
      ps AS (SELECT DISTINCT p FROM ev)
      SELECT ps.p AS day,
        CAST(count(DISTINCT t3.user_id) AS BIGINT) AS converted
      FROM ps JOIN t3 ON t3.t <= ps.p
      GROUP BY 1 ORDER BY 1""",
    // the raw seven-column bridge recomputed in DuckDB — every routed
    // term (revenue, spine, new, resurrected, expansion/contraction,
    // churn) must hash-match under the same LEFT-JOIN shell
    "q301_sql_bridge_dashboard_routing" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS fp FROM g GROUP BY 1),
      ps AS (SELECT DISTINCT p FROM g),
      prv AS (SELECT p + 1 AS p, id, w FROM g),
      rev AS (SELECT p, sum(w) AS v FROM g GROUP BY 1),
      prevrev AS (SELECT p + 1 AS p, sum(w) AS v FROM g GROUP BY 1),
      newv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND g.p = f.fp GROUP BY 1),
      resv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND f.fp < g.p
               LEFT JOIN prv ON prv.p = g.p AND prv.id = g.id
               WHERE prv.id IS NULL GROUP BY 1),
      delta AS (SELECT g.p,
          sum(greatest(g.w - prv.w, 0)) AS exp,
          sum(greatest(prv.w - g.w, 0)) AS con
        FROM g JOIN prv ON prv.p = g.p AND prv.id = g.id GROUP BY 1),
      chu AS (SELECT prv.p, sum(prv.w) AS v FROM prv
              LEFT JOIN g ON g.p = prv.p AND g.id = prv.id
              WHERE g.id IS NULL GROUP BY 1)
      SELECT ps.p AS period,
        CAST(CAST(COALESCE(rev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS revenue,
        CAST(CAST(COALESCE(prevrev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS prev_revenue,
        CAST(CAST(COALESCE(newv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS new_value,
        CAST(CAST(COALESCE(resv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS resurrected_value,
        CAST(CAST(COALESCE(delta.exp, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS expansion,
        CAST(CAST(COALESCE(delta.con, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS contraction,
        CAST(CAST(COALESCE(chu.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS churned_value
      FROM ps
      LEFT JOIN rev ON rev.p = ps.p
      LEFT JOIN prevrev ON prevrev.p = ps.p
      LEFT JOIN newv ON newv.p = ps.p
      LEFT JOIN resv ON resv.p = ps.p
      LEFT JOIN delta ON delta.p = ps.p
      LEFT JOIN chu ON chu.p = ps.p
      ORDER BY 1""",
    // the raw count-distinct retention triangle recomputed in DuckDB —
    // the bitmap-routed heatmap must hash-match it cell for cell
    "q303_cohort_matrix_routing" -> """
      WITH a AS (
        SELECT DISTINCT user_id AS id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p
        FROM events),
      f AS (SELECT id, min(p) AS cohort FROM a GROUP BY 1)
      SELECT f.cohort, a.p - f.cohort AS offset,
        CAST(count(DISTINCT a.id) AS BIGINT) AS active
      FROM a JOIN f ON a.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the raw monthly-ordinal triangle recomputed in DuckDB — the
    // calendar-collapsed bitmap serve must hash-match it
    "q304_calendar_cohort_matrix_routing" -> """
      WITH a AS (
        SELECT DISTINCT o_custkey AS id,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m
        FROM orders),
      f AS (SELECT id, min(m) AS cohort FROM a GROUP BY 1)
      SELECT f.cohort, a.m - f.cohort AS offset,
        CAST(count(DISTINCT a.id) AS BIGINT) AS active
      FROM a JOIN f ON a.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the raw weekly triangle over STRING keys recomputed in DuckDB —
    // the dictionary-bitmap serve must hash-match it
    "q305_dict_cohort_matrix_routing" -> """
      WITH a AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p
        FROM orders),
      f AS (SELECT id, min(p) AS cohort FROM a GROUP BY 1)
      SELECT f.cohort, a.p - f.cohort AS offset,
        CAST(count(DISTINCT a.id) AS BIGINT) AS active
      FROM a JOIN f ON a.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // every (priority, week) top-3 board recomputed raw from the rows
    // the VERSION-0 slice contained (o_orderkey % 5 <> 4), over the
    // raw string keys — the archived weight maps + the version-safe
    // dictionary translation must hash-match under the same tiebreak
    "q310_dict_seg_top_spenders_asof" -> """
      WITH g AS (
        SELECT o_orderpriority AS prio,
          'c' || CAST(o_custkey AS VARCHAR) AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders WHERE o_orderkey % 5 <> 4 GROUP BY 1, 2, 3),
      r AS (SELECT prio, p AS period, id, w,
          row_number() OVER (PARTITION BY prio, p
                             ORDER BY w DESC, id ASC) AS rank
        FROM g)
      SELECT prio, period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 3
      ORDER BY 1, 2, 3""",
    // the raw min-chain subtraction over the join recomputed in
    // DuckDB — the (F, N)-paired join-MV serve must hash-match it
    "q308_join_time_to_convert_routing" -> """
      WITH ev AS (
        SELECT l.l_suppkey, l.l_returnflag AS s,
          CAST(floor(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)))
            / 86400) AS BIGINT) AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      t1 AS (SELECT l_suppkey, min(p) AS t1 FROM ev WHERE s = 'N'
             GROUP BY 1),
      t2 AS (SELECT e.l_suppkey, min(e.p) AS t2 FROM ev e
             JOIN t1 ON t1.l_suppkey = e.l_suppkey AND e.p >= t1.t1
             WHERE e.s = 'R' GROUP BY 1)
      SELECT t2.t2 - t1.t1 AS lag_days,
        CAST(count(1) AS BIGINT) AS converted
      FROM t2 JOIN t1 ON t2.l_suppkey = t1.l_suppkey
      GROUP BY 1
      ORDER BY 1""",
    // the monthly-ordinal qualified-pair recursion recomputed raw —
    // the calendar-collapsed bounded cascade must hash-match it
    "q309_calendar_window_funnel_routing" -> """
      WITH ev AS (
        SELECT o_custkey, o_orderpriority AS s,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS p
        FROM orders),
      q1 AS (SELECT DISTINCT o_custkey, p FROM ev WHERE s = '1-URGENT'),
      q2 AS (SELECT DISTINCT e.o_custkey, e.p FROM ev e
             JOIN q1 c ON c.o_custkey = e.o_custkey
               AND c.p BETWEEN e.p - 1 AND e.p
             WHERE e.s = '2-HIGH'),
      q3 AS (SELECT DISTINCT e.o_custkey, e.p FROM ev e
             JOIN q2 c ON c.o_custkey = e.o_custkey
               AND c.p BETWEEN e.p - 1 AND e.p
             WHERE e.s = '3-MEDIUM'),
      t AS (SELECT o_custkey, min(p) AS t FROM q3 GROUP BY 1),
      months AS (SELECT DISTINCT p AS m FROM ev)
      SELECT months.m, count(DISTINCT t.o_custkey) AS converted
      FROM months JOIN t ON t.t <= months.m
      GROUP BY 1
      ORDER BY 1""",
    // every (segment, cohort, offset) cell recomputed raw with
    // segment-keyed first-seen frames — the per-segment bitmap walks
    // must hash-match (the count twin of q293's oracle)
    "q314_segmented_cohort_matrix" -> """
      WITH ud AS (
        SELECT DISTINCT o_orderpriority AS prio, o_custkey,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p
        FROM orders),
      f AS (SELECT prio, o_custkey, min(p) AS c FROM ud GROUP BY 1, 2),
      cs AS (SELECT prio, c, count(*) AS cohort_size FROM f
             GROUP BY 1, 2)
      SELECT f.prio, f.c AS cohort, ud.p - f.c AS "offset",
        cs.cohort_size, count(*) AS retained
      FROM ud
      JOIN f ON f.prio = ud.prio AND f.o_custkey = ud.o_custkey
      JOIN cs ON cs.prio = f.prio AND cs.c = f.c
      GROUP BY 1, 2, 3, 4
      ORDER BY 1, 2, 3""",
    // the rollup recomputed from the rows the VERSION-0 slice
    // contained (l_orderkey % 7 <> 3) — the retained chain version
    // must hash-match it
    "q315_chain_time_travel" -> """
      SELECT c_mktsegment AS seg, l_returnflag AS rf,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_orderkey % 7 <> 3
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // week-over-week supplier retention recomputed raw over the raw
    // THREE-way join — the chain-MV-routed AND-walk must hash-match it
    "q316_chain_retention_routing" -> """
      WITH up AS (
        SELECT DISTINCT l.l_suppkey,
          CAST(floor(floor(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)))
            / 86400) / 7) AS BIGINT) AS p
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey)
      SELECT a.p AS period, count(DISTINCT a.l_suppkey) AS retained
      FROM up a JOIN up b ON b.p = a.p - 1 AND b.l_suppkey = a.l_suppkey
      GROUP BY 1
      ORDER BY 1""",
    // the rollup from exactly the rows chain_tt's VERSION 0 contained
    // (the pre-fold l_orderkey % 7 <> 3 slice) — the as-of-pinned
    // optimizer route must hash-match it
    "q317_chain_asof_routing" -> """
      SELECT c_mktsegment AS seg, l_returnflag AS rf,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_orderkey % 7 <> 3
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // per-(supplier, week) revenue over the raw three-way join — the
    // chain MV's composed weight-map fold must hash-match it
    "q312_chain_cohort_value" -> """
      WITH g AS (
        SELECT l.l_suppkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o.o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1),
      cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id JOIN cs ON f.cohort = cs.cohort
      GROUP BY 1, 2, 3
      ORDER BY 1, 2""",
    // the BI text form of q306 recomputed raw — the flattened chain
    // route must hash-match it
    "q313_sql_chain_rollup_routing" -> """
      SELECT c_mktsegment AS seg,
        CAST(floor(epoch(date_trunc('month',
          CAST(o_orderdate AS TIMESTAMP)))) AS BIGINT) AS month_s,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the honesty loop's oracle: the advised-and-materialized chain
    // MV must serve the raw three-way rollup hash-identically
    "q311_advised_chain_rollup" -> """
      SELECT c_mktsegment AS seg,
        CAST(floor(epoch(date_trunc('month',
          CAST(o_orderdate AS TIMESTAMP)))) AS BIGINT) AS month_s,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the raw three-way star join recomputed in DuckDB — the
    // chain-MV-routed rollup must hash-match it
    "q306_chain_rollup_routing" -> """
      SELECT c_mktsegment AS seg,
        CAST(floor(epoch(date_trunc('month',
          CAST(o_orderdate AS TIMESTAMP)))) AS BIGINT) AS month_s,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // every trailing window recomputed from the raw three-way join —
    // the chain MV's daily bitmap partials must hash-match it
    "q307_chain_rolling_distinct" -> """
      WITH su AS (
        SELECT DISTINCT l_suppkey,
          CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
            AS BIGINT) AS d
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey),
      days AS (SELECT DISTINCT d AS day FROM su)
      SELECT days.day, count(DISTINCT su.l_suppkey) AS n_supps_7d
      FROM days JOIN su ON su.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    "q297_bridge_dashboard_routing" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS fp FROM g GROUP BY 1),
      ps AS (SELECT DISTINCT p FROM g),
      prv AS (SELECT p + 1 AS p, id, w FROM g),
      rev AS (SELECT p, sum(w) AS v FROM g GROUP BY 1),
      prevrev AS (SELECT p + 1 AS p, sum(w) AS v FROM g GROUP BY 1),
      newv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND g.p = f.fp GROUP BY 1),
      resv AS (SELECT g.p, sum(g.w) AS v FROM g
               JOIN f ON g.id = f.id AND f.fp < g.p
               LEFT JOIN prv ON prv.p = g.p AND prv.id = g.id
               WHERE prv.id IS NULL GROUP BY 1),
      delta AS (SELECT g.p,
          sum(greatest(g.w - prv.w, 0)) AS exp,
          sum(greatest(prv.w - g.w, 0)) AS con
        FROM g JOIN prv ON prv.p = g.p AND prv.id = g.id GROUP BY 1),
      chu AS (SELECT prv.p, sum(prv.w) AS v FROM prv
              LEFT JOIN g ON g.p = prv.p AND g.id = prv.id
              WHERE g.id IS NULL GROUP BY 1)
      SELECT ps.p AS period,
        CAST(CAST(COALESCE(rev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS revenue,
        CAST(CAST(COALESCE(prevrev.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS prev_revenue,
        CAST(CAST(COALESCE(newv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS new_value,
        CAST(CAST(COALESCE(resv.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS resurrected_value,
        CAST(CAST(COALESCE(delta.exp, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS expansion,
        CAST(CAST(COALESCE(delta.con, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS contraction,
        CAST(CAST(COALESCE(chu.v, 0) * 100 AS BIGINT) AS DOUBLE) / 100 AS churned_value
      FROM ps
      LEFT JOIN rev ON rev.p = ps.p
      LEFT JOIN prevrev ON prevrev.p = ps.p
      LEFT JOIN newv ON newv.p = ps.p
      LEFT JOIN resv ON resv.p = ps.p
      LEFT JOIN delta ON delta.p = ps.p
      LEFT JOIN chu ON chu.p = ps.p
      ORDER BY 1""",
    // the raw weekly top-5 board recomputed in DuckDB with the same
    // deterministic (value DESC, id ASC) tiebreak — the routed
    // bounded-selection serve must hash-match every board row
    "q295_top_spenders_routing" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT p AS period, id, w,
          row_number() OVER (PARTITION BY p ORDER BY w DESC, id ASC)
            AS rank
        FROM g)
      SELECT period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 5
      ORDER BY 1, 2""",
    // the string-keyed routed board: ranks computed on the VISIBLE
    // key after the dictionary translation, so the whole board
    // hash-matches the string ROW_NUMBER recompute
    "q296_dict_top_spenders_routing" -> """
      WITH g AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      r AS (SELECT p AS period, id, w,
          row_number() OVER (PARTITION BY p ORDER BY w DESC, id ASC)
            AS rank
        FROM g)
      SELECT period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 5
      ORDER BY 1, 2""",
    // the string-keyed raw weekly LTV matrix recomputed in DuckDB —
    // the dict-weighted routed serve must hash-match it (the r16
    // string binding: id-free matrix over dictionary-dense weight maps)
    "q294_dict_cohort_value_routing" -> """
      WITH g AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // every (segment, cohort, offset) cell recomputed raw with
    // segment-keyed first-seen frames — per-segment cohorts, the
    // sliced-dashboard question
    "q293_segmented_cohort_value" -> """
      WITH g AS (
        SELECT o_orderpriority AS prio, o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2, 3),
      f AS (SELECT prio, id, min(p) AS cohort FROM g GROUP BY 1, 2),
      cs AS (SELECT prio, cohort, count(*) AS cohort_size FROM f
             GROUP BY 1, 2)
      SELECT f.prio, f.cohort, g.p - f.cohort AS offset,
        CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.prio = f.prio AND g.id = f.id
      JOIN cs ON f.prio = cs.prio AND f.cohort = cs.cohort
      GROUP BY 1, 2, 3, 4
      ORDER BY 1, 2, 3""",
    // the leaderboard recomputed raw with the same deterministic
    // tiebreak — exact values, so the whole board hash-matches
    "q290_top_spenders" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      r AS (SELECT p AS period, id, w,
          row_number() OVER (PARTITION BY p ORDER BY w DESC, id ASC)
            AS rank
        FROM g)
      SELECT period, CAST(rank AS BIGINT) AS rank, id,
        CAST(CAST(w * 100 AS BIGINT) AS DOUBLE) / 100 AS value
      FROM r WHERE rank <= 5
      ORDER BY 1, 2""",
    // the cohort-value matrix recomputed raw: per-(customer, week)
    // sums, first-seen weeks, then the cohort-age rollup — the
    // weight-map serve must hash-match (exact scaled-long partials)
    "q281_cohort_value" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1),
      cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id JOIN cs ON f.cohort = cs.cohort
      GROUP BY 1, 2, 3
      ORDER BY 1, 2""",
    // the same matrix on calendar-month ordinals (year*12 + month - 1,
    // the serve's encoding), plus the cohort month's first-day label
    "q282_cohort_value_calendar" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
            AS BIGINT) AS p,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1),
      cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value,
        strftime(make_date(CAST(f.cohort // 12 AS INT),
          CAST(f.cohort % 12 AS INT) + 1, 1), '%Y-%m-%d') AS cohort_start
      FROM g JOIN f ON g.id = f.id JOIN cs ON f.cohort = cs.cohort
      GROUP BY 1, 2, 3, 6
      ORDER BY 1, 2""",
    // supplier cohorts over the raw join — the join MV's weight-map
    // serve must hash-match the per-(supplier, week) revenue rollup
    "q283_join_cohort_value" -> """
      WITH g AS (
        SELECT l.l_suppkey AS id,
          CAST(floor(date_diff('day', DATE '1970-01-01',
            CAST(o.o_orderdate AS DATE)) / 7.0) AS BIGINT) AS p,
          sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1),
      cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id JOIN cs ON f.cohort = cs.cohort
      GROUP BY 1, 2, 3
      ORDER BY 1, 2""",
    // the raw join-then-reaggregate recomputed in DuckDB — the
    // MV-routed weight-map serve must hash-match it (the routed
    // decimal is rebuilt exactly from the scaled-long cell sums)
    "q284_cohort_value_routing" -> """
      WITH g AS (
        SELECT user_id AS id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS p,
          sum(CAST(value AS DECIMAL(18,2))) AS w
        FROM events GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the raw monthly-ordinal join-then-reaggregate recomputed in
    // DuckDB — the calendar-collapsed weight-map serve must hash-match
    "q286_calendar_cohort_value_routing" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(m) AS cohort FROM g GROUP BY 1)
      SELECT f.cohort, g.m - f.cohort AS offset,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the BI layer's CTE text recomputed raw — the routed serve must
    // hash-match it (same matrix as q286, different authorship path)
    "q287_sql_cohort_value_routing" -> """
      WITH g AS (
        SELECT o_custkey AS id,
          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
            AS m,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w
        FROM orders GROUP BY 1, 2),
      f AS (SELECT id, min(m) AS cohort FROM g GROUP BY 1)
      SELECT f.cohort, g.m - f.cohort AS offset,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // the honesty loop's oracle: the advised-and-materialized cube
    // must serve the raw weekly LTV matrix hash-identically
    "q285_advised_cohort_value" -> """
      WITH g AS (
        SELECT user_id AS id,
          CAST(floor(CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP)))
            / 86400) AS BIGINT) / 7.0) AS BIGINT) AS p,
          sum(CAST(value AS DECIMAL(18,2))) AS w
        FROM events GROUP BY 1, 2),
      f AS (SELECT id, min(p) AS cohort FROM g GROUP BY 1)
      SELECT f.cohort, g.p - f.cohort AS offset,
        CAST(count(*) AS BIGINT) AS active,
        CAST(sum(g.w) AS DOUBLE) AS value
      FROM g JOIN f ON g.id = f.id
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // both raw trailing-window shapes recomputed raw; the enclosing
    // join/ratio shell is the user's own — the per-sub-metric routed
    // plan must hash-match it end to end
    "q269_dashboard_ratio_routing" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
            AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du),
      dau AS (SELECT days.day, count(DISTINCT du.user_id) AS dau
              FROM days JOIN du ON du.d = days.day GROUP BY 1),
      mau AS (SELECT days.day, count(DISTINCT du.user_id) AS mau
              FROM days JOIN du ON du.d BETWEEN days.day - 27 AND days.day
              GROUP BY 1)
      SELECT dau.day, dau.dau, mau.mau,
        CAST(dau.dau AS DOUBLE) / mau.mau AS stickiness
      FROM dau JOIN mau ON dau.day = mau.day
      ORDER BY 1""",
    // both trailing windows recomputed raw per day — the serve's
    // paired bitmap unions and single IEEE division must hash-match
    "q268_stickiness" -> """
      WITH du AS (
        SELECT DISTINCT o_custkey,
          CAST(floor(floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
            / 86400) AS BIGINT) AS d
        FROM orders),
      days AS (SELECT DISTINCT d AS day FROM du),
      s AS (SELECT days.day, count(DISTINCT du.o_custkey) AS active_short
            FROM days JOIN du ON du.d = days.day GROUP BY 1),
      l AS (SELECT days.day, count(DISTINCT du.o_custkey) AS active_long
            FROM days JOIN du ON du.d BETWEEN days.day - 27 AND days.day
            GROUP BY 1)
      SELECT s.day, s.active_short, l.active_long,
        CAST(s.active_short AS DOUBLE) / l.active_long AS stickiness
      FROM s JOIN l ON s.day = l.day
      ORDER BY 1""",
    // the raw two-level group-by over the raw join — the MV-routed
    // k-count partition must hash-match it
    "q266_join_engagement_routing" -> """
      WITH j AS (
        SELECT l.l_suppkey,
          CAST(floor(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)))
            / 86400) AS BIGINT) AS d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      nd AS (SELECT l_suppkey, count(DISTINCT d) AS days_active
             FROM j WHERE d BETWEEN 9190 AND 9217 GROUP BY 1)
      SELECT days_active, count(l_suppkey) AS suppliers
      FROM nd GROUP BY 1 ORDER BY 1""",
    // the raw min-period groups over the raw join — the MV-routed
    // prefix-ANDNOT walk must hash-match them
    "q267_join_first_seen_routing" -> """
      WITH j AS (
        SELECT l.l_suppkey,
          CAST(floor(CAST(floor(floor(epoch(CAST(o.o_orderdate
            AS TIMESTAMP))) / 86400) AS BIGINT) / 7.0) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      f AS (SELECT l_suppkey, min(w) AS fw FROM j GROUP BY 1)
      SELECT fw AS week, count(l_suppkey) AS new_supps
      FROM f GROUP BY 1 ORDER BY 1""",
    // string-keyed exact distinct over the raw join — the dictionary
    // join MV must hash-match it
    "q260_join_dict_distinct" -> """
      SELECT o.o_orderpriority AS prio,
        count(DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR)) AS nd_supp,
        CAST(count(*) AS BIGINT) AS n
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
      ORDER BY 1""",
    // q255's windows again, raw strings — the dictionary-routed serve
    // must hash-match the exact recompute with no opt-in
    "q259_dict_rolling_routing" -> """
      WITH du AS (
        SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS uid,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.uid) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // the exact monthly top-k the q231 CMS estimates approximate —
    // full counts, deterministic tiebreak
    "q257_monthly_topk_exact" -> """
      WITH c AS (
        SELECT strftime(date_trunc('month', CAST(ts AS TIMESTAMP)),
            '%Y-%m') AS ym,
          'u' || CAST(user_id AS VARCHAR) AS uid,
          count(*) AS n_exact
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT ym, uid, n_exact,
          row_number() OVER (PARTITION BY ym
            ORDER BY n_exact DESC, uid) AS rk
        FROM c)
      SELECT ym, CAST(rk AS BIGINT) AS rk, uid,
        CAST(n_exact AS BIGINT) AS n_exact
      FROM r WHERE rk <= 5
      ORDER BY ym, rk""",
    // the exact per-priority join median the q188 KLL approximates —
    // the order statistic at rank floor((n+1)/2), no interpolation
    "q258_join_quantile_exact" -> """
      WITH j AS (
        SELECT o.o_orderpriority AS prio, l.l_extendedprice AS price
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      r AS (
        SELECT prio, price,
          row_number() OVER (PARTITION BY prio ORDER BY price) AS rn,
          count(*) OVER (PARTITION BY prio) AS n
        FROM j)
      SELECT prio, CAST(price AS DOUBLE) AS p50_exact,
        CAST(n AS BIGINT) AS n
      FROM r WHERE rn = (n + 1) // 2
      ORDER BY prio""",
    // the archived jmv version IS the pre-cutoff state: the oracle
    // recomputes the lifetime supplier curves from the raw pre-1996
    // JOIN only
    "q256_join_cohort_time_travel" -> """
      WITH e AS (
        SELECT date_diff('day', DATE '1970-01-01',
            CAST(o.o_orderdate AS DATE)) AS day,
          l.l_suppkey, l.l_extendedprice
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE CAST(l.l_shipdate AS DATE) < DATE '1996-01-01'),
      f AS (SELECT l_suppkey, min(day) AS fd FROM e GROUP BY 1),
      nd AS (SELECT fd AS day, count(*) AS n FROM f GROUP BY 1),
      ds AS (SELECT day,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sv
             FROM e GROUP BY 1)
      SELECT ds.day,
        CAST(sum(COALESCE(nd.n, 0)) OVER (ORDER BY ds.day) AS BIGINT)
          AS cum_exact_s,
        CAST(COALESCE(nd.n, 0) AS BIGINT) AS new_exact_s,
        CAST(sum(ds.sv) OVER (ORDER BY ds.day) AS DOUBLE) AS cum_sum_rev
      FROM ds LEFT JOIN nd ON nd.day = ds.day
      ORDER BY ds.day""",
    // The advised cube's source is a projected copy of events, so the
    // oracle is q138's own SQL again: advise → materialize verbatim →
    // exact bitmap serve must equal the raw recompute.
    "q212_advised_bitmap_rolling" -> """
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    // q138 per segment: each event type's trailing windows over ITS
    // observed days, recomputed from raw — the segmented bitmap serve
    // must hash-equal every (segment, day) cell.
    "q219_rolling_segmented" -> """
      WITH du AS (
        SELECT DISTINCT event_type, user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT event_type, d AS day FROM du)
      SELECT days.event_type AS etype, days.day,
        count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.event_type = days.event_type
        AND du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // q219's oracle again: the ADVISED segment-dimmed cube's serve
    // must equal the same from-scratch per-segment recompute.
    "q222_advised_segmented_rolling" -> """
      WITH du AS (
        SELECT DISTINCT event_type, user_id,
          CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d
        FROM events),
      days AS (SELECT DISTINCT event_type, d AS day FROM du)
      SELECT days.event_type AS etype, days.day,
        count(DISTINCT du.user_id) AS n_users_7d
      FROM days JOIN du ON du.event_type = days.event_type
        AND du.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    // q159's day arithmetic, summed: trailing 7-day decimal-exact sums
    // from daily partials.
    "q194_rolling_sum" -> """
      WITH daily AS (
        SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS d,
          sum(CAST(value AS DECIMAL(18,2))) AS ds, count(1) AS n
        FROM events GROUP BY 1),
      days AS (SELECT DISTINCT d AS day FROM daily)
      SELECT days.day, CAST(sum(daily.ds) AS DOUBLE) AS sum_v,
        CAST(sum(daily.ds) AS DOUBLE) / sum(daily.n) AS avg_v
      FROM days JOIN daily ON daily.d BETWEEN days.day - 6 AND days.day
      GROUP BY 1
      ORDER BY 1""",
    "q158_minmax_routing" -> """
      SELECT event_type,
        min(value) AS min_value,
        max(value) AS max_value,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(1) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "q157_join_filter_routing" -> """
      SELECT o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q187_advised_routing" -> """
      SELECT event_type AS etype,
        CAST(floor(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))) AS BIGINT)
          AS day_s,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        count(1) AS n
      FROM events
      WHERE event_type <> 'error'
      GROUP BY 1, 2
      ORDER BY 1, 2""",
    "q185_join_rollup_routing" -> """
      SELECT o_orderpriority AS prio,
        CAST(grouping(o_orderpriority) AS BIGINT) AS gid,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY ROLLUP (o_orderpriority)
      ORDER BY gid, prio""",
    "q153_join_routing" -> """
      SELECT o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q155_filter_routing" -> """
      SELECT event_type,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(1) AS n
      FROM events
      WHERE event_type IN ('click', 'purchase', 'error')
      GROUP BY event_type
      ORDER BY event_type""",
    "q156_join_subset_routing" -> """
      SELECT l_returnflag,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS revenue,
        count(1) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
  )
}

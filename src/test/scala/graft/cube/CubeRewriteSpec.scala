package graft.cube

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MV-routing rule: an aggregation over the source parquet is
  * silently served from the materialized cube when (and only when) the
  * cube covers it exactly. */
class CubeRewriteSpec extends AnyFunSuite with graft.LiveSession {
  // the live session, with the rewrite rule installed (idempotent)
  override def spark: SparkSession = {
    val s = super.spark
    CubeCatalog.install(s)
    s
  }

  private val cfg = CubeConfig("rw", "src",
    Seq(FieldDim("etype", "event_type"), TimeDim("hour", "ts", "hour")),
    Seq(Measure("v", "value")))

  private def setup(): (String, String) = {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(21)
    val rows = (0 until 500).map { _ =>
      (Seq("click", "view", "buy")(rnd.nextInt(3)),
        new Timestamp(1700000000000L + rnd.nextInt(8) * 3600000L
          + rnd.nextInt(3600000)),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val srcDir = Files.createTempDirectory("graft_rw_src").toString
    rows.toDF("event_type", "ts", "value").write.mode("overwrite")
      .parquet(srcDir)
    // materialize the cube, then register the LOADED (parquet-backed) one
    val cubeDir = Files.createTempDirectory("graft_rw_cube").toString
    val cube = CubeManager.create(cfg, spark.read.parquet(srcDir))
    CubeManager.save(cube, cubeDir)
    CubeCatalog.register("rw", CubeManager.load(spark, cubeDir, "rw"), srcDir)
    (srcDir, s"$cubeDir/rw")
  }

  private def coveredQuery(srcDir: String): DataFrame =
    spark.read.parquet(srcDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))

  test("covered aggregate is rewritten to scan the cube, results identical") {
    val (srcDir, cubeLoc) = setup()
    val q = coveredQuery(srcDir)
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans == Seq(CubeCatalog.normalize(cubeLoc)),
      s"expected a single cube scan, got $scans")
    // results must equal the unrewritten plan
    CubeCatalog.clear()
    val direct = coveredQuery(srcDir)
    val a = q.orderBy("event_type", "h").collect().map(_.toSeq)
    val b = direct.orderBy("event_type", "h").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // and the direct plan really scans the source (rule is truly off)
    val directScans = direct.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(directScans == Seq(CubeCatalog.normalize(srcDir)))
  }

  test("routed cube scan is column-pruned to the referenced partials") {
    import testImplicits._
    CubeCatalog.clear()
    val rows = (0 until 200).map(i =>
      (Seq("click", "view")(i % 2), (i % 97).toDouble))
    val srcDir = Files.createTempDirectory("graft_rw_pr_src").toString
    rows.toDF("event_type", "value").write.mode("overwrite").parquet(srcDir)
    // a WIDE cube: sum + min/max partials maintained, but the query
    // below references only the sum — the rewrite runs after the
    // optimizer's ColumnPruning, so it must prune its own scan
    val cfg = CubeConfig("rwpr", "src",
      Seq(FieldDim("etype", "event_type")),
      Seq(Measure("v", "value")),
      extremes = Seq(Measure("value", "value")))
    val cubeDir = Files.createTempDirectory("graft_rw_pr_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("rwpr", CubeManager.load(spark, cubeDir, "rwpr"),
      srcDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("rwpr") || q.queryExecution.optimizedPlan.toString
      .contains("rwpr"), "query did not route")
    assert(!scan.contains("value_min") && !scan.contains("value_max"),
      s"routed scan reads unreferenced extreme partials: $scan")
    CubeCatalog.clear()
  }

  test("min/max route to the stored extremes; a delete-latched cube refuses") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(33)
    val rows = (0 until 400).map { _ =>
      (Seq("click", "view", "buy")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val srcDir = Files.createTempDirectory("graft_rw_mm_src").toString
    rows.toDF("event_type", "value").write.mode("overwrite").parquet(srcDir)
    val mmCfg = CubeConfig("rwmm", "src",
      Seq(FieldDim("etype", "event_type")),
      Seq(Measure("v", "value")),
      extremes = Seq(Measure("value", "value")))
    val cubeDir = Files.createTempDirectory("graft_rw_mm_cube").toString
    CubeManager.save(
      CubeManager.create(mmCfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("rwmm", CubeManager.load(spark, cubeDir, "rwmm"),
      srcDir)
    def mmQuery() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
        count(lit(1)).as("n"))
    def scansOf(q: DataFrame) = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    val q = mmQuery()
    assert(scansOf(q) == Seq(CubeCatalog.normalize(s"$cubeDir/rwmm")),
      s"min/max did not route: ${scansOf(q)}")
    val routed = q.orderBy("event_type").collect().map(_.toSeq).toSeq
    CubeCatalog.clear()
    val direct = mmQuery().orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(routed == direct, "routed min/max diverged from direct")
    // fold a delete: the latch must stop min/max routing (sums/counts
    // would still be exact, but the stored extremes are now stale upper/
    // lower bounds) — the query falls back to the source scan
    val latched = CubeManager.applyDeltas(
      CubeManager.load(spark, cubeDir, "rwmm"),
      Seq(("click", rows.filter(_._1 == "click").map(_._2).max, -1))
        .toDF("event_type", "value", "_sign"))
    assert(latched.hasDeletes)
    CubeManager.save(latched, cubeDir)
    CubeCatalog.register("rwmm", CubeManager.load(spark, cubeDir, "rwmm"),
      srcDir)
    val q2 = mmQuery()
    assert(scansOf(q2) == Seq(CubeCatalog.normalize(srcDir)),
      s"delete-latched cube must refuse min/max routing: ${scansOf(q2)}")
    CubeCatalog.clear()
  }

  test("roll-up to a dimension subset is also served from the cube") {
    val (srcDir, cubeLoc) = setup()
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans == Seq(CubeCatalog.normalize(cubeLoc)))
    CubeCatalog.clear()
    val direct = q.orderBy("event_type").collect().map(_.toSeq)
    val got = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq)
    assert(direct.toSeq == got.toSeq)
  }

  test("with two covering cubes, the smaller one is chosen") {
    val (srcDir, fineCubeLoc) = setup() // 2-dim (etype, hour) cube "rw"
    // a coarser 1-dim cube over the same source: fewer rows, fewer bytes
    val coarseCfg = CubeConfig("rw_small", "src",
      Seq(FieldDim("etype", "event_type")), Seq(Measure("v", "value")))
    val smallDir = Files.createTempDirectory("graft_rw_small").toString
    val small = CubeManager.create(coarseCfg, spark.read.parquet(srcDir))
    CubeManager.save(small, smallDir)
    CubeCatalog.register("rw_small",
      CubeManager.load(spark, smallDir, "rw_small"), srcDir)
    // grouping by event_type alone is covered by BOTH cubes
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans == Seq(CubeCatalog.normalize(s"$smallDir/rw_small")),
      s"expected the 1-dim cube, got $scans (fine cube at $fineCubeLoc)")
    // results still identical to the unrewritten plan
    CubeCatalog.clear()
    val direct = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq)
    assert(q.orderBy("event_type").collect().map(_.toSeq).toSeq
      == direct.toSeq)
  }

  test("avg idiom (sum(dec)/count) routes through the cube too") {
    val (srcDir, cubeLoc) = setup()
    def q() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("avg_v"),
        count(lit(1)).as("n"))
    val scans = q().queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans == Seq(CubeCatalog.normalize(cubeLoc)))
    val routed = q().orderBy("event_type").collect().map(_.toSeq)
    CubeCatalog.clear()
    val direct = q().orderBy("event_type").collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq)
  }

  test("nested dotted-path dimensions and measures route too") {
    import testImplicits._
    CubeCatalog.clear()
    val srcDir = Files.createTempDirectory("graft_rw_nested").toString
    Seq(("mobile", "ios", 1.5), ("mobile", "android", 2.5), ("web", "chrome", 4.0))
      .toDF("ch", "os", "v")
      .selectExpr("named_struct('channel', ch, 'client', named_struct('os', os, 'score', v)) AS meta")
      .write.mode("overwrite").parquet(srcDir)
    val nestedCfg = CubeConfig("nested_rw", "src",
      Seq(FieldDim("channel", "meta.channel")),
      Seq(Measure("score", "meta.client.score")))
    val cubeDir = Files.createTempDirectory("graft_rw_nested_cube").toString
    CubeManager.save(
      CubeManager.create(nestedCfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("nested_rw",
      CubeManager.load(spark, cubeDir, "nested_rw"), srcDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("meta.channel"))
      .agg(sum(col("meta.client.score").cast("decimal(18,2)"))
        .cast("double").as("s"), count(lit(1)).as("n"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans == Seq(CubeCatalog.normalize(s"$cubeDir/nested_rw")), scans)
    assert(q.orderBy("channel").collect().map(_.toSeq).toSeq == Seq(
      Seq("mobile", 4.0, 2L), Seq("web", 4.0, 1L)))
    CubeCatalog.clear()
  }

  test("non-covered queries are left untouched") {
    val (srcDir, _) = setup()
    // grouping on a non-dimension column
    val q1 = spark.read.parquet(srcDir)
      .groupBy(col("value")).agg(count(lit(1)).as("n"))
    // unsupported aggregate (plain double sum — not the cube's algebra)
    val q2 = spark.read.parquet(srcDir)
      .groupBy(col("event_type")).agg(sum(col("value")).as("s"))
    for (q <- Seq(q1, q2)) {
      val scans = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          CubeCatalog.sourcePathOf(r).get
      }
      assert(scans == Seq(CubeCatalog.normalize(srcDir)),
        s"must keep scanning the source, got $scans")
    }
  }

  test("unmaterialized cube (plan still aggregates the source) never routes") {
    import testImplicits._
    CubeCatalog.clear()
    val srcDir = Files.createTempDirectory("graft_rw_src2").toString
    Seq(("a", new Timestamp(1700000000000L), 1.0))
      .toDF("event_type", "ts", "value").write.mode("overwrite").parquet(srcDir)
    val inMem = CubeManager.create(cfg, spark.read.parquet(srcDir))
    CubeCatalog.register("rw2", inMem, srcDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    // the in-memory cube's plan is itself an aggregation of the source —
    // routing would be circular; the rule must refuse
    assert(q.collect().length == 1)
    CubeCatalog.clear()
  }

  test("approx_count_distinct routes to the cube's HLL partials only when opted in") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(29)
    val rows = (0 until 500).map { _ =>
      (Seq("click", "view", "buy")(rnd.nextInt(3)),
        new Timestamp(1700000000000L + rnd.nextInt(8) * 3600000L),
        1.0, rnd.nextInt(60).toLong)
    }
    val srcDir = Files.createTempDirectory("graft_rw_sk_src").toString
    rows.toDF("event_type", "ts", "value", "user_id")
      .write.mode("overwrite").parquet(srcDir)
    val skCfg = cfg.copy(name = "rwsk",
      sketches = Seq(Measure("users", "user_id")))
    val cubeDir = Files.createTempDirectory("graft_rw_sk_cube").toString
    CubeManager.save(
      CubeManager.create(skCfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("rwsk",
      CubeManager.load(spark, cubeDir, "rwsk"), srcDir)
    def q() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("nd"))
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    // flag off: NOT routed (estimator swap is not answer-preserving).
    // Set explicitly rather than relying on the session default — q140's
    // setup (if it ran earlier in this shared session) leaves it on.
    spark.conf.set("spark.graft.cube.approxDistinctRouting", "false")
    assert(scans(q()) == Seq(CubeCatalog.normalize(srcDir)))
    // opted in: served from the cube, estimate == the cube's own
    // distinctOf read, and within HLL error of exact
    spark.conf.set("spark.graft.cube.approxDistinctRouting", "true")
    try {
      val routed = q()
      assert(scans(routed) == Seq(CubeCatalog.normalize(s"$cubeDir/rwsk")),
        s"expected a cube scan, got ${scans(routed)}")
      val got = routed.collect()
        .map(r => r.getString(0) -> r.getAs[Long]("nd")).toMap
      val served = CubeManager.query(
        CubeCatalog.registered("rwsk").cube, Seq("etype"),
        distinctOf = Seq("users")).collect()
        .map(r => r.getAs[String]("etype") -> r.getAs[Long]("n_distinct_users"))
        .toMap
      assert(got == served,
        s"routed estimates $got != cube distinctOf read $served")
      val exact = rows.groupBy(_._1).map { case (t, rs) =>
        t -> rs.map(_._4).distinct.size.toLong }
      exact.foreach { case (t, n) =>
        assert(math.abs(got(t) - n) <= math.max(n * 0.05, 2.0),
          s"$t: routed estimate ${got(t)} vs exact $n")
      }
      // a distinct over a column with NO sketch measure must not route
      val unrouted = spark.read.parquet(srcDir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("value")).as("nd"))
      assert(scans(unrouted) == Seq(CubeCatalog.normalize(srcDir)))
      // a request for tighter error than the sketch delivers must not
      // route either — the cube cannot serve precision it doesn't hold
      val tight = spark.read.parquet(srcDir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.001).as("nd"))
      assert(scans(tight) == Seq(CubeCatalog.normalize(srcDir)))
      // an empty registered source must serve 0, not NULL, when routed
      val emptySrc = Files.createTempDirectory("graft_rw_sk_empty").toString
      Seq.empty[(String, Timestamp, Double, Long)]
        .toDF("event_type", "ts", "value", "user_id")
        .write.mode("overwrite").parquet(emptySrc)
      val emptyCubeDir = Files.createTempDirectory("graft_rw_sk_ecube").toString
      CubeManager.save(CubeManager.create(
        skCfg.copy(name = "rwske"), spark.read.parquet(emptySrc)), emptyCubeDir)
      CubeCatalog.register("rwske",
        CubeManager.load(spark, emptyCubeDir, "rwske"), emptySrc)
      val zeroQ = spark.read.parquet(emptySrc)
        .agg(approx_count_distinct(col("user_id")).as("nd"))
      assert(scans(zeroQ) == Seq(CubeCatalog.normalize(s"$emptyCubeDir/rwske")),
        s"expected the empty cube to serve the query, got ${scans(zeroQ)}")
      val zeroRow = zeroQ.collect().head
      assert(!zeroRow.isNullAt(0) && zeroRow.getLong(0) == 0L,
        s"global approx-distinct over empty cube must be 0, got $zeroRow")
    } finally {
      spark.conf.set("spark.graft.cube.approxDistinctRouting", "false")
      CubeCatalog.clear()
    }
  }

  test("delete-processed cube refuses approx-distinct routing; exact routing still fires") {
    import testImplicits._
    val rnd = new scala.util.Random(33)
    val rows = (0 until 300).map { i =>
      (Seq("click", "view")(rnd.nextInt(2)),
        new Timestamp(1700000000000L + rnd.nextInt(4) * 3600000L),
        math.round(rnd.nextDouble() * 10000) / 100.0,
        (i % 40).toLong)
    }
    val srcDir = Files.createTempDirectory("graft_rw_del_src").toString
    rows.toDF("event_type", "ts", "value", "user_id")
      .write.mode("overwrite").parquet(srcDir)
    val delCfg = CubeConfig("rwdel", "src",
      Seq(FieldDim("etype", "event_type")),
      Seq(Measure("v", "value")),
      sketches = Seq(Measure("users", "user_id")))
    val cubeDir = Files.createTempDirectory("graft_rw_del_cube").toString
    // fold ONE delete: the hasDeletes latch must trip, persist through
    // save/load, and the registration opt-in must be overridden by it
    val created = CubeManager.create(delCfg, spark.read.parquet(srcDir))
    assert(!created.hasDeletes)
    val deltas = Seq((rows.head._1, rows.head._2, rows.head._3,
      rows.head._4, -1)).toDF("event_type", "ts", "value", "user_id", "_sign")
    val folded = CubeManager.applyDeltas(created, deltas)
    assert(folded.hasDeletes, "delete fold did not trip the latch")
    CubeManager.save(folded, cubeDir)
    val loaded = CubeManager.load(spark, cubeDir, "rwdel")
    assert(loaded.hasDeletes, "hasDeletes lost across save/load")
    CubeCatalog.clear()
    CubeCatalog.register("rwdel", loaded, srcDir, approxDistinct = true)
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    try {
      // approx-distinct must NOT route (ever-inserted values, not state)
      val nd = spark.read.parquet(srcDir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("nd"))
      assert(scans(nd) == Seq(CubeCatalog.normalize(srcDir)),
        s"delete-processed cube served a sketch: ${scans(nd)}")
      // the exact measures stay correct after the delete fold — sum/count
      // routing must keep firing (the guard is surgical, not a kill switch)
      val exact = spark.read.parquet(srcDir)
        .groupBy(col("event_type"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
      assert(scans(exact) == Seq(CubeCatalog.normalize(s"$cubeDir/rwdel")),
        s"exact routing stopped firing: ${scans(exact)}")
      // insert-only folds never trip the latch
      val ins = Seq((rows.head._1, rows.head._2, rows.head._3,
        rows.head._4, 1)).toDF("event_type", "ts", "value", "user_id", "_sign")
      assert(!CubeManager.applyDeltas(created, ins).hasDeletes)
    } finally CubeCatalog.clear()
  }

  test("cube-plan analysis happens at registration, not per optimizer invocation") {
    val (srcDir, _) = setup()
    val n0 = CubeCatalog.analysisCount.get()
    // three routed queries, each optimized + executed: the rule must
    // serve them from the memoized Registration fields — any re-derive
    // of Bridge.analyzed/stats inside apply() moves the counter
    coveredQuery(srcDir).collect()
    coveredQuery(srcDir).collect()
    spark.read.parquet(srcDir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
    assert(CubeCatalog.analysisCount.get() == n0,
      "cube plan was re-analyzed during query optimization")
  }

  test("dim-only filters route: the predicate is served on the cube's dimension attributes") {
    val (srcDir, cubeLoc) = setup()
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    // equality filter on a field dim, rollup to the time dim
    def q1() = spark.read.parquet(srcDir)
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    // range filter on the BUCKETED time dim, rollup to the field dim
    val mid = new Timestamp(1700000000000L + 4 * 3600000L)
    def q2() = spark.read.parquet(srcDir)
      .filter(date_trunc("hour", col("ts")) >= mid)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    // IN-list + inequality mix over both dims, global rollup
    def q3() = spark.read.parquet(srcDir)
      .filter(col("event_type").isin("click", "buy")
        && date_trunc("hour", col("ts")) < mid)
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    // route + collect all three while registered, then compare against
    // the unrouted plans after clearing the catalog
    val routed = Seq(
      ("q1", q1(), Seq("h")), ("q2", q2(), Seq("event_type")),
      ("q3", q3(), Nil)).map { case (tag, q, keys) =>
      assert(scans(q) == Seq(CubeCatalog.normalize(cubeLoc)),
        s"$tag: dim filter did not route: ${scans(q)}")
      (tag, q.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq, keys)
    }
    CubeCatalog.clear()
    val directs = Map(
      "q1" -> q1(), "q2" -> q2(), "q3" -> q3())
    routed.foreach { case (tag, rows, keys) =>
      val direct = directs(tag).orderBy(keys.map(col): _*)
        .collect().map(_.toSeq).toSeq
      assert(rows == direct, s"$tag: routed filter answer diverged")
    }
  }

  test("non-dim and nondeterministic filters refuse to route") {
    val (srcDir, _) = setup()
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    // a predicate on the RAW timestamp is finer than the hour cells —
    // cannot be served from the cube
    val rawTs = spark.read.parquet(srcDir)
      .filter(col("ts") >= new Timestamp(1700000000000L + 1800000L))
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    // a predicate on a measure column
    val onMeasure = spark.read.parquet(srcDir)
      .filter(col("value") > 50.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    // a nondeterministic predicate samples ROWS; no cell filter matches
    // (rand < 2.0 would be optimized away as vacuous before the rule
    // runs — use a real sampling probability)
    val sampled = spark.read.parquet(srcDir)
      .filter(rand(7) < 0.5)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    for (q <- Seq(rawTs, onMeasure, sampled)) {
      assert(scans(q) == Seq(CubeCatalog.normalize(srcDir)),
        s"must keep scanning the source, got ${scans(q)}")
    }
  }

  test("oversized cube refuses to route (cost-based) once past the floor") {
    import testImplicits._
    CubeCatalog.clear()
    // a cube on a UNIQUE key has as many cells as the source has rows —
    // plus a _count column — so it can only be bigger than the source;
    // with the floor lowered to 0 the cost gate must refuse it
    val srcDir = Files.createTempDirectory("graft_rw_fat_src").toString
    (0 until 5000).map(i => (i.toLong, i * 0.5))
      .toDF("k", "v").write.mode("overwrite").parquet(srcDir)
    val fatCfg = CubeConfig("fat", "src",
      Seq(FieldDim("k", "k")), Seq(Measure("v", "v")))
    val cubeDir = Files.createTempDirectory("graft_rw_fat_cube").toString
    CubeManager.save(
      CubeManager.create(fatCfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("fat",
      CubeManager.load(spark, cubeDir, "fat"), srcDir)
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    def q() = spark.read.parquet(srcDir)
      .groupBy(col("k"))
      .agg(sum(col("v").cast("decimal(18,2)")).as("s"))
    spark.conf.set("spark.graft.cube.routingCostFloorBytes", "0")
    try {
      assert(scans(q()) == Seq(CubeCatalog.normalize(srcDir)),
        s"oversized cube must not route: ${scans(q())}")
    } finally spark.conf.unset("spark.graft.cube.routingCostFloorBytes")
    // at the default floor (1 MiB) this tiny cube routes again — the
    // floor keeps footer-overhead noise from refusing small MVs
    assert(scans(q()) == Seq(CubeCatalog.normalize(s"$cubeDir/fat")))
    CubeCatalog.clear()
  }

  test("publish refreshes registrations: routed queries survive updateAggregates") {
    import testImplicits._
    CubeCatalog.clear()
    val dir = Files.createTempDirectory("graft_rw_refresh").toString
    val srcDir = s"$dir/source"
    val t0 = new Timestamp(1700000000000L)
    Seq(("click", t0, 1.0), ("view", t0, 2.0))
      .toDF("event_type", "ts", "value").write.parquet(srcDir)
    val svc = new CubeService(spark, dir)
    val svcCfg = CubeConfig("refresh_rw", "src",
      Seq(FieldDim("etype", "event_type")), Seq(Measure("v", "value")))
    svc.createCube(svcCfg, spark.read.parquet(srcDir))
    CubeCatalog.register("refresh_rw", svc.loadCube("refresh_rw"), srcDir)
    def q() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans(q()).head.endsWith("/refresh_rw"))
    // publish a new version through the service: the registration must
    // follow (the old one lists renamed-away parquet files)
    svc.updateAggregates("refresh_rw",
      Seq(("click", t0, 4.0)).toDF("event_type", "ts", "value")
        .withColumn("_sign", lit(1)))
    val q2 = q()
    assert(scans(q2).head.endsWith("/refresh_rw"),
      s"routing stopped after publish: ${scans(q2)}")
    val got = q2.orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq(("click", 5.0, 2L), ("view", 2.0, 1L)),
      s"routed post-publish answer wrong: $got")
    CubeCatalog.clear()
  }

  test("count(NULL) never becomes sum(_count)") {
    // NB Spark's main optimizer usually constant-folds count(NULL) to 0
    // before CubeRewriteRule runs (leaving a routable plain group-by,
    // which is then correct to serve from the cube); the rule's own
    // non-null-literal guard covers any path where the fold doesn't
    // happen. Either way the RESULT must be all zeros with one row per
    // source group — never the cube's _count sums.
    val (srcDir, _) = setup()
    def q() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(null)).as("cn"))
    val routed = q().orderBy("event_type", "h").collect().map(_.toSeq)
    CubeCatalog.clear()
    val direct = q().orderBy("event_type", "h").collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq)
    assert(routed.forall(_.last == 0L))
  }

  test("global aggregate over an EMPTY cube returns 0, not NULL") {
    import testImplicits._
    CubeCatalog.clear()
    val srcDir = Files.createTempDirectory("graft_rw_empty_src").toString
    Seq.empty[(String, Timestamp, Double)]
      .toDF("event_type", "ts", "value").write.mode("overwrite").parquet(srcDir)
    val cubeDir = Files.createTempDirectory("graft_rw_empty_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("rw_empty",
      CubeManager.load(spark, cubeDir, "rw"), srcDir)
    val q = spark.read.parquet(srcDir).agg(count(lit(1)).as("n"))
    val row = q.collect().head
    assert(!row.isNullAt(0) && row.getLong(0) == 0L,
      s"global count over empty cube must be 0, got $row")
    CubeCatalog.clear()
  }

  test("cube whose aggregates scan the registered source path never routes") {
    import testImplicits._
    CubeCatalog.clear()
    // a parquet dir that LOOKS like a cube (etype, v, _count columns) and
    // is registered as its own source: without the path check the rule
    // would 'serve' count(1) as sum(_count) — over-counting
    val dir = Files.createTempDirectory("graft_rw_selfref").toString
    Seq(("a", BigDecimal(1.0), 2L), ("b", BigDecimal(3.0), 4L))
      .toDF("etype", "v", "_count")
      .select(col("etype"), col("v").cast("decimal(18,2)").as("v"), col("_count"))
      .write.mode("overwrite").parquet(dir)
    val selfCfg = CubeConfig("selfref", "src",
      Seq(FieldDim("etype", "etype")), Seq(Measure("v", "v")))
    CubeCatalog.register("selfref",
      Cube(selfCfg, spark.read.parquet(dir)), dir)
    val q = spark.read.parquet(dir)
      .groupBy(col("etype"))
      .agg(sum(col("v").cast("decimal(18,2)")).as("s"), count(lit(1)).as("n"))
    // count must be 1 per group (raw rows), NOT the _count sums (2 and 4)
    val got = q.orderBy("etype").collect().map(r => (r.getString(0), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 1L), ("b", 1L)), got.toSeq)
    CubeCatalog.clear()
  }

  test("zero/negative-count tombstones in saved state are not served") {
    import testImplicits._
    CubeCatalog.clear()
    val srcDir = Files.createTempDirectory("graft_rw_tomb_src").toString
    val t0 = new Timestamp(1700000000000L)
    Seq(("click", t0, 5.0), ("view", t0, 2.0))
      .toDF("event_type", "ts", "value").write.mode("overwrite").parquet(srcDir)
    val cube = CubeManager.create(cfg, spark.read.parquet(srcDir))
    // over-delete a group that is also (conceptually) gone from the
    // source: state keeps a -1 tombstone for it
    val tomb = CubeManager.applyDeltas(cube,
      Seq(("view", t0, 2.0), ("view", t0, 2.0))
        .toDF("event_type", "ts", "value").withColumn("_sign", lit(-1)))
    val cubeDir = Files.createTempDirectory("graft_rw_tomb_cube").toString
    CubeManager.save(Cube(cfg.copy(name = "tomb"), tomb.aggregates), cubeDir)
    CubeCatalog.register("tomb",
      CubeManager.load(spark, cubeDir, "tomb"), srcDir)
    val q = spark.read.parquet(srcDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans == Seq(CubeCatalog.normalize(s"$cubeDir/tomb")), scans)
    // the tombstoned 'view' group must not appear in the routed result
    val got = q.collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(got == Set(("click", 1L)), got)
    CubeCatalog.clear()
  }

  test("aggregate over the registered equi-join routes to the join MV") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(77)
    val ords = (0 until 40).map(i =>
      (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
    val lins = (0 until 200).map(_ =>
      (rnd.nextInt(44).toLong, math.round(rnd.nextDouble() * 10000) / 100.0))
    val lDir = Files.createTempDirectory("graft_jrw_l").toString
    val rDir = Files.createTempDirectory("graft_jrw_r").toString
    ords.toDF("o_key", "o_prio").write.mode("overwrite").parquet(lDir)
    lins.toDF("l_key", "l_price").write.mode("overwrite").parquet(rDir)
    val jcfg = JoinCubeConfig(
      CubeConfig("jrw", "l_r",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Seq(Measure("rev", "l_price"))),
      leftKey = "o_key", rightKey = "l_key")
    // materialize through the service, register the LOADED (parquet-
    // backed) MV — the same materialized-only contract as single-table
    val svcDir = Files.createTempDirectory("graft_jrw_svc").toString
    val svc = new CubeService(spark, svcDir)
    svc.createJoinCube(jcfg,
      spark.read.parquet(lDir), spark.read.parquet(rDir))
    CubeCatalog.registerJoin("jrw", svc.loadJoinCube("jrw"), lDir, rDir)

    def query(): DataFrame = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .groupBy(col("o_prio"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    val q = query()
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans.size == 1 && scans.head.contains(".jmv/"),
      s"expected one join-MV scan, got $scans")
    // identical results to the unrouted join
    CubeCatalog.clear()
    val direct = query()
    assert(direct.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "direct plan must really join")
    assert(q.orderBy("o_prio").collect().map(_.toSeq).toSeq ==
      direct.orderBy("o_prio").collect().map(_.toSeq).toSeq)
    // a DIFFERENT join condition must NOT route
    CubeCatalog.registerJoin("jrw", svc.loadJoinCube("jrw"), lDir, rDir)
    val wrongCond = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") < col("l_key"))
      .groupBy(col("o_prio"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"))
    assert(wrongCond.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "non-equi join must not route")
    // a GLOBAL rollup (dim-subset down to no groupings) over the same
    // join routes too — tryRewrite's subset matching is join-agnostic
    val global = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    val gScans = global.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(gScans.size == 1 && gScans.head.contains(".jmv/"),
      s"global rollup did not route: $gScans")
    CubeCatalog.clear()
    val gDirect = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    assert(global.collect().map(_.toSeq).toSeq ==
      gDirect.collect().map(_.toSeq).toSeq)
    assert(svc.listJoinCubes() == Seq("jrw"))
    // a DIM-ONLY SIDE FILTER routes too: σ(o_prio ≠ 'LOW') commutes
    // with the inner join, so the MV serves it as a cell predicate
    CubeCatalog.registerJoin("jrw", svc.loadJoinCube("jrw"), lDir, rDir)
    def filtered() = spark.read.parquet(lDir)
      .filter(col("o_prio") =!= "LOW")
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .groupBy(col("o_prio"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    val f = filtered()
    val fScans = f.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(fScans.size == 1 && fScans.head.contains(".jmv/"),
      s"side dim filter did not route: $fScans")
    val fRouted = f.orderBy("o_prio").collect().map(_.toSeq).toSeq
    CubeCatalog.clear()
    assert(fRouted == filtered().orderBy("o_prio").collect().map(_.toSeq).toSeq,
      "side-filtered join routing diverged")
    // ... while a filter on a NON-dim side column (l_price) refuses
    CubeCatalog.registerJoin("jrw", svc.loadJoinCube("jrw"), lDir, rDir)
    val nonDim = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir).filter(col("l_price") > 10.0),
        col("o_key") === col("l_key"))
      .groupBy(col("o_prio"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"))
    assert(nonDim.queryExecution.optimizedPlan.collect {
      case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn
    }.nonEmpty, "non-dim side filter must not route")
    CubeCatalog.clear()
  }

  test("join-MV sketch measures route approx-distinct, fold-maintained, opt-in") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(88)
    val ords = (0 until 40).map(i =>
      (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
    val lins = (0 until 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(25).toLong,
        math.round(rnd.nextDouble() * 10000) / 100.0))
    val lDir = Files.createTempDirectory("graft_jsk_l").toString
    val rDir = Files.createTempDirectory("graft_jsk_r").toString
    ords.toDF("o_key", "o_prio").write.mode("overwrite").parquet(lDir)
    lins.toDF("l_key", "l_supp", "l_price")
      .write.mode("overwrite").parquet(rDir)
    val jcfg = JoinCubeConfig(
      CubeConfig("jsk", "l_r",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Seq(Measure("rev", "l_price")),
        sketches = Seq(Measure("supps", "l_supp"))),
      leftKey = "o_key", rightKey = "l_key")
    val svcDir = Files.createTempDirectory("graft_jsk_svc").toString
    val svc = new CubeService(spark, svcDir)
    // create from HALF the lines, fold the other half in — the sketch
    // partials must maintain through the delta-join rule, not just build
    val (half1, half2) = lins.zipWithIndex.partition(_._2 % 2 == 0)
    svc.createJoinCube(jcfg, spark.read.parquet(lDir),
      half1.map(_._1).toDF("l_key", "l_supp", "l_price"))
    svc.updateJoinAggregates("jsk",
      spark.read.parquet(lDir).limit(0).withColumn("_sign", lit(1L)),
      half2.map(_._1).toDF("l_key", "l_supp", "l_price")
        .withColumn("_sign", lit(1L)))
    def query(): DataFrame = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .groupBy(col("o_prio"))
      .agg(approx_count_distinct(col("l_supp")).as("nd"),
        count(lit(1)).as("n"))
    def scansOfQ(q: DataFrame) = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    // no opt-in: the sketch leaf refuses, the query does NOT route
    CubeCatalog.registerJoin("jsk", svc.loadJoinCube("jsk"), lDir, rDir)
    assert(!scansOfQ(query()).exists(_.contains(".jmv/")),
      "join sketch must not route without the opt-in")
    // opted in: routed to the MV, estimate == the MV's own distinctOf
    // read (same union of the same partials), within HLL error of exact
    CubeCatalog.registerJoin("jsk", svc.loadJoinCube("jsk"), lDir, rDir,
      approxDistinct = true)
    val q = query()
    val scans = scansOfQ(q)
    assert(scans.size == 1 && scans.head.contains(".jmv/"),
      s"opted-in join sketch did not route: $scans")
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val served = CubeManager.query(svc.loadJoinCube("jsk").cube,
        Seq("prio"), distinctOf = Seq("supps")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct_supps")).toMap
    assert(got == served, s"routed $got != MV distinctOf read $served")
    val prioOf = ords.toMap
    val exact = lins.filter(l => prioOf.contains(l._1))
      .groupBy(l => prioOf(l._1))
      .map { case (p, ls) => p -> ls.map(_._2).distinct.size.toLong }
    exact.foreach { case (p, n) =>
      assert(math.abs(got(p) - n) <= math.max(n * 0.05, 2.0),
        s"$p: routed estimate ${got(p)} vs exact $n")
    }
    // a fold-publish must CARRY the opt-in (refreshJoin path): fold one
    // more line, then the same query must still route
    svc.updateJoinAggregates("jsk",
      spark.read.parquet(lDir).limit(0).withColumn("_sign", lit(1L)),
      Seq((0L, 99L, 1.0)).toDF("l_key", "l_supp", "l_price")
        .withColumn("_sign", lit(1L)))
    assert(scansOfQ(query()).exists(_.contains(".jmv/")),
      "publish dropped the approx-distinct opt-in")
    CubeCatalog.clear()
  }

  test("ROLLUP through the Expand routes to a JOIN MV; results identical") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(91)
    val ords = (0 until 30).map(i =>
      (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
    val lins = (0 until 150).map(_ =>
      (rnd.nextInt(30).toLong, math.round(rnd.nextDouble() * 10000) / 100.0))
    val lDir = Files.createTempDirectory("graft_jgr_l").toString
    val rDir = Files.createTempDirectory("graft_jgr_r").toString
    ords.toDF("o_key", "o_prio").write.mode("overwrite").parquet(lDir)
    lins.toDF("l_key", "l_price").write.mode("overwrite").parquet(rDir)
    val jcfg = JoinCubeConfig(
      CubeConfig("jgr", "l_r",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Seq(Measure("rev", "l_price"))),
      leftKey = "o_key", rightKey = "l_key")
    val svcDir = Files.createTempDirectory("graft_jgr_svc").toString
    val svc = new CubeService(spark, svcDir)
    svc.createJoinCube(jcfg,
      spark.read.parquet(lDir), spark.read.parquet(rDir))
    CubeCatalog.registerJoin("jgr", svc.loadJoinCube("jgr"), lDir, rDir)
    def q() = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .rollup(col("o_prio"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
    val scans = scansOf(q())
    assert(scans.size == 1 && scans.head.contains(".jmv/"),
      s"rollup over the registered join did not route: $scans")
    val routed = sortedRows(q())
    CubeCatalog.clear()
    assert(routed == sortedRows(q()), "routed join rollup diverged")
    // both hierarchy levels present
    assert(routed.map(_(3)).distinct.toSet == Set(0L, 1L))
    CubeCatalog.clear()
  }

  test("percentile_approx over a registered join routes to the MV's KLL partials") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(97)
    val ords = (0 until 30).map(i =>
      (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
    val lins = (0 until 400).map(_ =>
      (rnd.nextInt(30).toLong, math.round(rnd.nextDouble() * 10000) / 100.0))
    val lDir = Files.createTempDirectory("graft_jq_l").toString
    val rDir = Files.createTempDirectory("graft_jq_r").toString
    ords.toDF("o_key", "o_prio").write.mode("overwrite").parquet(lDir)
    lins.toDF("l_key", "l_price").write.mode("overwrite").parquet(rDir)
    val jcfg = JoinCubeConfig(
      CubeConfig("jq", "l_r",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Seq(Measure("rev", "l_price")),
        quantiles = Seq(Measure("pdist", "l_price"))),
      leftKey = "o_key", rightKey = "l_key")
    val svcDir = Files.createTempDirectory("graft_jq_svc").toString
    val svc = new CubeService(spark, svcDir)
    svc.createJoinCube(jcfg,
      spark.read.parquet(lDir), spark.read.parquet(rDir))
    CubeCatalog.registerJoin("jq", svc.loadJoinCube("jq"), lDir, rDir,
      approxDistinct = true)
    def q() = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .groupBy(col("o_prio"))
      .agg(percentile_approx(col("l_price"), lit(0.5), lit(50)).as("p50"))
    val scans = scansOf(q())
    assert(scans.size == 1 && scans.head.contains(".jmv/"),
      s"join percentile did not route: $scans")
    // rank-band correctness per group (the q176 discipline)
    val got = q().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val prioOf = ords.toMap
    lins.filter(l => prioOf.contains(l._1)).groupBy(l => prioOf(l._1))
      .foreach { case (p, ls) =>
        val sorted = ls.map(_._2).sorted
        val rank = sorted.indexWhere(_ >= got(p)).toDouble / sorted.size
        assert(math.abs(rank - 0.5) <= 0.06,
          s"$p: served p50 ${got(p)} at rank $rank")
      }
    CubeCatalog.clear()
  }

  test("rollup over a dim SUBSET of a two-dim join MV routes") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(91)
    val ords = (0 until 30).map(i =>
      (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
    val lins = (0 until 150).map(_ =>
      (rnd.nextInt(33).toLong, Seq("A", "N", "R")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 10000) / 100.0))
    val lDir = Files.createTempDirectory("graft_jrw2_l").toString
    val rDir = Files.createTempDirectory("graft_jrw2_r").toString
    ords.toDF("o_key", "o_prio").write.mode("overwrite").parquet(lDir)
    lins.toDF("l_key", "l_flag", "l_price").write.mode("overwrite")
      .parquet(rDir)
    val jcfg = JoinCubeConfig(
      CubeConfig("jrw2", "l_r",
        dims = Seq(FieldDim("prio", "o_prio"), FieldDim("flag", "l_flag")),
        measures = Seq(Measure("rev", "l_price"))),
      leftKey = "o_key", rightKey = "l_key")
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_jrw2_svc").toString)
    svc.createJoinCube(jcfg,
      spark.read.parquet(lDir), spark.read.parquet(rDir))
    CubeCatalog.registerJoin("jrw2", svc.loadJoinCube("jrw2"), lDir, rDir)
    // group ONLY by the right-side dim: the left-side dim column is
    // pruned out of the join — partial binding must still route
    def q() = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
      .groupBy(col("l_flag"))
      .agg(sum(col("l_price").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    val scans = q().queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
    assert(scans.size == 1 && scans.head.contains(".jmv/"),
      s"dim-subset join rollup did not route: $scans")
    val routed = q().orderBy("l_flag").collect().map(_.toSeq).toSeq
    CubeCatalog.clear()
    assert(routed == q().orderBy("l_flag").collect().map(_.toSeq).toSeq,
      "dim-subset join rollup diverged")
  }

  // ------------------------------------------- grouping-set routing
  private def scansOf(q: DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r).get
    }
  private def sortedRows(q: DataFrame): Seq[Seq[Any]] =
    q.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("ROLLUP routes through the Expand to the cube; results identical") {
    val (srcDir, cubeLoc) = setup()
    def q() = spark.read.parquet(srcDir)
      .rollup(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
    assert(scansOf(q()) == Seq(CubeCatalog.normalize(cubeLoc)),
      s"rollup did not route: ${scansOf(q())}")
    val routed = sortedRows(q())
    CubeCatalog.clear()
    assert(routed == sortedRows(q()), "routed rollup diverged from direct")
    // the hierarchy really has all three levels and gid disambiguates
    assert(routed.map(_(4)).distinct.toSet == Set(0L, 1L, 3L))
  }

  test("CUBE and SQL GROUPING SETS with grouping_id route; dim filter survives") {
    val (srcDir, cubeLoc) = setup()
    def qCube() = spark.read.parquet(srcDir)
      .cube(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    assert(scansOf(qCube()) == Seq(CubeCatalog.normalize(cubeLoc)),
      s"cube() did not route: ${scansOf(qCube())}")
    spark.read.parquet(srcDir).createOrReplaceTempView("gs_src")
    def qGs() = spark.sql("""
      SELECT event_type, date_trunc('hour', ts) h,
        sum(CAST(value AS DECIMAL(18,2))) s, count(1) n,
        grouping(event_type) ge, grouping_id() g
      FROM gs_src
      WHERE event_type <> 'view'
      GROUP BY GROUPING SETS ((event_type, date_trunc('hour', ts)),
        (event_type), ())""")
    assert(scansOf(qGs()) == Seq(CubeCatalog.normalize(cubeLoc)),
      s"grouping sets did not route: ${scansOf(qGs())}")
    val routedCube = sortedRows(qCube())
    val routedGs = sortedRows(qGs())
    CubeCatalog.clear()
    assert(routedCube == sortedRows(qCube()), "routed cube() diverged")
    assert(routedGs == sortedRows(qGs()), "routed grouping sets diverged")
  }

  test("grouping-set routing refuses non-dim groupings and measure filters") {
    val (srcDir, _) = setup()
    // a non-dim grouping column (value) cannot be served from cells
    def qBad() = spark.read.parquet(srcDir)
      .rollup(col("event_type"), col("value"))
      .agg(count(lit(1)).as("n"))
    assert(scansOf(qBad()) == Seq(CubeCatalog.normalize(srcDir)),
      "non-dim rollup must not route")
    // a measure-valued filter under the Expand refuses too
    def qBad2() = spark.read.parquet(srcDir)
      .filter(col("value") > 50.0)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(scansOf(qBad2()) == Seq(CubeCatalog.normalize(srcDir)),
      "measure-filtered rollup must not route")
    // an unsupported aggregate (avg as a native leaf) refuses
    def qBad3() = spark.read.parquet(srcDir)
      .rollup(col("event_type"))
      .agg(avg(col("value")).as("a"))
    assert(scansOf(qBad3()) == Seq(CubeCatalog.normalize(srcDir)),
      "avg rollup must not route")
    CubeCatalog.clear()
    val direct = sortedRows(qBad())
    assert(direct.nonEmpty)
  }

  test("approx-distinct under ROLLUP routes to sketch partials per grouping set") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(31)
    val rows = (0 until 600).map { _ =>
      (Seq("click", "view", "buy")(rnd.nextInt(3)),
        new Timestamp(1700000000000L + rnd.nextInt(4) * 3600000L),
        1.0, rnd.nextInt(80).toLong)
    }
    val srcDir = Files.createTempDirectory("graft_rw_skr_src").toString
    rows.toDF("event_type", "ts", "value", "user_id")
      .write.mode("overwrite").parquet(srcDir)
    val skCfg = cfg.copy(name = "rwskr",
      sketches = Seq(Measure("users", "user_id")))
    val cubeDir = Files.createTempDirectory("graft_rw_skr_cube").toString
    CubeManager.save(
      CubeManager.create(skCfg, spark.read.parquet(srcDir)), cubeDir)
    // per-registration opt-in (no global flag): the grouping-set path
    // must honor the same opt-in plumbing as the plain path
    CubeCatalog.register("rwskr",
      CubeManager.load(spark, cubeDir, "rwskr"), srcDir,
      approxDistinct = true)
    def q() = spark.read.parquet(srcDir)
      .rollup(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(approx_count_distinct(col("user_id")).as("nd"),
        sum(col("value").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
    assert(scansOf(q()) == Seq(CubeCatalog.normalize(s"$cubeDir/rwskr")),
      s"sketch rollup did not route: ${scansOf(q())}")
    val routed = q().collect()
    // all three hierarchy levels present
    assert(routed.map(_.getAs[Long]("gid")).toSet == Set(0L, 1L, 3L))
    // every grouping set's estimate is within HLL error of exact — the
    // union across cells (and across hierarchy levels) is lossless at
    // fixed lgK, so the same bound holds at every level
    def exactOf(et: Option[String], hour: Option[Long]): Long =
      rows.filter(r => et.forall(_ == r._1) &&
          hour.forall(_ == r._2.getTime / 3600000L))
        .map(_._4).distinct.size.toLong
    routed.foreach { r =>
      val gid = r.getAs[Long]("gid")
      val et = if ((gid & 2L) == 0L) Some(r.getString(0)) else None
      val h = if ((gid & 1L) == 0L)
        Some(r.getTimestamp(1).getTime / 3600000L) else None
      val exact = exactOf(et, h)
      assert(math.abs(r.getAs[Long]("nd") - exact)
          <= math.max(exact * 0.05, 2.0),
        s"gid=$gid et=$et h=$h: estimate ${r.getAs[Long]("nd")} vs $exact")
    }
    // grand total: routed estimate == the cube's own global distinctOf
    // read (same union of the same partials — bit-identical estimate)
    val gt = routed.find(_.getAs[Long]("gid") == 3L).get.getAs[Long]("nd")
    val served = CubeManager.query(CubeCatalog.registered("rwskr").cube,
      Nil, distinctOf = Seq("users")).collect().head
      .getAs[Long]("n_distinct_users")
    assert(gt == served, s"grand-total estimate $gt != cube read $served")
    // without the opt-in the same rollup must NOT route
    CubeCatalog.register("rwskr",
      CubeManager.load(spark, cubeDir, "rwskr"), srcDir)
    assert(scansOf(q()) == Seq(CubeCatalog.normalize(srcDir)),
      "sketch rollup must not route without the opt-in")
    CubeCatalog.clear()
  }

  test("percentile_approx routes to KLL partials, plain and under ROLLUP") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(37)
    val rows = (0 until 800).map { _ =>
      (Seq("click", "view", "buy")(rnd.nextInt(3)),
        new Timestamp(1700000000000L + rnd.nextInt(4) * 3600000L),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val srcDir = Files.createTempDirectory("graft_rw_kll_src").toString
    rows.toDF("event_type", "ts", "value").write.mode("overwrite")
      .parquet(srcDir)
    val qCfg = cfg.copy(name = "rwkll",
      quantiles = Seq(Measure("vdist", "value")))
    val cubeDir = Files.createTempDirectory("graft_rw_kll_cube").toString
    CubeManager.save(
      CubeManager.create(qCfg, spark.read.parquet(srcDir)), cubeDir)
    // no opt-in yet: must NOT route (estimator change is never silent)
    CubeCatalog.register("rwkll",
      CubeManager.load(spark, cubeDir, "rwkll"), srcDir)
    def plain() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(50)).as("p50"))
    assert(scansOf(plain()) == Seq(CubeCatalog.normalize(srcDir)),
      "percentile must not route without the opt-in")
    CubeCatalog.register("rwkll",
      CubeManager.load(spark, cubeDir, "rwkll"), srcDir,
      approxDistinct = true)
    assert(scansOf(plain()) == Seq(CubeCatalog.normalize(s"$cubeDir/rwkll")),
      s"opted-in percentile did not route: ${scansOf(plain())}")
    // the routed estimate merges the same partials the cube's own
    // quantilesOf read merges, but KLL compaction is randomized per
    // merge order, so estimates are pinned by RANK BAND (the q130/q141
    // discipline), not bit equality: every served value must sit
    // within the sketch's rank error of the requested rank
    val got = plain().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (t, rs) =>
      val sorted = rs.map(_._3).sorted
      val rank = sorted.indexWhere(_ >= got(t)).toDouble / sorted.size
      assert(math.abs(rank - 0.5) <= 0.05,
        s"$t: served p50 ${got(t)} sits at rank $rank")
    }
    // ROLLUP: the same leaf routes through the Expand path
    def rolled() = spark.read.parquet(srcDir)
      .rollup(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.9), lit(50)).as("p90"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
    assert(scansOf(rolled()) == Seq(CubeCatalog.normalize(s"$cubeDir/rwkll")),
      s"rollup percentile did not route: ${scansOf(rolled())}")
    val gt = rolled().collect().find(_.getAs[Long]("gid") == 1L).get
    val all = rows.map(_._3).sorted
    val gtRank = all.indexWhere(_ >= gt.getAs[Double]("p90")).toDouble / all.size
    assert(math.abs(gtRank - 0.9) <= 0.05,
      s"grand-total p90 ${gt.getAs[Double]("p90")} sits at rank $gtRank")
    // a request for tighter rank error than the sketch holds refuses
    def tight() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"))
    assert(scansOf(tight()) == Seq(CubeCatalog.normalize(srcDir)),
      "tighter-than-sketch accuracy must not route")
    // the array-percentile form changes the result type: refuses
    def arr() = spark.read.parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
        lit(50)).as("ps"))
    assert(scansOf(arr()) == Seq(CubeCatalog.normalize(srcDir)),
      "array percentile must not route")
    // a column with no quantile measure refuses (ts is a dim)
    CubeCatalog.clear()
  }

  test("time-hierarchy routing: coarser granularities serve from a finer time dim") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(67)
    // 400 rows across ~14 months so month/quarter/year all have
    // multiple buckets (incl. a year boundary — the week refusal's
    // danger zone)
    val rows = (0 until 400).map { _ =>
      (Seq("a", "b")(rnd.nextInt(2)),
        new Timestamp(1700000000000L + rnd.nextInt(420) * 86400000L
          + rnd.nextInt(86400000)),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val srcDir = Files.createTempDirectory("graft_rw_hier_src").toString
    rows.toDF("k", "ts", "v").write.mode("overwrite").parquet(srcDir)
    def src = spark.read.parquet(srcDir)
    val dayCfg = CubeConfig("hier_day", "src",
      Seq(FieldDim("k", "k"), TimeDim("day", "ts", "day")),
      Seq(Measure("vs", "v")))
    val cubeDir = Files.createTempDirectory("graft_rw_hier_cube").toString
    CubeManager.save(CubeManager.create(dayCfg, src), cubeDir)
    CubeCatalog.register("hier_day",
      CubeManager.load(spark, cubeDir, "hier_day"), srcDir)
    def grouped(g: String) = src
      .groupBy(col("k"), date_trunc(g, col("ts")).as("b"))
      .agg(sum(col("v").cast("decimal(18,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .orderBy(col("k"), col("b"))
    // every nesting granularity routes AND matches the direct answer
    Seq("week", "month", "quarter", "year").foreach { g =>
      val q = grouped(g)
      assert(scansOf(q) ==
        Seq(CubeCatalog.normalize(s"$cubeDir/hier_day")),
        s"$g grouping did not route: ${scansOf(q)}")
      CubeCatalog.unregister("hier_day")
      val direct = grouped(g).collect().map(_.toSeq).toSeq
      CubeCatalog.register("hier_day",
        CubeManager.load(spark, cubeDir, "hier_day"), srcDir)
      assert(q.collect().map(_.toSeq).toSeq == direct,
        s"$g re-truncation diverged from the direct answer")
    }
    // a filter on the coarser bucket is a dim-determined predicate too
    val filtered = src
      .filter(date_trunc("year", col("ts"))
        === lit("2024-01-01 00:00:00").cast("timestamp"))
      .groupBy(col("k"))
      .agg(sum(col("v").cast("decimal(18,2)")).cast("double").as("s"))
      .orderBy(col("k"))
    assert(scansOf(filtered) ==
      Seq(CubeCatalog.normalize(s"$cubeDir/hier_day")),
      s"coarser-bucket filter did not route: ${scansOf(filtered)}")
    CubeCatalog.clear()

    // NOTHING nests week: a month/quarter/year grouping over a
    // WEEK-dimmed cube must keep reading the source (ISO weeks cross
    // those boundaries — serving would be silently wrong around
    // year/month edges)
    val weekCfg = CubeConfig("hier_week", "src",
      Seq(FieldDim("k", "k"), TimeDim("wk", "ts", "week")),
      Seq(Measure("vs", "v")))
    val weekDir = Files.createTempDirectory("graft_rw_hierw_cube").toString
    CubeManager.save(CubeManager.create(weekCfg, src), weekDir)
    CubeCatalog.register("hier_week",
      CubeManager.load(spark, weekDir, "hier_week"), srcDir)
    Seq("month", "quarter", "year").foreach { g =>
      assert(scansOf(grouped(g)) == Seq(CubeCatalog.normalize(srcDir)),
        s"$g grouping over a week cube must refuse to route")
    }
    // the week cube still serves its own granularity
    assert(scansOf(grouped("week")) ==
      Seq(CubeCatalog.normalize(s"$weekDir/hier_week")))
    CubeCatalog.clear()
  }

  test("routed serve concurrent with a publish reads exactly one consistent version") {
    // The manifest-swap claim made EXECUTABLE instead of assumed: a
    // routed plan optimized against the pre-publish registration and
    // executed only AFTER the publish must return the OLD version's
    // answer — one consistent version, never a torn read and never a
    // FILE_NOT_EXIST on renamed-away head files. The mechanism is the
    // registration's hard-link snapshot (publishes rename the head;
    // they cannot touch the snapshot's links) with GC deferred one
    // registration generation. A query built AFTER the publish routes
    // to the new head via the refreshed registration.
    CubeCatalog.clear()
    val svcDir = Files.createTempDirectory("graft_rw_race").toString
    val svc = new CubeService(spark, svcDir)
    import testImplicits._
    val rnd = new scala.util.Random(83)
    val rows = (0 until 400).map { i =>
      (Seq("a", "b", "c")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 10000) / 100.0, i.toLong)
    }
    val srcDir = Files.createTempDirectory("graft_rw_race_src").toString
    rows.toDF("k", "v", "id").write.mode("overwrite").parquet(srcDir)
    val c = CubeConfig("race", "src", Seq(FieldDim("k", "k")),
      Seq(Measure("vs", "v")))
    svc.createCube(c,
      spark.read.parquet(srcDir).filter(col("id") % 2 === 0))
    CubeCatalog.register("race",
      CubeManager.load(spark, svcDir, "race"), srcDir)
    def routedQ() = spark.read.parquet(srcDir)
      .groupBy(col("k"))
      .agg(sum(col("v").cast("decimal(18,2)")).cast("double").as("s"))
      .orderBy(col("k"))
    val stale = routedQ()
    stale.queryExecution.executedPlan // optimized + planned, NOT executed
    val staleScans = stale.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    assert(staleScans.exists(_.endsWith("/race")), staleScans.toString)
    val oldAnswer = rows.filter(_._3 % 2 == 0).groupBy(_._1)
      .map { case (k, rs) =>
        Seq(k, (rs.map(r => BigDecimal(r._2).setScale(2)).sum).toDouble) }
      .toSeq.sortBy(_.head.toString)
    // the publish: fold the odd half in, refresh the registration
    svc.updateAggregates("race",
      spark.read.parquet(srcDir).filter(col("id") % 2 === 1)
        .withColumn("_sign", lit(1L)))
    // the stale plan executes AFTER the publish — old version, exactly
    val staleResult = stale.collect().map(_.toSeq.map {
      case d: java.lang.Double => d.doubleValue; case x => x }).toSeq
    assert(staleResult.map(_.toList) == oldAnswer.map(_.toList),
      s"stale routed plan not old-version-consistent: $staleResult vs $oldAnswer")
    // a FRESH query routes to the refreshed registration = new head
    val freshQ = routedQ()
    val freshScans = freshQ.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        CubeCatalog.sourcePathOf(r)
    }.flatten
    assert(freshScans.exists(_.endsWith("/race")), freshScans.toString)
    val newAnswer = rows.groupBy(_._1)
      .map { case (k, rs) =>
        Seq(k, (rs.map(r => BigDecimal(r._2).setScale(2)).sum).toDouble) }
      .toSeq.sortBy(_.head.toString)
    val freshResult = freshQ.collect().map(_.toSeq.map {
      case d: java.lang.Double => d.doubleValue; case x => x }).toSeq
    assert(freshResult.map(_.toList) == newAnswer.map(_.toList),
      s"fresh routed plan not new-version: $freshResult vs $newAnswer")
    CubeCatalog.clear()
  }

  test("rollup min/max over a delete-latched cube refuses; sum still routes") {
    import testImplicits._
    val (srcDir, _) = setup()
    // fold a delete so the insert-only extremes latch trips — rebuild a
    // cube WITH extremes first (setup()'s cfg has none), then latch it
    CubeCatalog.clear()
    val exCfg = CubeConfig("rwx", "src",
      Seq(FieldDim("etype", "event_type")),
      Seq(Measure("v", "value")), extremes = Seq(Measure("vx", "value")))
    val cubeDir = Files.createTempDirectory("graft_rwx_cube").toString
    val cube = CubeManager.create(exCfg, spark.read.parquet(srcDir))
    CubeManager.save(cube, cubeDir)
    val latched = CubeManager.applyDeltas(
      CubeManager.load(spark, cubeDir, "rwx"),
      spark.read.parquet(srcDir).limit(1).withColumn("_sign", lit(-1L)))
    val latchedDir = Files.createTempDirectory("graft_rwx_latched").toString
    CubeManager.save(latched, latchedDir)
    CubeCatalog.register("rwx",
      CubeManager.load(spark, latchedDir, "rwx"), srcDir)
    def qMm() = spark.read.parquet(srcDir)
      .rollup(col("event_type"))
      .agg(min(col("value")).as("mn"))
    assert(scansOf(qMm()) == Seq(CubeCatalog.normalize(srcDir)),
      "delete-latched extremes must refuse rollup min/max")
    CubeCatalog.clear()
  }

  // ------------------------------------------------- rolling routing
  /** Source + registered day-dimmed cube for the rolling-route tests:
    * several days of (etype, user, value) events, cube carrying bitmap
    * (exact distinct), decimal-sum, extreme, HLL, and KLL partials;
    * `shardBits > 0` builds the bitmap-sharded twin over the same
    * rows. Source and cubes are written once per suite and
    * re-registered per call; no test writes to them. */
  private def rollingSetup(approx: Boolean = false,
      shardBits: Int = 0): String = {
    CubeCatalog.clear()
    val cubeDir = rollingCubes.getOrElseUpdate(shardBits,
      rollingCube(shardBits))
    CubeCatalog.register("rollrw",
      CubeManager.load(spark, cubeDir, "rollrw"), rollingSrc,
      approxDistinct = approx)
    rollingSrc
  }

  private lazy val rollingSrc: String = {
    import testImplicits._
    val rnd = new scala.util.Random(37)
    val rows = (0 until 1200).map { i =>
      (Seq("click", "view")(rnd.nextInt(2)),
        new Timestamp(1700000000000L + rnd.nextInt(12) * 86400000L
          + rnd.nextInt(86400000)),
        (i % 80).toLong,
        math.round(rnd.nextDouble() * 10000) / 100.0,
        s"u${i % 64}")
    }
    val srcDir = Files.createTempDirectory("graft_rollrw_src").toString
    rows.toDF("etype", "ts", "user_id", "value", "uid_s")
      .write.mode("overwrite").parquet(srcDir)
    srcDir
  }

  private val rollingCubes = scala.collection.mutable.Map.empty[Int, String]

  private def rollingCube(shardBits: Int): String = {
    val cfg = CubeConfig("rollrw", "src",
      Seq(FieldDim("etype", "etype"), TimeDim("day", "ts", "day")),
      Seq(Measure("v", "value")),
      // HLL sketches need INT/BIGINT/STRING keys — the string uid is
      // also what exercises the non-integral → HLL fallback leaf
      sketches = Seq(Measure("hv", "uid_s")),
      quantiles = Seq(Measure("qv", "value")),
      extremes = Seq(Measure("vx", "value")),
      bitmaps = Seq(Measure("u", "user_id")),
      // per-id additive partials — the cohort-value route's measure
      weighted = Seq(WeightedMeasure("wv", "user_id", "value")),
      bitmapShardBits = shardBits)
    val cubeDir = Files.createTempDirectory("graft_rollrw_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(rollingSrc)), cubeDir)
    cubeDir
  }

  private def dayCol = (unix_timestamp(col("ts")).cast("double") / 86400)
    .cast("long").as("d")

  test("raw trailing-window plan routes to the cube; curve identical") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    // the q138 WAU form: distinct pairs, explode, semi-join, re-count
    def wau() = graft.functions.Rolling.endpoints(
        src.select(col("user_id"), dayCol).distinct())
      .agg(countDistinct(col("user_id")).as("nu"))
    val routed = wau()
    assert(scansOf(routed).forall(_.endsWith("/rollrw")),
      s"rolling route did not fire: ${scansOf(routed)}")
    val served = sortedRows(routed)
    CubeCatalog.clear()
    // the raw plan scans the source on BOTH semi-join sides
    assert(scansOf(wau()).distinct == Seq(CubeCatalog.normalize(srcDir)))
    assert(sortedRows(wau()) == served,
      "routed curve must EQUAL the raw recompute (bitmap partials)")
  }

  test("rolling sum/min/max leaves route exactly; day key rebinds as int") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    // datediff day derivation (INT day key) + the exact leaf families
    def dayI = datediff(col("ts").cast("date"), lit("1970-01-01")).as("d")
    def q() = graft.functions.Rolling.endpoints(
        src.select(col("user_id"), col("value"),
          dayI.cast("long").as("d")), 3)
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"),
        min(col("value")).as("mn"), max(col("value")).as("mx"),
        countDistinct(col("user_id")).as("nu"))
    val routed = q()
    assert(scansOf(routed).forall(_.endsWith("/rollrw")),
      s"rolling route did not fire: ${scansOf(routed)}")
    val served = sortedRows(routed)
    CubeCatalog.clear()
    assert(sortedRows(q()) == served,
      "sum/min/max must rebind exactly (decimal type preserved)")
  }

  test("dim-filtered rolling plans route to cell-filtered serves") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def wau() = graft.functions.Rolling.endpoints(
        src.filter(col("etype") === "click")
          .select(col("user_id"), dayCol).distinct())
      .agg(countDistinct(col("user_id")).as("nu"))
    // IN-list filter + the exact sum/max leaves ride the same cells
    def sums() = graft.functions.Rolling.endpoints(
        src.filter(col("etype").isin("click", "view"))
          .select(col("value"), dayCol), 3)
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"),
        max(col("value")).as("mx"))
    // a filter column that is NOT a cube dim cannot restrict cells
    def nonDim() = graft.functions.Rolling.endpoints(
        src.filter(col("uid_s") === "u3")
          .select(col("user_id"), dayCol).distinct())
      .agg(countDistinct(col("user_id")).as("nu"))
    val routed = Seq(wau(), sums())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"filtered rolling route did not fire: ${scansOf(q)}")
    }
    assert(scansOf(nonDim()).distinct ==
      Seq(CubeCatalog.normalize(srcDir)),
      "a non-dim filter column must refuse the rolling route")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(wau(), sums())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"cell-filtered rolling serve must EQUAL the raw (form $i)")
    }
  }

  test("segmented raw rolling routes; per-segment endpoints preserved") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def q() = {
      val du = src.select(col("etype"), col("user_id"), dayCol).distinct()
      val days = du.select(col("etype"), col("d").as("day")).distinct()
      du.withColumn("day", expr("explode(sequence(d, d + 6))"))
        .drop("d")
        .join(days, Seq("etype", "day"), "left_semi")
        .groupBy(col("etype"), col("day"))
        .agg(countDistinct(col("user_id")).as("nu"))
    }
    val routed = q()
    assert(scansOf(routed).forall(_.endsWith("/rollrw")),
      s"segmented rolling route did not fire: ${scansOf(routed)}")
    val served = sortedRows(routed)
    CubeCatalog.clear()
    assert(sortedRows(q()) == served,
      "segmented routed curve must equal the raw per-segment recompute")
  }

  test("CMS heavy hitters through the time hierarchy: est bounds and lossless roll per level") {
    import testImplicits._
    val rnd = new scala.util.Random(97)
    // zipfish keys over ~400 days so every hierarchy level has >1 bucket
    val rows = (0 until 6000).map { _ =>
      val k = s"k${math.min(rnd.nextInt(40), rnd.nextInt(40))}"
      (new Timestamp(1680000000000L
        + rnd.nextInt(400).toLong * 86400000L + rnd.nextInt(86400000)), k)
    }
    val src = rows.toDF("ts", "key")
    val dayCfg = CubeConfig("fq_day", "mem",
      Seq(TimeDim("day", "ts", "day")), Nil,
      freq = Seq(Measure("kf", "key")))
    // every level's three checks read the day cube and its roll-up:
    // build each once, not once per check
    val built = CubeManager.create(dayCfg, src)
    val dayCube = built.copy(aggregates = built.aggregates.localCheckpoint())
    for (level <- Seq("week", "month", "quarter", "year")) {
      val served = CubeManager.query(dayCube, Nil,
          topkOf = Seq(("kf", 3)), timeRollup = Seq(("day", level)))
        .select(col(s"day_$level").as("b"), posexplode(col("topk_kf")))
        .select(col("b"), col("col.key").as("key"),
          col("col.n_est").as("n_est"))
        .localCheckpoint()
      val exact = src
        .groupBy(date_trunc(level, col("ts")).as("b"), col("key"))
        .agg(count(lit(1)).as("n_exact"))
      // CMS estimates never undercount — per bucket, per served key
      val under = served.join(exact, Seq("b", "key"))
        .filter(col("n_est") < col("n_exact")).count()
      assert(under == 0, s"$level: CMS estimate under the truth")
      // recall: the exact top-1 key of every bucket is served
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("b"))
        .orderBy(col("n_exact").desc, col("key"))
      val top1 = exact.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).select(col("b"), col("key"))
      val missed = top1.join(served, Seq("b", "key"), "left_anti").count()
      assert(missed == 0, s"$level: exact top-1 missing from served top-3")
      // LOSSLESS roll: the day cube rolled to this level estimates
      // every served key identically to a cube BUILT at this level
      // (sum of part-counters == counters of the whole)
      val lvlCube = CubeManager.create(
        CubeConfig(s"fq_$level", "mem",
          Seq(TimeDim("b", "ts", level)), Nil,
          freq = Seq(Measure("kf", "key"))), src)
      val direct = CubeManager.query(lvlCube, Seq("b"),
          topkOf = Seq(("kf", 3)))
        .select(col("b"), posexplode(col("topk_kf")))
        .select(col("b"), col("col.key").as("key"),
          col("col.n_est").as("n_est_direct"))
      val diverged = served.join(direct, Seq("b", "key"))
        .filter(col("n_est") =!= col("n_est_direct")).count()
      assert(diverged == 0, s"$level: rolled counters diverged from " +
        "a direct build — the merge must be lossless")
    }
  }

  test("timeRollup refuses non-nesting and non-time rollups") {
    import testImplicits._
    val src = Seq((new Timestamp(1700000000000L), "a", 1.0))
      .toDF("ts", "k", "v")
    val cube = CubeManager.create(
      CubeConfig("tr", "mem",
        Seq(FieldDim("k", "k"), TimeDim("wk", "ts", "week"),
          TimeDim("d", "ts", "day")),
        Seq(Measure("v", "v"))), src)
    // week nests nothing coarser (ISO weeks cross month/year bounds)
    val e1 = intercept[IllegalArgumentException] {
      CubeManager.query(cube, Nil, sumOf = Seq("v"),
        timeRollup = Seq(("wk", "month")))
    }
    assert(e1.getMessage.contains("nest"))
    val e2 = intercept[IllegalArgumentException] {
      CubeManager.query(cube, Nil, sumOf = Seq("v"),
        timeRollup = Seq(("k", "month")))
    }
    assert(e2.getMessage.contains("not a time dimension"))
    val e3 = intercept[IllegalArgumentException] {
      CubeManager.query(cube, Seq("d"), sumOf = Seq("v"),
        timeRollup = Seq(("d", "year")))
    }
    assert(e3.getMessage.contains("not both"))
  }

  test("raw retention self-join routes to the cube; matrix rows identical") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def retained(renamed: Boolean) = {
      val up = src.select(col("user_id"),
          floor((unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").cast("double") / 3).cast("long").as("p"))
        .distinct()
      val q0 = up.as("cur").join(up.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.user_id")).as("nr"))
      // the renamed form collapses a post-aggregate select INTO the
      // Aggregate's output list — both shapes must route
      if (renamed) q0.select(col("p").as("period"), col("nr")) else q0
    }
    // SEGMENTED form: the self-join carries the segment equality
    def seg() = {
      val up = src.select(col("etype"), col("user_id"),
          floor((unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").cast("double") / 3).cast("long").as("p"))
        .distinct()
      up.as("cur").join(up.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("cur.etype") === col("prev.etype") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.etype"), col("cur.p"))
        .agg(countDistinct(col("cur.user_id")).as("nr"))
    }
    // capture all routed results against ONE registration, then clear
    // and compare each against its raw recompute
    val routed = Seq(retained(false), retained(true), seg())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"retention route did not fire: ${scansOf(q)}")
    }
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(retained(false), retained(true), seg())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"routed matrix must EQUAL the raw self-join (form $i)")
    }
  }

  test("raw churn/new-user anti-joins route; gate-free row set identical") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def up(segmented: Boolean) = {
      val cols = (if (segmented) Seq(col("etype")) else Nil) ++
        Seq(col("user_id"),
          floor((unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").cast("double") / 3).cast("long").as("p"))
      src.select(cols: _*).distinct()
    }
    // churned: the counted (left) side is EARLIER — the absent side
    // FOLLOWS. The raw anti-join has no contiguity gate: the last
    // observed period is all churn, which the route must reproduce.
    def churn(segmented: Boolean) = {
      val u = up(segmented)
      val base = col("cur.user_id") === col("prev.user_id") &&
        col("cur.p") === col("prev.p") + 1
      val cond = if (segmented)
        base && col("cur.etype") === col("prev.etype") else base
      val groups = (if (segmented) Seq(col("etype")) else Nil) :+ col("p")
      u.as("prev").join(u.as("cur"), cond, "left_anti")
        .groupBy(groups: _*)
        .agg(countDistinct(col("user_id")).as("nc"))
    }
    // new users: the counted (left) side is LATER — absent PRECEDES
    def fresh() = {
      val u = up(false)
      u.as("cur").join(u.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.p") === col("cur.p") - 1, "left_anti")
        .groupBy(col("p"))
        .agg(countDistinct(col("user_id")).as("nn"))
    }
    val routed = Seq(churn(false), churn(true), fresh())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"anti-join route did not fire: ${scansOf(q)}")
    }
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(churn(false), churn(true), fresh())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"routed anti-join matrix must EQUAL the raw (form $i)")
    }
  }

  test("dim-filtered retention/churn plans route to cell-filtered serves") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def pairs(filtered: Boolean) = {
      val base = if (filtered) src.filter(col("etype") === "click") else src
      base.select(col("user_id"),
          floor((unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").cast("double") / 3).cast("long").as("p"))
        .distinct()
    }
    def retained() = {
      val u = pairs(true)
      u.as("cur").join(u.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.user_id")).as("nr"))
    }
    def churn() = {
      val u = pairs(true)
      u.as("prev").join(u.as("cur"),
          col("cur.user_id") === col("prev.user_id") &&
            col("cur.p") === col("prev.p") + 1, "left_anti")
        .groupBy(col("p"))
        .agg(countDistinct(col("user_id")).as("nc"))
    }
    // ONE-SIDED filter asks a different cohort question ("of week p's
    // click users, how many came back AT ALL") — must refuse
    def oneSided() =
      pairs(true).as("cur").join(pairs(false).as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.user_id")).as("nr"))
    // a filter column that is NOT a cube dim cannot restrict cells
    def nonDim() = {
      val u = src.filter(col("uid_s") === "u3")
        .select(col("user_id"),
          floor((unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").cast("double") / 3).cast("long").as("p"))
        .distinct()
      u.as("cur").join(u.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.user_id")).as("nr"))
    }
    val routed = Seq(retained(), churn())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"filtered route did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    assert(scansOf(oneSided()).distinct == Seq(norm),
      "one-sided filter must refuse the route")
    assert(scansOf(nonDim()).distinct == Seq(norm),
      "a non-dim filter column must refuse the route")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(retained(), churn())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"cell-filtered serve must EQUAL the raw filtered plan (form $i)")
    }
  }

  test("raw cumulative-distinct plans route to prefix-union serves") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def pairs(periodDays: Int, filtered: Boolean = false) = {
      val base = if (filtered) src.filter(col("etype") === "click") else src
      base.select(col("user_id"),
          floor((unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").cast("double") / periodDays)
          .cast("long").as("d"))
        .distinct()
    }
    def cum(periodDays: Int, filtered: Boolean = false,
        flip: Boolean = false, strict: Boolean = false) = {
      val du = pairs(periodDays, filtered)
      val days = du.select(col("d").as("day")).distinct()
      val cond =
        if (strict) col("d") < col("day")
        else if (flip) col("day") >= col("d")
        else col("d") <= col("day")
      days.join(du, cond)
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("cum_users"))
    }
    // ONE-SIDED filter: the day domain and the pair set disagree —
    // a different curve, must refuse
    def oneSided() = {
      val du = pairs(1, filtered = true)
      val days = pairs(1, filtered = false)
        .select(col("d").as("day")).distinct()
      days.join(du, col("d") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("cum_users"))
    }
    val routed = Seq(cum(1), cum(3), cum(1, filtered = true),
      cum(1, flip = true))
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"cumulative route did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // strict < is the EXCLUSIVE curve — a different answer, refused
    // (the observed-period SPINE subplan inside may still route — the
    // r16 value-bridge periods matcher serves it exactly — so the
    // refusal check is "the cumulative still reads the source")
    assert(scansOf(cum(1, strict = true)).contains(norm),
      "strict inequality must refuse the route")
    assert(scansOf(oneSided()).contains(norm),
      "one-sided filter must refuse the route")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(cum(1), cum(3), cum(1, filtered = true),
      cum(1, flip = true))
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"routed prefix-union must EQUAL the raw quadratic join (form $i)")
    }
  }

  test("raw first-seen plans route to the prefix-ANDNOT serve") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def firstSeen(periodDays: Int, renamed: Boolean = false,
        filtered: Boolean = false, distinctCount: Boolean = false,
        wideInner: Boolean = false, countOther: Boolean = false,
        innerPred: Boolean = false) = {
      val base = if (filtered) src.filter(col("etype") === "click") else src
      val groups =
        if (wideInner) Seq(col("user_id"), col("etype"))
        else Seq(col("user_id"))
      val fw0 = base
        .groupBy(groups: _*)
        .agg(min(floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / periodDays).cast("long"))
          .as("fw"))
      val fw = if (innerPred) fw0.filter(col("fw") >= 0) else fw0
      val cnt =
        if (countOther) count(col("fw"))
        else if (distinctCount) countDistinct(col("user_id"))
        else count(col("user_id"))
      val q0 = fw.groupBy(col("fw")).agg(cnt.as("nn"))
      if (renamed) q0.select(col("fw").as("first_period"), col("nn"))
      else q0
    }
    // SEGMENTED form: "new users per period per event type" — the
    // segment rides both groupings, the serve partitions the
    // prefix-ANDNOT walk per segment
    def seg() = src
      .groupBy(col("user_id"), col("etype"))
      .agg(min(floor((unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").cast("double") / 3).cast("long")).as("fw"))
      .groupBy(col("etype"), col("fw"))
      .agg(count(col("user_id")).as("nn"))
    val routed = Seq(firstSeen(3), firstSeen(1), firstSeen(3,
      renamed = true), firstSeen(3, filtered = true),
      firstSeen(3, distinctCount = true), seg())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"first-seen route did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // an inner grouping wider than (id, outer segments) duplicates
    // the id un-grouped — per-(id, etype) first periods re-counted
    // WITHOUT etype answer a different question; must refuse
    assert(scansOf(firstSeen(3, wideInner = true)).distinct == Seq(norm),
      "wide inner grouping must refuse the first-seen route")
    // counting the PERIOD column instead of the id refuses (count(fw)
    // per fw group is not the new-user count's shape)
    assert(scansOf(firstSeen(3, countOther = true)).distinct == Seq(norm),
      "count over a non-id column must refuse")
    // a predicate BETWEEN the aggregates changes the row set
    assert(scansOf(firstSeen(3, innerPred = true)).distinct == Seq(norm),
      "a mid-plan predicate must refuse the first-seen route")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(firstSeen(3), firstSeen(1), firstSeen(3,
      renamed = true), firstSeen(3, filtered = true),
      firstSeen(3, distinctCount = true), seg())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"routed first-seen counts must EQUAL the raw min-period " +
          s"groups (form $i)")
    }
  }

  test("composite dashboard shells route per sub-aggregate") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def du = src.select(col("user_id"), dayCol).distinct()
    // a mixed-family dashboard: the 7-day WAU curve LEFT-joined to the
    // daily new-user counts, with a share column in the shell — no
    // matcher covers the whole tree; each sub-aggregate must rewrite
    // in place while the user's join/arithmetic shell stays
    def wau() = graft.functions.Rolling.endpoints(du, 7)
      .agg(countDistinct(col("user_id")).as("wau"))
    def newUsers() = src
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("fd"))
      .groupBy(col("fd")).agg(count(col("user_id")).as("nn"))
      .select(col("fd").as("day"), col("nn"))
    def dashboard() = wau()
      .join(newUsers(), Seq("day"), "left_outer")
      .select(col("day"), col("wau"), col("nn"),
        (coalesce(col("nn"), lit(0L)) / col("wau")).as("new_share"))
    val q = dashboard()
    assert(scansOf(q).nonEmpty && scansOf(q).forall(_.endsWith("/rollrw")),
      s"composite shell route did not fire: ${scansOf(q)}")
    val served = sortedRows(q)
    CubeCatalog.clear()
    assert(sortedRows(dashboard()) == served,
      "routed composite dashboard must EQUAL the raw recompute")
  }

  test("raw engagement histograms route to the k-count partition") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    // the fixture spans epoch days ~19675..19687 (12 days from
    // 2023-11-14); an 8-day inclusive window truncates both ends
    val (lo, hi) = (19677L, 19684L)
    def hist(periodDays: Int = 1, loB: Option[Long] = Some(lo),
        hiB: Option[Long] = Some(hi), strictLo: Boolean = false,
        nonDistinct: Boolean = false, filtered: Boolean = false,
        distinctCount: Boolean = false) = {
      val base = if (filtered) src.filter(col("etype") === "click") else src
      val dayCol = (unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long")
      val withD = base.select(col("user_id"), dayCol.as("d"))
      val bounded0 = loB match {
        case Some(l) if strictLo => withD.filter(col("d") > l)
        case Some(l) => withD.filter(col("d") >= l)
        case None => withD
      }
      val bounded = hiB match {
        case Some(h) => bounded0.filter(col("d") <= h)
        case None => bounded0
      }
      val pCol =
        if (periodDays == 1) col("d")
        else floor(col("d").cast("double") / periodDays).cast("long")
      val inner =
        if (nonDistinct) count(pCol) else countDistinct(pCol)
      val nd = bounded.groupBy(col("user_id"))
        .agg(inner.as("n_active"))
      val cnt = if (distinctCount) countDistinct(col("user_id"))
        else count(col("user_id"))
      nd.groupBy(col("n_active")).agg(cnt.as("users"))
    }
    // SEGMENTED form: per-event-type activity histograms — the
    // k-count partitions per segment, an id's bucket counts its
    // active days WITHIN the segment
    def segH() = {
      val dayC = (unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long")
      src.select(col("user_id"), col("etype"), dayC.as("d"))
        .filter(col("d") >= lo && col("d") <= hi)
        .groupBy(col("user_id"), col("etype"))
        .agg(countDistinct(col("d")).as("n_active"))
        .groupBy(col("etype"), col("n_active"))
        .agg(count(col("user_id")).as("users"))
    }
    val routed = Seq(hist(), hist(periodDays = 2),
      hist(filtered = true), hist(distinctCount = true), segH())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"engagement route did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // a NON-distinct inner count counts events, not active periods
    assert(scansOf(hist(nonDistinct = true)).distinct == Seq(norm),
      "non-distinct inner count must refuse the engagement route")
    // one-sided windows are a different (and unbounded) question
    assert(scansOf(hist(loB = None)).distinct == Seq(norm),
      "missing lower bound must refuse")
    assert(scansOf(hist(hiB = None)).distinct == Seq(norm),
      "missing upper bound must refuse")
    // a STRICT bound's value space is off by one day — refused, the
    // cumulative strict-< discipline
    assert(scansOf(hist(strictLo = true)).distinct == Seq(norm),
      "strict lower bound must refuse")
    // windows wider than the serve's bounded fan-out refuse
    assert(scansOf(hist(loB = Some(lo - 400))).distinct == Seq(norm),
      "a 400-day window must refuse (the getEngagement 366 bound)")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(hist(), hist(periodDays = 2),
      hist(filtered = true), hist(distinctCount = true), segH())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"routed k-count partition must EQUAL the raw two-level " +
          s"group-by (form $i)")
    }
  }

  test("raw cohort-value plans route to the weight-map serve") {
    cohortValueRoutes(shardBits = 0)
  }

  test("raw cohort-value plans route to the weight-map serve, on a bitmap-sharded cube") {
    cohortValueRoutes(shardBits = 3)
  }

  private def cohortValueRoutes(shardBits: Int): Unit = {
    val srcDir = rollingSetup(shardBits = shardBits)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 3).cast("long")
    def g = src.groupBy(col("user_id"), pExpr.as("p"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
    def f = src.groupBy(col("user_id")).agg(min(pExpr).as("cohort"))
    // the age (offset) form AND the (cohort, period) form; count(1),
    // count(DISTINCT id) and a cast-to-double value all admitted
    def q(offset: Boolean) = {
      val j = g.join(f, "user_id")
      val groups =
        if (offset) Seq(col("cohort"), (col("p") - col("cohort")).as("age"))
        else Seq(col("cohort"), col("p"))
      j.groupBy(groups: _*)
        .agg(count(lit(1)).as("active"),
          sum(col("w")).as("value"))
    }
    def qCast() = g.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(countDistinct(col("user_id")).as("active"),
        sum(col("w")).cast("double").as("value"))
    val routed = Seq(q(true), q(false), qCast())
    routed.foreach { r =>
      assert(scansOf(r).forall(_.endsWith("/rollrw")),
        s"cohort-value route did not fire: ${scansOf(r)}")
    }
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(q(true), q(false), qCast())
    raw.zip(servedRows).zipWithIndex.foreach { case ((r, s), i) =>
      assert(sortedRows(r) == s,
        s"routed cohort-value matrix must EQUAL the raw join (form $i)")
    }
    // refusals: a double-summed weight (order-drift hazard) and a min
    // side with a DIFFERENT period width both stay raw
    CubeCatalog.clear(); rollingSetup(shardBits = shardBits)
    val badW = src.groupBy(col("user_id"), pExpr.as("p"))
      .agg(sum(col("value")).as("w")) // double sum — no money discipline
      .join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(sum(col("w")).as("value"))
    assert(!scansOf(badW).forall(_.endsWith("/rollrw")),
      "double-summed weights must stay raw")
    def p7 = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 7).cast("long")
    val badP = g.join(
        src.groupBy(col("user_id")).agg(min(p7).as("cohort")), "user_id")
      .groupBy(col("cohort"), col("p"))
      .agg(sum(col("w")).as("value"))
    assert(!scansOf(badP).forall(_.endsWith("/rollrw")),
      "mismatched period widths must stay raw")
    // a STRING id with NO dict-weighted cube registered stays raw —
    // rollrw's weighted measure keys the integral user_id, and uid_s
    // has no weighted/dictBitmaps pair, so the honest answer is no
    // route (the r16 string path requires a registered dictionary)
    val gS = src.groupBy(col("uid_s"), pExpr.as("p"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
    val fS = src.groupBy(col("uid_s")).agg(min(pExpr).as("cohort"))
    val badS = gS.join(fS, "uid_s")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("active"), sum(col("w")).as("value"))
    assert(!scansOf(badS).forall(_.endsWith("/rollrw")),
      "a string id with no registered dictionary-weighted cube must " +
        "stay raw")
  }

  test("raw cohort-matrix plans route to the bitmap serve") {
    cohortMatrixRoutes(shardBits = 0)
  }

  test("raw cohort-matrix plans route to the bitmap serve, on a bitmap-sharded cube") {
    cohortMatrixRoutes(shardBits = 3)
  }

  private def cohortMatrixRoutes(shardBits: Int): Unit = {
    val srcDir = rollingSetup(shardBits = shardBits)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 3).cast("long")
    def a = src.select(col("user_id"), pExpr.as("p")).distinct()
    def aRaw = src.select(col("user_id"), pExpr.as("p"))
    def f = src.groupBy(col("user_id")).agg(min(pExpr).as("cohort"))
    // the age (offset) form, the (cohort, period) form, count(1) over
    // DEDUPLICATED pairs, count(DISTINCT) over bare pairs (the
    // optimizer strips a redundant distinct below count(DISTINCT) —
    // the projectedPairs arrival shape), and a dim-filtered form
    def q(offset: Boolean) = {
      val j = a.join(f, "user_id")
      val groups =
        if (offset) Seq(col("cohort"), (col("p") - col("cohort")).as("age"))
        else Seq(col("cohort"), col("p"))
      j.groupBy(groups: _*)
        .agg(countDistinct(col("user_id")).as("active"))
    }
    def qPlain() = a.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("active"))
    def qBare() = aRaw.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(countDistinct(col("user_id")).as("active"))
    def qFiltered() = {
      def srcF = src.filter(col("etype") === "click")
      val aF = srcF.select(col("user_id"), pExpr.as("p")).distinct()
      val fF = srcF.groupBy(col("user_id")).agg(min(pExpr).as("cohort"))
      aF.join(fF, "user_id")
        .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
        .agg(countDistinct(col("user_id")).as("active"))
    }
    val routed = Seq(q(true), q(false), qPlain(), qBare(), qFiltered())
    routed.zipWithIndex.foreach { case (r, i) =>
      assert(scansOf(r).forall(_.endsWith("/rollrw")),
        s"cohort-matrix route $i did not fire: ${scansOf(r)}")
    }
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(q(true), q(false), qPlain(), qBare(), qFiltered())
    raw.zip(servedRows).zipWithIndex.foreach { case ((r, s), i) =>
      assert(sortedRows(r) == s,
        s"routed cohort matrix must EQUAL the raw join (form $i)")
    }
    // refusals: a plain count over a NON-deduplicated pair side counts
    // multiplicities the bitmap cells cannot see; a min side with a
    // DIFFERENT period width asks a different cohort question; an
    // extra pair column is a segment this serve does not partition
    CubeCatalog.clear(); rollingSetup(shardBits = shardBits)
    val badPlain = aRaw.join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("active"))
    assert(!scansOf(badPlain).forall(_.endsWith("/rollrw")),
      "count(1) over non-deduplicated pairs must stay raw")
    def p7 = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 7).cast("long")
    val badP = a.join(
        src.groupBy(col("user_id")).agg(min(p7).as("cohort")), "user_id")
      .groupBy(col("cohort"), col("p"))
      .agg(countDistinct(col("user_id")).as("active"))
    assert(!scansOf(badP).forall(_.endsWith("/rollrw")),
      "mismatched period widths must stay raw")
    val badSeg = src.select(col("user_id"), col("etype"), pExpr.as("p"))
      .distinct()
      .join(f, "user_id")
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(countDistinct(col("user_id")).as("active"))
    assert(!scansOf(badSeg).forall(_.endsWith("/rollrw")),
      "an extra pair column (segment) must stay raw")
  }

  test("raw value-bridge terms route to the weight-map walks") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 3).cast("long")
    def srcNN = src.filter(col("user_id").isNotNull)
    def g(base: DataFrame = srcNN) =
      base.groupBy(col("user_id"), pExpr.as("p"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
    def f = srcNN.groupBy(col("user_id")).agg(min(pExpr).as("fp"))
    // revenue: direct off the source (null ids INCLUDED — served from
    // the cube's plain measure partials)
    def rev() = src.groupBy(pExpr.as("p"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("revenue"))
    // revenue over the per-(id, period) frame, and its p+1 relabel
    def revG() = g().groupBy(col("p")).agg(sum(col("w")).as("revenue"))
    def prevRev() = g().groupBy((col("p") + 1).as("p"))
      .agg(sum(col("w")).cast("double").as("prev_revenue"))
    // the observed-period spine
    def spine() = src.select(pExpr.as("p")).distinct()
    // new value: ids at their first period
    def newV() = g().as("g").join(f.as("f"),
        col("g.user_id") === col("f.user_id") && col("g.p") === col("f.fp"))
      .groupBy(col("g.p")).agg(sum(col("g.w")).as("new_value"))
    // churned value: ids at p absent from p+1, labeled p+1
    def churn() = g().as("prv").join(g().as("cur"),
        col("cur.user_id") === col("prv.user_id") &&
          col("cur.p") === col("prv.p") + 1, "left_anti")
      .groupBy((col("p") + 1).as("p"))
      .agg(sum(col("w")).as("churned_value"))
    // expansion / contraction over retained ids
    def expCon() = g().as("cur").join(g().as("prv"),
        col("cur.user_id") === col("prv.user_id") &&
          col("prv.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(sum(greatest(col("cur.w") - col("prv.w"), lit(0).cast(
        "decimal(18,2)"))).as("expansion"),
        sum(greatest(col("prv.w") - col("cur.w"), lit(0).cast(
          "decimal(18,2)"))).as("contraction"))
    // resurrected value: absent from p−1 with a strict earlier witness
    def resV() = g().as("cur").join(g().as("prv"),
        col("cur.user_id") === col("prv.user_id") &&
          col("prv.p") === col("cur.p") - 1, "left_anti")
      .as("c2").join(f.as("f2"),
        col("f2.user_id") === col("c2.user_id") &&
          col("f2.fp") < col("c2.p"))
      .groupBy(col("c2.p")).agg(sum(col("c2.w")).as("resurrected_value"))
    val routed = Seq(rev(), revG(), prevRev(), spine(), newV(), churn(),
      expCon(), resV())
    routed.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"value-bridge route $i did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // refusals: churn without the null-id proof (LeftAnti keeps raw
    // null-id rows the maps never carry); a non-strict witness; a
    // double-summed weight
    def churnNoNN() = g(src).as("prv").join(g(src).as("cur"),
        col("cur.user_id") === col("prv.user_id") &&
          col("cur.p") === col("prv.p") + 1, "left_anti")
      .groupBy((col("p") + 1).as("p"))
      .agg(sum(col("w")).as("churned_value"))
    assert(scansOf(churnNoNN()).distinct == Seq(norm),
      "churn over a nullable unfiltered id must refuse")
    def resNonStrict() = g().as("cur").join(g().as("prv"),
        col("cur.user_id") === col("prv.user_id") &&
          col("prv.p") === col("cur.p") - 1, "left_anti")
      .as("c2").join(f.as("f2"),
        col("f2.user_id") === col("c2.user_id") &&
          col("f2.fp") <= col("c2.p"))
      .groupBy(col("c2.p")).agg(sum(col("c2.w")).as("resurrected_value"))
    assert(scansOf(resNonStrict()).distinct == Seq(norm),
      "a non-strict witness must refuse the resurrected-value route")
    def revBad() = src.groupBy(pExpr.as("p"))
      .agg(sum(col("value")).as("revenue")) // double sum — no discipline
    assert(scansOf(revBad()).distinct == Seq(norm),
      "a double-summed revenue must stay raw")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    Seq(rev(), revG(), prevRev(), spine(), newV(), churn(), expCon(),
      resV()).zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"routed value-bridge term must EQUAL the raw join (form $i)")
      }
  }

  test("raw top-spender leaderboards route to the weight-map top-k serve") {
    topSpenderRoutes(shardBits = 0)
  }

  test("raw top-spender leaderboards route to the weight-map top-k serve, on a bitmap-sharded cube") {
    topSpenderRoutes(shardBits = 3)
  }

  private def topSpenderRoutes(shardBits: Int): Unit = {
    val srcDir = rollingSetup(shardBits = shardBits)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 3).cast("long")
    import org.apache.spark.sql.expressions.Window
    def board(k: Int = 3, notNull: Boolean = true,
        tieById: Boolean = true, byCount: Boolean = false,
        useRank: Boolean = false, extraTie: Boolean = false,
        calendar: Boolean = false) = {
      val base = if (notNull) src.filter(col("user_id").isNotNull) else src
      val agg = if (byCount) count(lit(1)) else
        sum(col("value").cast("decimal(18,2)"))
      val pe =
        if (calendar) (year(col("ts")) * 12 + month(col("ts")))
          .cast("long")
        else pExpr
      val g = base.groupBy(col("user_id"), pe.as("p"))
        .agg(agg.as("w"))
      val ord =
        if (!tieById) Seq(col("w").desc)
        else if (extraTie) Seq(col("w").desc, col("p").asc,
          col("user_id").asc)
        else Seq(col("w").desc, col("user_id").asc)
      val win = Window.partitionBy(col("p")).orderBy(ord: _*)
      val rk = if (useRank) rank() else row_number()
      g.withColumn("rnk", rk.over(win)).filter(col("rnk") <= k)
        .select(col("p").as("period"), col("rnk").as("rank"),
          col("user_id").as("id"), col("w").cast("double").as("value"))
        .orderBy(col("period"), col("rank"))
    }
    // SEGMENTED board ("top spenders per event type per period"):
    // the window partitions by the segment too; an extra grouping NOT
    // in the partition would duplicate board rows — refused below
    def segBoard(partitioned: Boolean = true) = {
      val g = src.filter(col("user_id").isNotNull)
        .groupBy(col("etype"), col("user_id"), pExpr.as("p"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
      val win = (if (partitioned)
          Window.partitionBy(col("etype"), col("p"))
        else Window.partitionBy(col("p")))
        .orderBy(col("w").desc, col("user_id").asc)
      g.withColumn("rnk", row_number().over(win)).filter(col("rnk") <= 2)
        .select(col("etype"), col("p").as("period"),
          col("rnk").as("rank"), col("user_id").as("id"),
          col("w").cast("double").as("value"))
    }
    val routed = Seq(board(), board(k = 1), board(useRank = true),
      board(calendar = true), segBoard())
    routed.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"leaderboard route $i did not fire: ${scansOf(q)}")
    }
    assert(scansOf(segBoard(partitioned = false))
      .contains(CubeCatalog.normalize(srcDir)),
      "an extra grouping outside the window partition must refuse")
    val norm = CubeCatalog.normalize(srcDir)
    // refusals: k beyond the serve's bounded selection; a tieless or
    // foreign-column ORDER BY (nondeterministic / unservable ties); a
    // non-sum rank key; a nullable id with no IS NOT NULL proof
    assert(scansOf(board(k = 200)).distinct == Seq(norm),
      "k > 100 must refuse the leaderboard route")
    assert(scansOf(board(tieById = false)).distinct == Seq(norm),
      "a tieless ORDER BY must refuse (nondeterministic board)")
    assert(scansOf(board(extraTie = true)).distinct == Seq(norm),
      "extra tiebreak columns must refuse")
    assert(scansOf(board(byCount = true)).distinct == Seq(norm),
      "a non-sum rank key must refuse")
    assert(scansOf(board(notNull = false)).distinct == Seq(norm),
      "a nullable id with no IS NOT NULL conjunct must refuse " +
        "(the id is output-visible; maps carry no null-id group)")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    Seq(board(), board(k = 1), board(useRank = true),
      board(calendar = true), segBoard())
      .zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"routed leaderboard must EQUAL the raw rank (form $i)")
      }
  }

  test("all-NULL-weight rows follow the declared 0.00 convention") {
    import testImplicits._
    CubeCatalog.clear()
    // one id whose weights in the period are ALL NULL, one negative,
    // one positive — the exact boundary the analyzeTopSpenders
    // scaladoc declares: the routed board serves the all-NULL id at
    // 0.00 (above negatives); the raw window sorts its NULL value LAST
    val t0 = 1700000000000L
    val rows = Seq(
      (1L, new Timestamp(t0), None: Option[Double]),
      (1L, new Timestamp(t0 + 3600000L), None: Option[Double]),
      (2L, new Timestamp(t0), Some(-5.0)),
      (3L, new Timestamp(t0), Some(2.0)))
    val srcDir = Files.createTempDirectory("graft_nullw_src").toString
    rows.toDF("user_id", "ts", "value").write.mode("overwrite")
      .parquet(srcDir)
    val cfg = CubeConfig("nullw", "src",
      Seq(TimeDim("day", "ts", "day")),
      measures = Nil,
      weighted = Seq(WeightedMeasure("wv", "user_id", "value")))
    val cubeDir = Files.createTempDirectory("graft_nullw_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("nullw",
      CubeManager.load(spark, cubeDir, "nullw"), srcDir)
    def src = spark.read.parquet(srcDir)
    def pExpr = floor((unix_timestamp(col("ts")).cast("double") / 86400)
      .cast("long").cast("double") / 3).cast("long")
    import org.apache.spark.sql.expressions.Window
    def board() = {
      val g = src.filter(col("user_id").isNotNull)
        .groupBy(col("user_id"), pExpr.as("p"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
      val win = Window.partitionBy(col("p"))
        .orderBy(col("w").desc, col("user_id").asc)
      g.withColumn("rnk", row_number().over(win)).filter(col("rnk") <= 3)
        .select(col("p").as("period"), col("rnk").as("rank"),
          col("user_id").as("id"), col("w").cast("double").as("value"))
        .orderBy(col("rank"))
    }
    val routedQ = board()
    assert(scansOf(routedQ).forall(_.endsWith("/nullw")),
      s"leaderboard route did not fire: ${scansOf(routedQ)}")
    val routed = routedQ.collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id"),
        Option(r.getAs[java.lang.Double]("value")).map(_.toDouble)))
      .toSeq
    // routed: positive > all-NULL (0.00) > negative
    assert(routed == Seq((1L, 3L, Some(2.0)), (2L, 1L, Some(0.0)),
      (3L, 2L, Some(-5.0))),
      s"routed board must serve the all-NULL id at 0.00: $routed")
    CubeCatalog.clear()
    val raw = board().collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id"),
        Option(r.getAs[java.lang.Double]("value")).map(_.toDouble)))
      .toSeq
    // raw: NULLS LAST — the documented divergence, confined to ids
    // with no non-null weight in the period
    assert(raw == Seq((1L, 3L, Some(2.0)), (2L, 2L, Some(-5.0)),
      (3L, 1L, None)),
      s"raw board must sort the all-NULL value LAST: $raw")
  }

  test("raw resurrected plans route to the ANDNOT-prefix serve") {
    val srcDir = rollingSetup()
    def src = spark.read.parquet(srcDir)
    def up(filtered: Boolean = false) = {
      val b = if (filtered) src.filter(col("etype") === "click") else src
      b.select(col("user_id"), dayCol).distinct()
    }
    // growth accounting's fourth cell, raw: of day d's actives, those
    // absent from d−1 that WERE seen earlier — anti on the preceding
    // day plus an earlier-activity witness (semi `q < d` or the
    // min-period frame), the joins stacked in either order
    def res(semiOutside: Boolean = false, minJoin: Boolean = false,
        filtered: Boolean = false, nonStrict: Boolean = false,
        plainCount: Boolean = false, oneSided: Boolean = false,
        wrongAdjacency: Boolean = false, segmented: Boolean = false) = {
      val u = up(filtered)
      val uw = up(filtered && !oneSided)
      def antiOf(l: DataFrame) = l.as("c").join(u.as("prev"),
        col("c.user_id") === col("prev.user_id") &&
          (if (wrongAdjacency) col("prev.d") === col("c.d") + 1
           else col("prev.d") === col("c.d") - 1), "left_anti")
      def witOf(l: DataFrame) =
        if (minJoin) {
          val f = u.groupBy(col("user_id")).agg(min(col("d")).as("fd"))
          l.as("c2").join(f.as("f"),
            col("f.user_id") === col("c2.user_id") &&
              col("f.fd") < col("c2.d"))
        } else l.as("c2").join(uw.as("w"),
          col("w.user_id") === col("c2.user_id") &&
            (if (nonStrict) col("w.d") <= col("c2.d")
             else col("w.d") < col("c2.d")), "left_semi")
      val joined =
        if (semiOutside || minJoin) witOf(antiOf(u))
        else antiOf(witOf(u))
      val groups =
        if (segmented) Seq(col("c2.d"), col("c2.user_id"))
        else Seq(col("c2.d"))
      val cnt =
        if (plainCount) count(col("c2.user_id"))
        else countDistinct(col("c2.user_id"))
      // the default (anti-outside) order leaves no c2 qualifier —
      // fall back to the bare names there
      val (g2, c2) =
        if (semiOutside || minJoin) (groups, cnt)
        else (
          if (segmented) Seq(col("d"), col("user_id")) else Seq(col("d")),
          if (plainCount) count(col("user_id"))
          else countDistinct(col("user_id")))
      joined.groupBy(g2: _*).agg(c2.as("resurrected"))
    }
    val routed = Seq(res(), res(semiOutside = true), res(minJoin = true),
      res(filtered = true))
    routed.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"resurrected route did not fire (form $i): ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // `q <= d` admits the same-day self-witness — every id absent
    // from d−1 "resurrects": a different query, must refuse
    assert(scansOf(res(nonStrict = true)).distinct == Seq(norm),
      "non-strict witness must refuse the resurrected route")
    // a plain count over the anti+semi output double-counts pair
    // multiplicity the serve cannot see — require the distinct flag
    assert(scansOf(res(plainCount = true)).distinct == Seq(norm),
      "plain count must refuse the resurrected route")
    // one-sided witness filter asks a different cohort question
    assert(scansOf(res(filtered = true, oneSided = true))
      .distinct == Seq(norm),
      "one-sided filter must refuse the resurrected route")
    // absent-from-FOLLOWING is churn-with-witness — not this serve
    assert(scansOf(res(wrongAdjacency = true)).distinct == Seq(norm),
      "wrong adjacency direction must refuse the resurrected route")
    // grouping by the id is a per-id listing, not the matrix cell
    assert(scansOf(res(segmented = true)).distinct == Seq(norm),
      "extra groupings must refuse the resurrected route")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(res(), res(semiOutside = true), res(minJoin = true),
      res(filtered = true))
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"routed resurrected counts must EQUAL the raw three-join " +
          s"recompute (form $i)")
    }
  }

  test("calendar-ordinal cohort plans route; Dec->Jan adjacency exact") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(83)
    // 2023-09 .. 2024-05: the fixture CROSSES a year boundary, so the
    // ordinal adjacency (2024*12+1) − 1 = 2023*12+12 is load-bearing
    val rows = (0 until 1600).map { i =>
      (new Timestamp(1695000000000L + rnd.nextInt(240).toLong * 86400000L
        + rnd.nextInt(86400000)),
        (i % 90).toLong,
        Seq("view", "click")(rnd.nextInt(2)))
    }
    val srcDir = Files.createTempDirectory("graft_calrw_src").toString
    rows.toDF("ts", "user_id", "etype").write.mode("overwrite")
      .parquet(srcDir)
    val cfg = CubeConfig("calrw", "src",
      Seq(FieldDim("etype", "etype"), TimeDim("day", "ts", "day")),
      measures = Nil,
      bitmaps = Seq(Measure("u", "user_id")))
    val cubeDir = Files.createTempDirectory("graft_calrw_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("calrw",
      CubeManager.load(spark, cubeDir, "calrw"), srcDir)
    def src = spark.read.parquet(srcDir)
    // month ordinal, with and without an additive constant; quarter
    // and year ordinals; the yyyymm encoding that must refuse
    def ord(kind: String) = (kind match {
      case "month" => year(col("ts")) * 12 + month(col("ts"))
      case "month1" => year(col("ts")) * 12 + month(col("ts")) - 1
      case "quarter" => year(col("ts")) * 4 + quarter(col("ts"))
      case "year" => year(col("ts"))
      case _ => year(col("ts")) * 100 + month(col("ts")) // yyyymm
    }).cast("long")
    def mp(kind: String) =
      src.select(col("user_id"), ord(kind).as("m")).distinct()
    def retained(kind: String) = {
      val up = mp(kind)
      up.as("cur").join(up.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.m") === col("cur.m") - 1)
        .groupBy(col("cur.m"))
        .agg(countDistinct(col("cur.user_id")).as("retained"))
    }
    // SEGMENTED calendar: "monthly retention per event type" — the
    // segment rides both pair sides and the join, the serve
    // partitions the ordinal AND-walk per segment cell
    def segRetained() = {
      val up = src.select(col("etype"), col("user_id"),
        ord("month").as("m")).distinct()
      up.as("cur").join(up.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("cur.etype") === col("prev.etype") &&
            col("prev.m") === col("cur.m") - 1)
        .groupBy(col("cur.etype"), col("cur.m"))
        .agg(countDistinct(col("cur.user_id")).as("retained"))
    }
    def firstSeen(kind: String) = src
      .groupBy(col("user_id")).agg(min(ord(kind)).as("fm"))
      .groupBy(col("fm")).agg(count(col("user_id")).as("nn"))
    def cumulative(kind: String) = {
      val du = mp(kind)
      val months = du.select(col("m").as("mm")).distinct()
      months.join(du, col("m") <= col("mm"))
        .groupBy(col("mm"))
        .agg(countDistinct(col("user_id")).as("cum"))
    }
    def resurrected(kind: String) = {
      val up = mp(kind)
      up.as("c").join(up.as("prev"),
          col("c.user_id") === col("prev.user_id") &&
            col("prev.m") === col("c.m") - 1, "left_anti")
        .as("c2").join(up.as("w"),
          col("w.user_id") === col("c2.user_id") &&
            col("w.m") < col("c2.m"), "left_semi")
        .groupBy(col("m"))
        .agg(countDistinct(col("user_id")).as("resurrected"))
    }
    // monthly conversion funnel: the min-join chain with ordinal
    // periods — the cascade's window walks month ordinals
    def funnelM() = {
      def sp(step: String) = src.filter(col("etype") === step)
        .select(col("user_id"), ord("month").as("p"))
      val s1 = sp("view").groupBy(col("user_id"))
        .agg(min(col("p")).as("t1"))
      val chain = sp("click").as("e").join(s1.as("pv"),
          col("e.user_id") === col("pv.user_id") &&
            col("e.p") >= col("pv.t1"))
        .groupBy(col("e.user_id")).agg(min(col("e.p")).as("t2"))
      val months = src.select(ord("month").as("mm")).distinct()
      months.join(chain, col("t2") <= col("mm"))
        .groupBy(col("mm"))
        .agg(countDistinct(col("user_id")).as("converted"))
    }
    val routed = Seq(retained("month"), retained("month1"),
      retained("quarter"), retained("year"), firstSeen("month"),
      cumulative("month"), resurrected("month"), funnelM(),
      segRetained())
    routed.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.endsWith("/calrw")),
        s"calendar route $i did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // yyyymm: −1 adjacency is WRONG at December — routing would bless
    // a broken dashboard, so the encoding must stay unrecognized
    assert(scansOf(retained("yyyymm")).distinct == Seq(norm),
      "yyyymm encoding must refuse the calendar route")
    // mixed granularities across the self-join sides refuse
    val mixedQ = {
      val a = mp("month")
      val b = src.select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("m")).distinct()
      a.as("cur").join(b.as("prev"),
          col("cur.user_id") === col("prev.user_id") &&
            col("prev.m") === col("cur.m") - 1)
        .groupBy(col("cur.m"))
        .agg(countDistinct(col("cur.user_id")).as("retained"))
    }
    assert(scansOf(mixedQ).distinct == Seq(norm),
      "mixed period granularities must refuse")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    val raw = Seq(retained("month"), retained("month1"),
      retained("quarter"), retained("year"), firstSeen("month"),
      cumulative("month"), resurrected("month"), funnelM(),
      segRetained())
    raw.zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
      assert(sortedRows(q) == s,
        s"calendar-routed result must EQUAL the raw recompute " +
          s"(form $i)")
    }
  }

  test("raw funnel min-join chains route to the cascade; curve identical") {
    funnelRoutes(shardBits = 0)
  }

  test("raw funnel min-join chains route to the cascade; curve identical, on a bitmap-sharded cube") {
    funnelRoutes(shardBits = 3)
  }

  private def funnelRoutes(shardBits: Int): Unit = {
    val srcDir = rollingSetup(shardBits = shardBits)
    def src = spark.read.parquet(srcDir)
    def pairs(step: String) = src.filter(col("etype") === step)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
    // the min-conversion-time recursion, written the way users write
    // it: t_1 = min period of step-1 activity, t_k = min period ≥
    // t_{k−1} with step-k activity, converted-by-p = |{t_K ≤ p}|
    def funnel(steps: Seq[String], strict: Boolean = false,
        filteredDays: Boolean = false) = {
      val s1 = pairs(steps.head).groupBy(col("user_id"))
        .agg(min(col("p")).as("t1"))
      val chain = steps.tail.zipWithIndex.foldLeft(s1) {
        case (prev, (s, i)) =>
          pairs(s).as("e").join(prev.as("pv"),
              col("e.user_id") === col("pv.user_id") &&
                col("e.p") >= col(s"pv.t${i + 1}"))
            .groupBy(col("e.user_id"))
            .agg(min(col("e.p")).as(s"t${i + 2}"))
      }
      val t = s"t${steps.size}"
      val daysBase = if (filteredDays) src.filter(col("etype") === "view")
        else src
      val days = daysBase.select(
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("day")).distinct()
      days.join(chain,
          if (strict) col(t) < col("day") else col(t) <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("converted"))
        .orderBy(col("day"))
    }
    val two = funnel(Seq("click", "view"))
    assert(scansOf(two).forall(_.endsWith("/rollrw")),
      s"funnel route did not fire: ${scansOf(two)}")
    // a 2-step chain in the other order routes too (order is semantic,
    // not structural)
    val rev = funnel(Seq("view", "click"))
    assert(scansOf(rev).forall(_.endsWith("/rollrw")),
      s"reversed funnel route did not fire: ${scansOf(rev)}")
    // refusals: the strict inequality is the EXCLUSIVE curve (a
    // different chart); a filtered days side is a different period
    // domain; a repeated step is not a funnel
    val rawSrc = CubeCatalog.normalize(srcDir)
    assert(scansOf(funnel(Seq("click", "view"), strict = true))
      .contains(rawSrc), "strict inequality must refuse")
    assert(scansOf(funnel(Seq("click", "view"), filteredDays = true))
      .contains(rawSrc), "filtered days side must refuse")
    assert(scansOf(funnel(Seq("click", "click")))
      .contains(rawSrc), "repeated step must refuse")
    // days side grouped WIDER than the period (CollapseProject folds a
    // day-only projection into DISTINCT(day, etype) → Aggregate with
    // gs=[day, etype], outs=[day]): duplicate period rows make plain
    // count(id) count each converted id once per duplicate — a
    // DIFFERENT answer, must refuse; count(DISTINCT) is
    // duplicate-inert — still routes and matches the raw recompute
    def wideDays(distinctCount: Boolean) = {
      val s1 = pairs("click").groupBy(col("user_id"))
        .agg(min(col("p")).as("t1"))
      val chain = pairs("view").as("e").join(s1.as("pv"),
          col("e.user_id") === col("pv.user_id") &&
            col("e.p") >= col("pv.t1"))
        .groupBy(col("e.user_id")).agg(min(col("e.p")).as("t2"))
      val days = src.select(
          (unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").as("day"),
          col("etype")).distinct().select(col("day"))
      val joined = days.join(chain, col("t2") <= col("day"))
      val agg =
        if (distinctCount) joined.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("converted"))
        else joined.groupBy(col("day"))
          .agg(count(col("user_id")).as("converted"))
      agg.orderBy(col("day"))
    }
    assert(scansOf(wideDays(distinctCount = false)).contains(rawSrc),
      "wide days grouping + plain count must refuse (duplicate " +
        "periods change the count)")
    assert(scansOf(wideDays(distinctCount = true))
      .forall(_.endsWith("/rollrw")),
      s"wide days grouping + count(DISTINCT) must route: " +
        s"${scansOf(wideDays(distinctCount = true))}")
    val servedWide = sortedRows(wideDays(distinctCount = true))
    val servedTwo = sortedRows(two)
    val servedRev = sortedRows(rev)
    CubeCatalog.clear()
    assert(scansOf(funnel(Seq("click", "view")))
      .contains(CubeCatalog.normalize(srcDir)))
    assert(sortedRows(funnel(Seq("click", "view"))) == servedTwo,
      "routed funnel curve must EQUAL the raw min-join recompute")
    assert(sortedRows(funnel(Seq("view", "click"))) == servedRev,
      "routed reversed curve must EQUAL the raw recompute")
    assert(sortedRows(wideDays(distinctCount = true)) == servedWide,
      "routed wide-days distinct curve must EQUAL the raw recompute")
  }

  test("raw WINDOWED funnel chains route to the bounded cascade") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(83)
    val rows = (0 until 1500).map { i =>
      (Seq("view", "click", "purchase")(rnd.nextInt(3)),
        new Timestamp(1700000000000L + rnd.nextInt(14) * 86400000L
          + rnd.nextInt(86400000)),
        (i % 60).toLong)
    }
    val srcDir = Files.createTempDirectory("graft_wfun_src").toString
    rows.toDF("etype", "ts", "user_id").write.mode("overwrite")
      .parquet(srcDir)
    val cfg = CubeConfig("wfun", "src",
      Seq(FieldDim("etype", "etype"), TimeDim("day", "ts", "day")),
      measures = Nil,
      bitmaps = Seq(Measure("u", "user_id")))
    val cubeDir = Files.createTempDirectory("graft_wfun_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("wfun",
      CubeManager.load(spark, cubeDir, "wfun"), srcDir)
    def src = spark.read.parquet(srcDir)
    def ev(step: String) = src.filter(col("etype") === step)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
    // the q246 qualified-pair recursion, written the way users write
    // it: Q_k = DISTINCT step-k pairs with a qualified step-(k−1)
    // pair within the trailing window, then min + cumulative count
    def wfunnel(w: Int, steps: Seq[String] = Seq("view", "click",
        "purchase"), flip: Boolean = false,
        strictLo: Boolean = false) = {
      val q1 = ev(steps.head).distinct()
      val qK = steps.tail.foldLeft(q1) { (prevQ, s) =>
        val cond0 = col("c.user_id") === col("e.user_id")
        val cond =
          if (flip) cond0 && col("e.p") >= col("c.p") &&
            col("e.p") <= col("c.p") + w
          else if (strictLo) cond0 && col("c.p") > col("e.p") - w &&
            col("c.p") <= col("e.p")
          else cond0 && col("c.p") >= col("e.p") - w &&
            col("c.p") <= col("e.p")
        ev(s).as("e").join(prevQ.as("c"), cond)
          .select(col("e.user_id"), col("e.p")).distinct()
      }
      val t = qK.groupBy(col("user_id")).agg(min(col("p")).as("t"))
      val days = src.select(
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("day")).distinct()
      days.join(t, col("t") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("converted"))
        .orderBy(col("day"))
    }
    val routed = Seq(wfunnel(3), wfunnel(1),
      wfunnel(3, flip = true), wfunnel(3, steps = Seq("view", "click")))
    routed.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.endsWith("/wfun")),
        s"windowed funnel route $i did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // a strict lower bound is an (w−1)-ish window nobody can serve
    // exactly — refuse rather than bless a shifted chart
    assert(scansOf(wfunnel(3, strictLo = true)).contains(norm),
      "a strict window bound must refuse the bounded cascade")
    // DEGENERATION: a window covering the whole horizon equals the
    // unbounded cascade — the routed wide-window curve must equal the
    // raw UNBOUNDED min-chain recompute (the q252 form)
    val wide = wfunnel(400)
    assert(scansOf(wide).forall(_.endsWith("/wfun")),
      s"wide-window funnel did not route: ${scansOf(wide)}")
    val servedWide = sortedRows(wide)
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    Seq(wfunnel(3), wfunnel(1), wfunnel(3, flip = true),
      wfunnel(3, steps = Seq("view", "click")))
      .zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"routed windowed funnel must EQUAL the raw qualified-pair " +
            s"recompute (form $i)")
      }
    // the unbounded min-chain raw recompute (q252's shape)
    def unbounded() = {
      val s1 = ev("view").groupBy(col("user_id"))
        .agg(min(col("p")).as("t1"))
      val s2 = ev("click").as("e").join(s1.as("pv"),
          col("e.user_id") === col("pv.user_id") &&
            col("e.p") >= col("pv.t1"))
        .groupBy(col("e.user_id")).agg(min(col("e.p")).as("t2"))
      val s3 = ev("purchase").as("e").join(s2.as("pv"),
          col("e.user_id") === col("pv.user_id") &&
            col("e.p") >= col("pv.t2"))
        .groupBy(col("e.user_id")).agg(min(col("e.p")).as("t3"))
      val days = src.select(
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("day")).distinct()
      days.join(s3, col("t3") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("converted"))
        .orderBy(col("day"))
    }
    assert(servedWide == sortedRows(unbounded()),
      "a horizon-wide window must degenerate to the unbounded cascade")
  }

  test("raw time-to-convert lag histograms route to the (F, N) pairing") {
    timeToConvertRoutes(shardBits = 0)
  }

  test("raw time-to-convert lag histograms route to the (F, N) pairing, on a bitmap-sharded cube") {
    timeToConvertRoutes(shardBits = 3)
  }

  private def timeToConvertRoutes(shardBits: Int): Unit = {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(89)
    val rows = (0 until 1500).map { i =>
      (Seq("view", "click", "purchase")(rnd.nextInt(3)),
        new Timestamp(1700000000000L + rnd.nextInt(14) * 86400000L
          + rnd.nextInt(86400000)),
        (i % 60).toLong)
    }
    val srcDir = Files.createTempDirectory("graft_ttc_src").toString
    rows.toDF("etype", "ts", "user_id").write.mode("overwrite")
      .parquet(srcDir)
    val cubeDir = Files.createTempDirectory("graft_ttc_cube").toString
    CubeManager.save(CubeManager.create(
      CubeConfig("ttc", "src",
        Seq(FieldDim("etype", "etype"), TimeDim("day", "ts", "day")),
        measures = Nil, bitmaps = Seq(Measure("u", "user_id")),
        bitmapShardBits = shardBits),
      spark.read.parquet(srcDir)), cubeDir)
    CubeCatalog.register("ttc",
      CubeManager.load(spark, cubeDir, "ttc"), srcDir)
    def src = spark.read.parquet(srcDir)
    def ev(step: String) = src.filter(col("etype") === step)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
    def stage(prev: DataFrame, s: String, t: String, pt: String) =
      ev(s).as("e").join(prev.as("pv"),
          col("e.user_id") === col("pv.user_id") &&
            col("e.p") >= col(s"pv.$pt"))
        .groupBy(col("e.user_id")).agg(min(col("e.p")).as(t))
    def s1 = ev("view").groupBy(col("user_id"))
      .agg(min(col("p")).as("t1"))
    def s2 = stage(s1, "click", "t2", "t1")
    def s3 = stage(s2, "purchase", "t3", "t2")
    def lagHist(short: DataFrame, shortT: String, long: DataFrame,
        longT: String, reversed: Boolean = false) = {
      val j = long.as("k").join(short.as("f"),
        col("k.user_id") === col("f.user_id"))
      val lag =
        if (reversed) (col(s"f.$shortT") - col(s"k.$longT")).as("lag")
        else (col(s"k.$longT") - col(s"f.$shortT")).as("lag")
      j.groupBy(lag).agg(count(lit(1)).as("converted")).orderBy(col("lag"))
    }
    val routed = Seq(lagHist(s1, "t1", s3, "t3"),
      lagHist(s1, "t1", s2, "t2"))
    routed.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.endsWith("/ttc")),
        s"time-to-convert route $i did not fire: ${scansOf(q)}")
    }
    val norm = CubeCatalog.normalize(srcDir)
    // refusals: a lag anchored on a NON-first stage has no F-frame; a
    // reversed subtraction is a different (negative) histogram
    assert(scansOf(lagHist(s2, "t2", s3, "t3")).contains(norm),
      "a t3 - t2 lag must refuse (the anchor is not the first stage)")
    assert(scansOf(lagHist(s1, "t1", s3, "t3", reversed = true))
      .contains(norm), "a reversed subtraction must refuse")
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    Seq(lagHist(s1, "t1", s3, "t3"), lagHist(s1, "t1", s2, "t2"))
      .zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"routed lag histogram must EQUAL the raw min-chain " +
            s"subtraction (form $i)")
      }
  }

  test("SQL-text retention and cumulative plans route like the DataFrame forms") {
    val srcDir = rollingSetup()
    spark.read.parquet(srcDir).createOrReplaceTempView("rollrw_sql")
    def ret() = spark.sql("""
      WITH up AS (
        SELECT DISTINCT user_id,
          CAST(FLOOR(CAST(CAST(CAST(unix_timestamp(ts) AS DOUBLE) / 86400
            AS BIGINT) AS DOUBLE) / 3) AS BIGINT) AS p
        FROM rollrw_sql)
      SELECT cur.p, COUNT(DISTINCT cur.user_id) AS retained
      FROM up cur JOIN up prev
        ON cur.user_id = prev.user_id AND prev.p = cur.p - 1
      GROUP BY cur.p""")
    def cum() = spark.sql("""
      WITH du AS (
        SELECT DISTINCT user_id,
          CAST(CAST(unix_timestamp(ts) AS DOUBLE) / 86400 AS BIGINT) AS d
        FROM rollrw_sql),
      days AS (SELECT DISTINCT d AS day FROM du)
      SELECT days.day, COUNT(DISTINCT du.user_id) AS cum_users
      FROM days JOIN du ON du.d <= days.day
      GROUP BY days.day""")
    // first-seen and engagement as the SQL strings a dashboard logs —
    // the subquery-in-FROM forms parse to the same Aggregate-over-
    // Aggregate plans the DataFrame forms build
    def firstSeen() = spark.sql("""
      WITH f AS (
        SELECT user_id,
          MIN(CAST(FLOOR(CAST(CAST(CAST(unix_timestamp(ts) AS DOUBLE)
            / 86400 AS BIGINT) AS DOUBLE) / 3) AS BIGINT)) AS fw
        FROM rollrw_sql GROUP BY user_id)
      SELECT fw, COUNT(user_id) AS new_users FROM f GROUP BY fw""")
    def engage() = spark.sql("""
      WITH nd AS (
        SELECT user_id, COUNT(DISTINCT CAST(CAST(unix_timestamp(ts)
            AS DOUBLE) / 86400 AS BIGINT)) AS n_active
        FROM rollrw_sql
        WHERE CAST(CAST(unix_timestamp(ts) AS DOUBLE) / 86400
            AS BIGINT) BETWEEN 19677 AND 19684
        GROUP BY user_id)
      SELECT n_active, COUNT(user_id) AS users FROM nd GROUP BY n_active""")
    val routed = Seq(ret(), cum(), firstSeen(), engage())
    routed.foreach { q =>
      assert(scansOf(q).forall(_.endsWith("/rollrw")),
        s"SQL-text cohort route did not fire: ${scansOf(q)}")
    }
    val servedRows = routed.map(sortedRows)
    CubeCatalog.clear()
    Seq(ret(), cum(), firstSeen(), engage()).zip(servedRows).zipWithIndex
      .foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"SQL-text routed result must EQUAL the raw plan (form $i)")
    }
  }

  test("STRING ids route EXACTLY through dictionary bitmaps, no opt-in") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(59)
    val rows = (0 until 900).map { i =>
      (Seq("view", "click")(rnd.nextInt(2)),
        // 75 days: 2023-11-14 .. 2024-01-27, CROSSING a year boundary
        // so the dict × calendar pin's Dec→Jan adjacency is real
        new Timestamp(1700000000000L + rnd.nextInt(75) * 86400000L
          + rnd.nextInt(86400000)),
        s"u${i % 70}",
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val srcDir = Files.createTempDirectory("graft_dictrw_src").toString
    rows.toDF("etype", "ts", "uid", "value").write.mode("overwrite")
      .parquet(srcDir)
    val cfg = CubeConfig("dictrw", "src",
      Seq(FieldDim("etype", "etype"), TimeDim("day", "ts", "day")),
      measures = Nil,
      dictBitmaps = Seq(Measure("us", "uid")),
      // r16: the STRING-keyed LTV route — weight maps ride the
      // dictionary's dense ids (weightedIdCol), serve is id-free
      weighted = Seq(WeightedMeasure("wv", "uid", "value")))
    val cubeDir = Files.createTempDirectory("graft_dictrw_cube").toString
    CubeManager.save(
      CubeManager.create(cfg, spark.read.parquet(srcDir)), cubeDir)
    // no approxDistinct opt-in: the dictionary binding must be treated
    // as answer-preserving (effective family xdistinct)
    CubeCatalog.register("dictrw",
      CubeManager.load(spark, cubeDir, "dictrw"), srcDir)
    def src = spark.read.parquet(srcDir)
    def rolling() = graft.functions.Rolling.endpoints(
        src.select(col("uid"), dayCol).distinct(), 3)
      .agg(countDistinct(col("uid")).as("n3"))
    def pairs(pd: Int) = src.select(col("uid"),
        floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / pd).cast("long").as("p"))
      .distinct()
    def retained() = {
      val up = pairs(3)
      up.as("cur").join(up.as("prev"),
          col("cur.uid") === col("prev.uid") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.uid")).as("retained"))
    }
    def cumulative() = {
      val du = src.select(col("uid"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d")).distinct()
      val days = du.select(col("d").as("day")).distinct()
      days.join(du, col("d") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("uid")).as("cum"))
    }
    def funnel() = {
      def sp(step: String) = src.filter(col("etype") === step)
        .select(col("uid"),
          (unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").as("p"))
      val s1 = sp("view").groupBy(col("uid")).agg(min(col("p")).as("t1"))
      val chain = sp("click").as("e").join(s1.as("pv"),
          col("e.uid") === col("pv.uid") && col("e.p") >= col("pv.t1"))
        .groupBy(col("e.uid")).agg(min(col("e.p")).as("t2"))
      val days = src.select(
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("day")).distinct()
      days.join(chain, col("t2") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("uid")).as("converted"))
    }
    // the newest histogram families over STRING keys: first-seen and
    // the fixed-window engagement histogram — dict partials behave as
    // plain bitmaps (dense ids are consistent across periods within
    // the cube, so ANDNOT walks and k-count partitions stay exact)
    def firstSeen() = src
      .select(col("uid"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("d"))
      .groupBy(col("uid")).agg(min(col("d")).as("fd"))
      .groupBy(col("fd")).agg(count(col("uid")).as("nn"))
    def engagement() = {
      val day0 = 1700000000000L / 86400000L
      src.select(col("uid"),
          (unix_timestamp(col("ts")).cast("double") / 86400)
            .cast("long").as("d"))
        .filter(col("d").between(day0 + 1, day0 + 6))
        .groupBy(col("uid"))
        .agg(countDistinct(col("d")).as("n_active"))
        .groupBy(col("n_active"))
        .agg(count(col("uid")).as("users"))
    }
    def resurrected() = {
      val up = pairs(1)
      up.as("c").join(up.as("prev"),
          col("c.uid") === col("prev.uid") &&
            col("prev.p") === col("c.p") - 1, "left_anti")
        .as("c2").join(up.as("w"),
          col("w.uid") === col("c2.uid") && col("w.p") < col("c2.p"),
          "left_semi")
        .groupBy(col("p"))
        .agg(countDistinct(col("uid")).as("resurrected"))
    }
    // STRING ids x CALENDAR ordinals: monthly retention over the
    // dictionary bitmaps — dense dict ids are period-consistent
    // within the cube, so the ordinal AND-walk stays exact
    def calRetained() = {
      val up = src.select(col("uid"),
        (year(col("ts")) * 12 + month(col("ts"))).cast("long").as("p"))
        .distinct()
      up.as("cur").join(up.as("prev"),
          col("cur.uid") === col("prev.uid") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.uid")).as("retained"))
    }
    // r16: the raw STRING-keyed LTV matrix — the cohort-value matcher
    // binds the dict-weighted cube exactly like the integral form (the
    // weight maps already key the dictionary's dense ids; the matrix
    // is id-free, so the injective encoding changes nothing)
    def ltv(calendar: Boolean = false) = {
      val pe =
        if (calendar) (year(col("ts")) * 12 + month(col("ts"))).cast("long")
        else floor((unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").cast("double") / 3).cast("long")
      val g = src.groupBy(col("uid"), pe.as("p"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
      val f = src.groupBy(col("uid")).agg(min(pe).as("cohort"))
      g.join(f, "uid")
        .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
        .agg(count(lit(1)).as("active"),
          sum(col("w")).cast("double").as("value"))
    }
    // r16: the STRING-keyed leaderboard — candidates translate through
    // the dictionary BEFORE ranking, so ties break on the visible key
    def boardS() = {
      import org.apache.spark.sql.expressions.Window
      val pe = floor((unix_timestamp(col("ts")).cast("double") / 86400)
        .cast("long").cast("double") / 3).cast("long")
      val g = src.filter(col("uid").isNotNull)
        .groupBy(col("uid"), pe.as("p"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
      val win = Window.partitionBy(col("p"))
        .orderBy(col("w").desc, col("uid").asc)
      g.withColumn("rnk", row_number().over(win))
        .filter(col("rnk") <= 3)
        .select(col("p").as("period"), col("rnk").as("rank"),
          col("uid").as("id"), col("w").cast("double").as("value"))
    }
    val routedQs = Seq(rolling(), retained(), cumulative(), funnel(),
      firstSeen(), engagement(), resurrected(), calRetained(),
      ltv(), ltv(calendar = true), boardS())
    routedQs.zipWithIndex.foreach { case (q, i) =>
      // the leaderboard's visible-id translation also scans the cube's
      // own dictionary parquet (dictrw.dict/<id>) — still cube-only
      assert(scansOf(q).forall(p =>
          p.endsWith("/dictrw") || p.contains("/dictrw.dict/")),
        s"string-id route $i did not fire: ${scansOf(q)}")
    }
    val servedRows = routedQs.map(sortedRows)
    CubeCatalog.clear()
    Seq(rolling(), retained(), cumulative(), funnel(), firstSeen(),
      engagement(), resurrected(), calRetained(), ltv(),
      ltv(calendar = true), boardS())
      .zip(servedRows).zipWithIndex.foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"dictionary-routed result must EQUAL the raw recompute " +
            s"(form $i)")
      }
  }

  test("JOIN-sourced cohort plans (retention/churn/cumulative) route to the join MV") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(73)
    val ords = (0 until 40).map(i =>
      (i.toLong,
        new Timestamp(1700000000000L + rnd.nextInt(21) * 86400000L)))
    val lins = (0 until 400).map(_ =>
      (rnd.nextInt(44).toLong, rnd.nextInt(25).toLong,
        Seq("A", "N", "R")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 1000) / 100.0))
    val lDir = Files.createTempDirectory("graft_jcoh_l").toString
    val rDir = Files.createTempDirectory("graft_jcoh_r").toString
    ords.toDF("o_key", "o_ts").write.mode("overwrite").parquet(lDir)
    lins.toDF("l_key", "l_supp", "l_flag", "l_amt")
      .write.mode("overwrite").parquet(rDir)
    val jcfg = JoinCubeConfig(
      CubeConfig("jcoh", "l_r",
        dims = Seq(FieldDim("flag", "l_flag"),
          TimeDim("day", "o_ts", "day")),
        measures = Nil,
        bitmaps = Seq(Measure("sup", "l_supp")),
        weighted = Seq(WeightedMeasure("sv", "l_supp", "l_amt"))),
      leftKey = "o_key", rightKey = "l_key")
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_jcoh_svc").toString)
    svc.createJoinCube(jcfg,
      spark.read.parquet(lDir), spark.read.parquet(rDir))
    CubeCatalog.registerJoin("jcoh", svc.loadJoinCube("jcoh"), lDir, rDir)
    // the raw cohort plans, written over the JOIN — the time column
    // from the left side, the counted id from the right
    def joined = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_key"))
    def pairs(pd: Int) = joined.select(col("l_supp"),
        floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
          .cast("long").cast("double") / pd).cast("long").as("p"))
      .distinct()
    def retained() = {
      val up = pairs(7)
      up.as("cur").join(up.as("prev"),
          col("cur.l_supp") === col("prev.l_supp") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.l_supp")).as("retained"))
    }
    def churned() = {
      val up = pairs(7)
      up.as("cur").join(up.as("nxt"),
          col("cur.l_supp") === col("nxt.l_supp") &&
            col("nxt.p") === col("cur.p") + 1, "left_anti")
        .groupBy(col("p"))
        .agg(countDistinct(col("l_supp")).as("churned"))
    }
    def cumulative() = {
      val du = joined.select(col("l_supp"),
          (unix_timestamp(col("o_ts")).cast("double") / 86400)
            .cast("long").as("d")).distinct()
      val days = du.select(col("d").as("day")).distinct()
      days.join(du, col("d") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("l_supp")).as("cum"))
    }
    // the FUNNEL chain over the join: suppliers whose lines progressed
    // N -> R, cumulative by order day (the min-join recursion with
    // joined step sides)
    def funnel() = {
      def sp(step: String) = joined.filter(col("l_flag") === step)
        .select(col("l_supp"),
          (unix_timestamp(col("o_ts")).cast("double") / 86400)
            .cast("long").as("p"))
      val s1 = sp("N").groupBy(col("l_supp")).agg(min(col("p")).as("t1"))
      val chain = sp("R").as("e").join(s1.as("pv"),
          col("e.l_supp") === col("pv.l_supp") &&
            col("e.p") >= col("pv.t1"))
        .groupBy(col("e.l_supp")).agg(min(col("e.p")).as("t2"))
      val days = joined.select(
        (unix_timestamp(col("o_ts")).cast("double") / 86400)
          .cast("long").as("day")).distinct()
      days.join(chain, col("t2") <= col("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("l_supp")).as("converted"))
    }
    // the two per-id histogram families over the SAME join: new
    // suppliers per week (first-seen) and the fixed-window activity
    // histogram — sourceOf resolves both through the composite join
    // identity like the pair/chain matchers
    def firstSeen() = joined.select(col("l_supp"),
        floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("w"))
      .groupBy(col("l_supp")).agg(min(col("w")).as("fw"))
      .groupBy(col("fw")).agg(count(col("l_supp")).as("new_supps"))
    def engagement() = {
      val d = (unix_timestamp(col("o_ts")).cast("double") / 86400)
        .cast("long")
      joined.select(col("l_supp"), d.as("d"))
        .filter(col("d").between(19677L, 19690L))
        .groupBy(col("l_supp"))
        .agg(countDistinct(col("d")).as("n_active"))
        .groupBy(col("n_active"))
        .agg(count(col("l_supp")).as("suppliers"))
    }
    // growth accounting's fourth cell over the SAME join — the
    // three-join resurrected plan, its pair sides resolving through
    // the composite join identity
    def resurrected() = {
      val up = pairs(7)
      up.as("c").join(up.as("prev"),
          col("c.l_supp") === col("prev.l_supp") &&
            col("prev.p") === col("c.p") - 1, "left_anti")
        .as("c2").join(up.as("w"),
          col("w.l_supp") === col("c2.l_supp") &&
            col("w.p") < col("c2.p"), "left_semi")
        .groupBy(col("p"))
        .agg(countDistinct(col("l_supp")).as("resurrected"))
    }
    // the LTV matrix over the SAME join: id and weight both from the
    // right side, the time column from the left — the weight maps
    // ride the composite join identity like every other family
    def cohortValue() = {
      def me = floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
        .cast("long").cast("double") / 7).cast("long")
      val g = joined.groupBy(col("l_supp"), me.as("p"))
        .agg(sum(col("l_amt").cast("decimal(18,2)")).as("w"))
      val f = joined.groupBy(col("l_supp")).agg(min(me).as("cohort"))
      g.join(f, "l_supp")
        .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
        .agg(count(lit(1)).as("active"), sum(col("w")).as("value"))
    }
    // r16: the newest routed families in their JOIN forms — the
    // leaderboard, the bridge's revenue/new terms, and the lag
    // histogram all dispatch through the same composite join identity
    def jBoard() = {
      import org.apache.spark.sql.expressions.Window
      val me = floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
        .cast("long").cast("double") / 7).cast("long")
      val g = joined.filter(col("l_supp").isNotNull)
        .groupBy(col("l_supp"), me.as("p"))
        .agg(sum(col("l_amt").cast("decimal(18,2)")).as("w"))
      val win = Window.partitionBy(col("p"))
        .orderBy(col("w").desc, col("l_supp").asc)
      g.withColumn("rnk", row_number().over(win)).filter(col("rnk") <= 3)
        .select(col("p").as("period"), col("rnk").as("rank"),
          col("l_supp").as("id"), col("w").cast("double").as("value"))
    }
    def jBridge(newTerm: Boolean) = {
      val me = floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
        .cast("long").cast("double") / 7).cast("long")
      val base = joined.filter(col("l_supp").isNotNull)
      val g = base.groupBy(col("l_supp"), me.as("p"))
        .agg(sum(col("l_amt").cast("decimal(18,2)")).as("w"))
      if (!newTerm) g.groupBy(col("p")).agg(sum(col("w")).as("revenue"))
      else {
        val f = base.groupBy(col("l_supp")).agg(min(me).as("fp"))
        g.as("g").join(f.as("f"),
            col("g.l_supp") === col("f.l_supp") &&
              col("g.p") === col("f.fp"))
          .groupBy(col("g.p")).agg(sum(col("g.w")).as("new_value"))
      }
    }
    val routedQs = Seq(retained(), churned(), cumulative(), funnel(),
      firstSeen(), engagement(), resurrected(), cohortValue(),
      jBoard(), jBridge(newTerm = false), jBridge(newTerm = true))
    routedQs.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.contains(".jmv/")),
        s"join cohort route $i did not fire: ${scansOf(q)}")
    }
    val servedRows = routedQs.map(sortedRows)
    // a DIFFERENT join (wrong key) must keep reading the sources
    val other = spark.read.parquet(lDir)
      .join(spark.read.parquet(rDir), col("o_key") === col("l_supp"))
      .select(col("l_key").as("l_supp"),
        floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val otherQ = other.as("cur").join(other.as("prev"),
        col("cur.l_supp") === col("prev.l_supp") &&
          col("prev.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(countDistinct(col("cur.l_supp")).as("retained"))
    assert(scansOf(otherQ).forall(!_.contains(".jmv/")),
      s"a different join must not route: ${scansOf(otherQ)}")
    CubeCatalog.clear()
    Seq(retained(), churned(), cumulative(), funnel(), firstSeen(),
      engagement(), resurrected(), cohortValue(), jBoard(),
      jBridge(newTerm = false), jBridge(newTerm = true))
      .zip(servedRows)
      .zipWithIndex.foreach { case ((q, s), i) =>
        assert(sortedRows(q) == s,
          s"join-routed cohort result must EQUAL the raw recompute " +
            s"(form $i)")
      }
  }

  test("CHAIN-sourced cohort plans (retention/churn/rolling) route to the chain MV") {
    import testImplicits._
    CubeCatalog.clear()
    val rnd = new scala.util.Random(91)
    val ords = (0 until 60).map(i => (i.toLong, rnd.nextInt(12).toLong,
      new Timestamp(1700000000000L + rnd.nextInt(21) * 86400000L)))
    val lins = (0 until 400).map(_ =>
      (rnd.nextInt(66).toLong, rnd.nextInt(25).toLong,
        math.round(rnd.nextDouble() * 1000) / 100.0))
    val cuss = (0 until 12).map(i =>
      (i.toLong, Seq("A", "B", "C")(rnd.nextInt(3))))
    val oDir = Files.createTempDirectory("graft_chcoh_o").toString
    val lDir = Files.createTempDirectory("graft_chcoh_l").toString
    val cDir = Files.createTempDirectory("graft_chcoh_c").toString
    ords.toDF("o_key", "o_cust", "o_ts").write.mode("overwrite")
      .parquet(oDir)
    lins.toDF("l_key", "l_supp", "l_amt").write.mode("overwrite")
      .parquet(lDir)
    cuss.toDF("c_key", "c_seg").write.mode("overwrite").parquet(cDir)
    val ccfg = ChainCubeConfig(
      CubeConfig("chcoh", "o_l_c",
        dims = Seq(FieldDim("seg", "c_seg"),
          TimeDim("day", "o_ts", "day")),
        measures = Nil,
        bitmaps = Seq(Measure("sup", "l_supp"))),
      edges = Seq(("o_key", "l_key"), ("o_cust", "c_key")))
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_chcoh_svc").toString)
    svc.createChainCube(ccfg,
      Seq(spark.read.parquet(oDir), spark.read.parquet(lDir),
        spark.read.parquet(cDir)))
    CubeCatalog.registerChain("chcoh", svc.loadChainCube("chcoh"),
      Seq(oDir, lDir, cDir))
    // raw cohort plans over the THREE-way join: the pair sides resolve
    // through the order-canonical chain key (cohortSourceOf) and serve
    // from the chain cube's per-day supplier bitmaps
    def joined = spark.read.parquet(oDir)
      .join(spark.read.parquet(lDir), col("o_key") === col("l_key"))
      .join(spark.read.parquet(cDir), col("o_cust") === col("c_key"))
    def pairs() = joined.select(col("l_supp"),
        floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    def retained() = {
      val up = pairs()
      up.as("cur").join(up.as("prev"),
          col("cur.l_supp") === col("prev.l_supp") &&
            col("prev.p") === col("cur.p") - 1)
        .groupBy(col("cur.p"))
        .agg(countDistinct(col("cur.l_supp")).as("retained"))
    }
    def churned() = {
      val up = pairs()
      up.as("cur").join(up.as("nxt"),
          col("cur.l_supp") === col("nxt.l_supp") &&
            col("nxt.p") === col("cur.p") + 1, "left_anti")
        .groupBy(col("p"))
        .agg(countDistinct(col("l_supp")).as("churned"))
    }
    def rolling() = graft.functions.Rolling.endpoints(
        joined.select(col("l_supp"),
          (unix_timestamp(col("o_ts")).cast("double") / 86400)
            .cast("long").as("d")).distinct())
      .agg(countDistinct(col("l_supp")).as("nu"))
    val routedQs = Seq(retained(), churned(), rolling())
    routedQs.zipWithIndex.foreach { case (q, i) =>
      assert(scansOf(q).forall(_.contains(".cmv/")),
        s"chain cohort route $i did not fire: ${scansOf(q)}")
    }
    val servedRows = routedQs.map(sortedRows)
    // a DIFFERENT chain (same relations, different edge — customers
    // keyed by supplier) must keep reading the sources
    val other = spark.read.parquet(oDir)
      .join(spark.read.parquet(lDir), col("o_key") === col("l_key"))
      .join(spark.read.parquet(cDir), col("l_supp") === col("c_key"))
      .select(col("l_supp"),
        floor((unix_timestamp(col("o_ts")).cast("double") / 86400)
          .cast("long").cast("double") / 7).cast("long").as("p"))
      .distinct()
    val otherQ = other.as("cur").join(other.as("prev"),
        col("cur.l_supp") === col("prev.l_supp") &&
          col("prev.p") === col("cur.p") - 1)
      .groupBy(col("cur.p"))
      .agg(countDistinct(col("cur.l_supp")).as("retained"))
    assert(scansOf(otherQ).forall(!_.contains(".cmv/")),
      s"a different chain must not route: ${scansOf(otherQ)}")
    CubeCatalog.clear()
    Seq(retained(), churned(), rolling()).zip(servedRows)
      .zipWithIndex.foreach { case ((q, s), i) =>
        assert(scansOf(q).forall(!_.contains(".cmv/")),
          s"cleared catalog must not route (form $i)")
        assert(sortedRows(q) == s,
          s"chain-routed cohort result must EQUAL the raw recompute " +
            s"(form $i)")
      }
  }

  test("estimator-changing rolling leaves route only with the opt-in") {
    // count(DISTINCT double) → HLL and percentile_approx → KLL both
    // change the answer: without the registration opt-in they must
    // refuse (source scan), with it they serve from the cube
    def q(srcDir: String) = graft.functions.Rolling.endpoints(
        spark.read.parquet(srcDir).select(col("uid_s"), col("value"), dayCol))
      .agg(countDistinct(col("uid_s")).as("nv"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"))
    val plain = rollingSetup()
    // the endpoints spine may route (r16 periods matcher) — the
    // refusal check is "the approx aggregate still reads the source"
    assert(scansOf(q(plain)).contains(CubeCatalog.normalize(plain)),
      "approx rolling families must refuse without the opt-in")
    val opted = rollingSetup(approx = true)
    assert(scansOf(q(opted)).forall(_.endsWith("/rollrw")),
      s"opted-in approx rolling must route: ${scansOf(q(opted))}")
    CubeCatalog.clear()
  }
}

package graft.cube

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full R7 verb lifecycle: create → query → manual update (with
  * deletes) → auto-update from a delta directory → stop → delete. */
class CubeServiceSpec extends AnyFunSuite {
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

  private val cfg = CubeConfig("svc", "events",
    Seq(FieldDim("etype", "event_type")),
    Seq(Measure("v", "value")))

  private def df(rows: Seq[(String, Timestamp, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_type", "ts", "value")
  }
  private val t0 = new Timestamp(1700000000000L)

  test("createCube accepts the JSON wire shape") {
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_json").toString)
    val json = """{"name":"wire","source":"events",
      "dims":[{"kind":"field","id":"etype","path":"event_type"}],
      "measures":[{"id":"v","path":"value"}]}"""
    svc.createCube(json, df(Seq(("click", t0, 3.0), ("click", t0, 4.0))))
    assert(svc.listCubes().contains("wire"))
    val agg = svc.getAggregates("wire", Seq("etype"), sumOf = Seq("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(agg == Map("click" -> 7.0))
  }

  test("a blocked snapshot root is reported and serves read the head") {
    val store = Files.createTempDirectory("graft_svc_snapblock").toString
    // a plain FILE where the serve snapshots' root directory must go
    Files.writeString(java.nio.file.Paths.get(store, "blk.snap"), "")
    val svc = new CubeService(spark, store)
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    def totals(): Map[String, (Double, Long)] =
      svc.getAggregates("blk", Seq("etype"), sumOf = Seq("v"))
        .collect().map(r => (r.getString(0),
          (r.getDouble(1), r.getLong(2)))).toMap
    try {
      svc.createCube(cfg.copy(name = "blk"),
        df(Seq(("click", t0, 1.0), ("view", t0, 2.0))))
      assert(totals() == Map("click" -> (1.0, 1L), "view" -> (2.0, 1L)))
      svc.updateAggregates("blk",
        df(Seq(("click", t0, 4.0))).withColumn("_sign", lit(1)))
      assert(totals() == Map("click" -> (5.0, 2L), "view" -> (2.0, 1L)))
    } finally System.setErr(saved)
    val reports = err.toString("UTF-8").linesIterator
      .filter(_.startsWith(s"[cube] snapshot of $store/blk failed: "))
      .toSeq
    // one per publish-stable load: the create and the fold
    assert(reports.size == 2, err.toString("UTF-8"))
  }

  test("verb-for-verb lifecycle") {
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc").toString)

    // createCube + listCubes
    svc.createCube(cfg, df(Seq(("click", t0, 1.0), ("view", t0, 2.0))))
    assert(svc.listCubes() == Seq("svc"))

    // getAggregates (R6)
    def totals(): Map[String, (Double, Long)] =
      svc.getAggregates("svc", Seq("etype"), sumOf = Seq("v"))
        .collect().map(r => (r.getString(0),
          (r.getDouble(1), r.getLong(2)))).toMap
    assert(totals() == Map("click" -> (1.0, 1L), "view" -> (2.0, 1L)))

    // updateAggregates: insert + delete in one manual batch (R3)
    val deltas = df(Seq(("click", t0, 4.0))).withColumn("_sign", lit(1))
      .unionByName(df(Seq(("view", t0, 2.0))).withColumn("_sign", lit(-1)))
    svc.updateAggregates("svc", deltas)
    assert(totals() == Map("click" -> (5.0, 2L)))

    // startAutoUpdate from a delta dir (R2): every micro-batch publishes
    // durably, so the SERVICE verbs see the streamed rows immediately —
    // the prior manual state (click 5.0×2) plus the streamed batch
    val deltaDir = Files.createTempDirectory("graft_svc_deltas").toString
    df(Seq(("buy", t0, 7.0))).coalesce(1).write.parquet(s"$deltaDir/d0")
    val q = svc.startAutoUpdate("svc", s"$deltaDir/d*",
      df(Seq(("x", t0, 0.0))).schema)
    q.processAllAvailable()
    assert(totals() == Map("click" -> (5.0, 2L), "buy" -> (7.0, 1L)))
    svc.stopAutoUpdate("svc")
    assert(!q.isActive)

    // deleteCube
    svc.deleteCube("svc")
    assert(svc.listCubes().isEmpty)
  }

  test("sketch + quantile measures flow through the service verbs end to end") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_sk").toString)
    // the JSON wire shape carries both sketch lists
    val json = """{"name":"skq","source":"events",
      "dims":[{"kind":"field","id":"etype","path":"event_type"}],
      "sketches":[{"id":"users","path":"user_id"}],
      "quantiles":[{"id":"dist","path":"value"}],
      "measures":[{"id":"v","path":"value"}]}"""
    // 99 distinct values per type: the KLL partial stays sub-capacity
    // (k=200), so the persisted quantile read is exact + deterministic
    val rows = (1 to 99).flatMap(i =>
      Seq(("click", i.toLong % 7, i.toDouble), ("view", i.toLong % 5, i.toDouble)))
    svc.createCube(json, rows.toDF("event_type", "user_id", "value"))
    def read() = svc.getAggregates("skq", Seq("etype"), sumOf = Seq("v"),
        distinctOf = Seq("users"), quantilesOf = Seq(("dist", 0.5)))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_distinct_users"), r.getAs[Double]("p50_dist"))).toMap
    assert(read() == Map("click" -> (7L, 50.0), "view" -> (5L, 50.0)))
    // a manual insert fold extends both sketches through the persisted
    // two-rename publish path
    val deltas = (100 to 199).map(i => ("click", 7L + i % 3, i.toDouble, 1))
      .toDF("event_type", "user_id", "value", "_sign")
    svc.updateAggregates("skq", deltas)
    val (users, p50) = read()("click")
    assert(users == 10L, s"folded distinct estimate $users")
    // 199 distinct values, still sub-capacity: exact median = 100
    assert(p50 == 100.0, s"folded median $p50")
    svc.deleteCube("skq")
  }

  test("getRolling serves the trailing-window curve from daily partials") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_roll").toString)
    val rnd = new scala.util.Random(47)
    // 10 days × events; a second dimension (etype) subdivides each day,
    // so the verb's per-day pre-collapse is exercised too
    val rows = (0 until 800).map { _ =>
      (Seq("click", "view")(rnd.nextInt(2)),
        new Timestamp(1700000000000L + rnd.nextInt(10) * 86400000L
          + rnd.nextInt(86400000)),
        rnd.nextInt(1000).toDouble, rnd.nextInt(70).toLong)
    }
    val cfg = CubeConfig("roll", "events",
      Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
      Seq(Measure("v", "value")),
      sketches = Seq(Measure("users", "user_id")),
      quantiles = Seq(Measure("dist", "value")),
      extremes = Seq(Measure("vx", "value")))
    svc.createCube(cfg, rows.toDF("event_type", "ts", "value", "user_id"))
    val out = svc.getRolling("roll", "day", windowDays = 7,
        distinctOf = Seq("users"), quantilesOf = Seq(("dist", 0.5)),
        minOf = Seq("vx"), maxOf = Seq("vx"))
      .collect()
    val byDay = rows.groupBy(r => r._2.getTime / 86400000L)
    assert(out.length == byDay.size, "one endpoint per observed day")
    val eps = 3 * graft.functions.Kll.rankError() + 0.01
    out.foreach { r =>
      val day = r.getAs[Long]("day")
      val window = (day - 6 to day).flatMap(d =>
        byDay.getOrElse(d, Nil))
      val exactUsers = window.map(_._4).distinct.size
      val est = r.getAs[Long]("n_distinct_users")
      assert(math.abs(est - exactUsers) <= math.max(exactUsers * 0.05, 2.0),
        s"day $day: distinct $est vs exact $exactUsers")
      val vs = window.map(_._3).sorted
      val p50 = r.getAs[Double]("p50_dist")
      val rank = vs.count(_ <= p50).toDouble / vs.length
      // + 1/n: on a tiny window (the first endpoints) rank is discrete —
      // an EXACT median of 5 values sits at rank 0.6
      assert(math.abs(rank - 0.5) <= eps + 1.0 / vs.length,
        s"day $day: p50 rank $rank off (window ${vs.length})")
      // rolling min/max from daily extreme partials are EXACT
      assert(r.getAs[Double]("min_vx") == vs.head &&
        r.getAs[Double]("max_vx") == vs.last,
        s"day $day: rolling extremes diverged from exact window")
    }
    // rolling SUM/AVG are exact from the same daily partials
    val sums = svc.getRolling("roll", "day", windowDays = 7,
        sumOf = Seq("v"), avgOf = Seq("v")).collect()
    sums.foreach { r =>
      val day = r.getAs[Long]("day")
      val window = (day - 6 to day).flatMap(d => byDay.getOrElse(d, Nil))
      val exactSum = window.map(x => BigDecimal(x._3)).sum.toDouble
      assert(r.getAs[Double]("sum_v") == exactSum,
        s"day $day: rolling sum diverged")
      assert(r.getAs[Double]("avg_v") == exactSum / window.size,
        s"day $day: rolling avg diverged")
    }
    // the deletes latch spares sums/avgs but refuses sketches/extremes:
    // fold a delete (no post-delta source → latch trips), then the sum
    // curve updates exactly while the sketch serve refuses
    svc.updateAggregates("roll",
      rows.take(5).toDF("event_type", "ts", "value", "user_id")
        .withColumn("_sign", lit(-1)))
    val afterDel = svc.getRolling("roll", "day", windowDays = 7,
        sumOf = Seq("v")).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Double]("sum_v")).toMap
    val kept = rows.drop(5)
    val byDayKept = kept.groupBy(r => r._2.getTime / 86400000L)
    afterDel.foreach { case (day, s) =>
      val exact = (day - 6 to day).flatMap(d => byDayKept.getOrElse(d, Nil))
        .map(x => BigDecimal(x._3)).sum.toDouble
      assert(s == exact, s"day $day: post-delete rolling sum diverged")
    }
    val latched = intercept[IllegalArgumentException] {
      svc.getRolling("roll", "day", minOf = Seq("vx"))
    }
    assert(latched.getMessage.contains("insert-only"))
    // guardrails: wrong dim granularity / unknown measure fail fast
    intercept[IllegalArgumentException] {
      svc.getRolling("roll", "etype", distinctOf = Seq("users"))
    }
    intercept[IllegalArgumentException] {
      svc.getRolling("roll", "day", distinctOf = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      svc.getRolling("roll", "day", minOf = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      svc.getRolling("roll", "day", sumOf = Seq("nope"))
    }
    svc.deleteCube("roll")
  }

  test("getRetention + intersectOf: exact set algebra from daily bitmap partials") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_ret").toString)
    val rnd = new scala.util.Random(53)
    // 12 calendar days with day 5 MISSING — the contiguity gate must
    // read the gap as "previous period unobserved", never as retention
    // against day 4
    val days = (0 until 12).filter(_ != 5)
    val rows = (0 until 900).map { _ =>
      val d = days(rnd.nextInt(days.length))
      (Seq("click", "view")(rnd.nextInt(2)),
        new Timestamp(1700006400000L + d * 86400000L + rnd.nextInt(80000000)),
        rnd.nextInt(100).toDouble, rnd.nextInt(40).toLong)
    }
    val cfg = CubeConfig("ret", "events",
      Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
      Seq(Measure("v", "value")),
      bitmaps = Seq(Measure("users", "user_id")))
    svc.createCube(cfg, rows.toDF("event_type", "ts", "value", "user_id"))
    // calendar day of ts — the base is an exact UTC midnight and every
    // offset stays inside the day, so integer division IS the serve's
    // datediff-derived index
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    val usersByDay: Map[Long, Set[Long]] =
      rows.groupBy(r => dayOf(r._2)).map { case (d, rs) =>
        d -> rs.map(_._4).toSet }

    // --- rolling intersect: ids on EVERY observed day of the window
    val st = svc.getRolling("ret", "day", windowDays = 7,
      intersectOf = Seq("users")).collect()
    assert(st.length == usersByDay.size, "one endpoint per observed day")
    st.foreach { r =>
      val day = r.getAs[Long]("day")
      val winDays = (day - 6 to day).filter(usersByDay.contains)
      val exact = winDays.map(usersByDay).reduce(_ intersect _).size.toLong
      assert(r.getAs[Long]("n_everyday_users") == exact,
        s"day $day: stickiness diverged")
    }

    // --- retention matrix at periodDays = 1
    val ret = svc.getRetention("ret", "day", "users", periodDays = 1)
      .collect()
    assert(ret.length == usersByDay.size)
    ret.foreach { r =>
      val p = r.getAs[Long]("period")
      val cur = usersByDay(p)
      assert(r.getAs[Long]("active") == cur.size)
      usersByDay.get(p - 1) match {
        case Some(prev) =>
          assert(r.getAs[Long]("prev_active") == prev.size)
          assert(r.getAs[Long]("retained") == (cur intersect prev).size)
          assert(r.getAs[Long]("churned") == (prev diff cur).size)
          assert(r.getAs[Long]("new_ids") == (cur diff prev).size)
        case None => // first day and the day after the gap
          Seq("prev_active", "retained", "churned", "new_ids").foreach(c =>
            assert(r.isNullAt(r.fieldIndex(c)),
              s"period $p: $c must be null when p-1 is unobserved"))
      }
    }
    // exactly two null rows: day 0 (no prior) and day 6 (gap at 5)
    assert(ret.count(_.isNullAt(ret.head.fieldIndex("retained"))) == 2)

    // --- segmented retention: per-etype sets, per-segment contiguity
    val seg = svc.getRetention("ret", "day", "users", periodDays = 1,
      segmentBy = Seq("etype")).collect()
    val byTypeDay = rows.groupBy(r => (r._1, dayOf(r._2)))
      .map { case (k, rs) => k -> rs.map(_._4).toSet }
    seg.foreach { r =>
      val et = r.getAs[String]("etype")
      val p = r.getAs[Long]("period")
      assert(r.getAs[Long]("active") == byTypeDay((et, p)).size)
      byTypeDay.get((et, p - 1)).foreach { prev =>
        assert(r.getAs[Long]("retained") ==
          (byTypeDay((et, p)) intersect prev).size)
      }
    }

    // --- guardrails: unknown/non-bitmap measure, bad period, non-day dim
    intercept[IllegalArgumentException] {
      svc.getRetention("ret", "day", "v") }
    intercept[IllegalArgumentException] {
      svc.getRetention("ret", "day", "users", periodDays = 0) }
    intercept[IllegalArgumentException] {
      svc.getRetention("ret", "etype", "users") }
    intercept[IllegalArgumentException] {
      svc.getRolling("ret", "day", intersectOf = Seq("v")) }

    // --- deletes latch: a sourceless delete fold refuses both verbs
    svc.updateAggregates("ret",
      rows.take(3).toDF("event_type", "ts", "value", "user_id")
        .withColumn("_sign", lit(-1)))
    val e1 = intercept[IllegalArgumentException] {
      svc.getRetention("ret", "day", "users", periodDays = 1) }
    assert(e1.getMessage.contains("insert-only"))
    val e2 = intercept[IllegalArgumentException] {
      svc.getRolling("ret", "day", intersectOf = Seq("users")) }
    assert(e2.getMessage.contains("insert-only"))
    svc.deleteCube("ret")
  }

  test("getRetentionCalendar: year-wrap adjacency, gap gating, sharded twin") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_calret").toString)
    val rnd = new scala.util.Random(71)
    // months 2023-11, 2023-12, 2024-01, (2024-02 MISSING), 2024-03 —
    // Dec → Jan must pair (year wrap IS integer adjacency), Mar must
    // gate to nulls (Feb unobserved)
    val monthStarts =
      Seq("2023-11-03", "2023-12-05", "2024-01-02", "2024-03-07")
    val rows = (0 until 800).map { _ =>
      val base = monthStarts(rnd.nextInt(monthStarts.length))
      val d = java.time.LocalDate.parse(base).plusDays(rnd.nextInt(20))
      (java.sql.Timestamp.from(
        d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
        rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("ts", "user_id")
    val cfg = CubeConfig("calret", "events",
      Seq(TimeDim("day", "ts", "day")), Nil,
      bitmaps = Seq(Measure("users", "user_id")))
    svc.createCube(cfg, df)
    def mIdx(t: java.sql.Timestamp): Long = {
      val ld = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      ld.getYear.toLong * 12 + ld.getMonthValue - 1
    }
    val byMonth: Map[Long, Set[Long]] =
      rows.groupBy(r => mIdx(r._1)).map { case (m, rs) =>
        m -> rs.map(_._2).toSet }
    val got = svc.getRetentionCalendar("calret", "day", "users").collect()
    assert(got.length == byMonth.size, "one row per observed month")
    got.foreach { r =>
      val p = r.getAs[Long]("period")
      val cur = byMonth(p)
      assert(r.getAs[Long]("active") == cur.size)
      assert(r.getAs[String]("period_start") ==
        f"${p / 12}%04d-${p % 12 + 1}%02d-01")
      byMonth.get(p - 1) match {
        case Some(prev) =>
          assert(r.getAs[Long]("retained") == (cur intersect prev).size,
            s"month $p retained (Dec->Jan wrap must pair)")
          assert(r.getAs[Long]("churned") == (prev diff cur).size)
          assert(r.getAs[Long]("new_ids") == (cur diff prev).size)
        case None =>
          assert(r.isNullAt(r.fieldIndex("retained")) &&
            r.isNullAt(r.fieldIndex("prev_active")),
            s"month $p must gate to nulls (previous unobserved)")
      }
    }
    // YEAR granularity rolls the same sets one level coarser
    val byYear: Map[Long, Set[Long]] = rows.groupBy { r =>
      r._1.toInstant.atZone(java.time.ZoneOffset.UTC)
        .toLocalDate.getYear.toLong
    }.map { case (y, rs) => y -> rs.map(_._2).toSet }
    val gy = svc.getRetentionCalendar("calret", "day", "users", "year")
      .collect()
    assert(gy.length == 2)
    val y24 = gy.find(_.getAs[Long]("period") == 2024L).get
    assert(y24.getAs[Long]("retained") ==
      (byYear(2024L) intersect byYear(2023L)).size)
    assert(y24.getAs[String]("period_start") == "2024-01-01")
    // SHARDED twin: bit-identical matrix
    svc.createCube(cfg.copy(name = "calret_sh", bitmapShardBits = 3), df)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rowsOf(svc.getRetentionCalendar("calret_sh", "day", "users")) ==
      rowsOf(svc.getRetentionCalendar("calret", "day", "users")),
      "sharded calendar matrix must equal the unsharded walk")
    // refusal: unknown granularity
    val e = intercept[IllegalArgumentException] {
      svc.getRetentionCalendar("calret", "day", "users", "week") }
    assert(e.getMessage.contains("month/quarter/year"))
    svc.deleteCube("calret"); svc.deleteCube("calret_sh")
  }

  test("getCumulative: lifetime prefix-OR curve, calendar reset, sharded twin") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_cum").toString)
    val rnd = new scala.util.Random(71)
    // 26 calendar days from 2023-11-15 crossing Dec 1, day 5 missing —
    // the reset test needs a real month boundary, the increment test a
    // gap (new = cum[d] − cum[prev OBSERVED d], not d−1)
    val days = (0 until 26).filter(_ != 5)
    val base = 1700006400000L // 2023-11-15 00:00 UTC
    val rows = (0 until 1200).map { _ =>
      val d = days(rnd.nextInt(days.length))
      (Seq("click", "view")(rnd.nextInt(2)),
        new Timestamp(base + d * 86400000L + rnd.nextInt(80000000)),
        rnd.nextInt(100).toDouble, rnd.nextInt(60).toLong)
    }
    val mk = (n: String, shardBits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("users", "user_id")),
        bitmapShardBits = shardBits),
      rows.toDF("event_type", "ts", "value", "user_id"))
    mk("cum", 0)
    mk("cum_sh", 3)
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    val usersByDay = rows.groupBy(r => dayOf(r._2))
      .map { case (d, rs) => d -> rs.map(_._4).toSet }
    val sumByDay = rows.groupBy(r => dayOf(r._2))
      .map { case (d, rs) =>
        d -> rs.map(r => BigDecimal(r._3).setScale(2)).sum }
    val obsDays = usersByDay.keys.toSeq.sorted

    // --- global lifetime curve: cum / new / running sum, all exact
    val cum = svc.getCumulative("cum", "day",
      sumOf = Seq("v"), exactDistinctOf = Seq("users")).collect()
    assert(cum.length == obsDays.length, "one row per observed day")
    var seen = Set.empty[Long]
    var runSum = BigDecimal(0)
    obsDays.zip(cum).foreach { case (d, r) =>
      assert(r.getAs[Long]("day") == d)
      val before = seen.size
      seen = seen ++ usersByDay(d)
      runSum += sumByDay(d)
      assert(r.getAs[Long]("cum_exact_users") == seen.size,
        s"day $d lifetime uniques diverged")
      assert(r.getAs[Long]("new_exact_users") == seen.size - before,
        s"day $d first-seen increment diverged")
      assert(math.abs(r.getAs[Double]("cum_sum_v") - runSum.toDouble)
        < 1e-6, s"day $d running sum diverged")
    }

    // --- month reset: every curve restarts at Dec 1
    val ytd = svc.getCumulative("cum", "day",
      sumOf = Seq("v"), exactDistinctOf = Seq("users"),
      resetBy = Some("month")).collect()
    var bucketOf = -1L
    var mSeen = Set.empty[Long]
    var mSum = BigDecimal(0)
    obsDays.zip(ytd).foreach { case (d, r) =>
      val b = java.time.LocalDate.ofEpochDay(d).withDayOfMonth(1)
        .toEpochDay
      if (b != bucketOf) { bucketOf = b; mSeen = Set.empty; mSum = 0 }
      val before = mSeen.size
      mSeen = mSeen ++ usersByDay(d)
      mSum += sumByDay(d)
      assert(r.getAs[Long]("cum_exact_users") == mSeen.size,
        s"day $d MTD uniques diverged")
      assert(r.getAs[Long]("new_exact_users") == mSeen.size - before)
      assert(math.abs(r.getAs[Double]("cum_sum_v") - mSum.toDouble) < 1e-6)
    }
    // the reset actually bit: December day 1 restarts at its own count
    val dec1 = obsDays.find(d =>
      java.time.LocalDate.ofEpochDay(d).getDayOfMonth == 1).get
    val dec1Row = ytd(obsDays.indexOf(dec1))
    assert(dec1Row.getAs[Long]("cum_exact_users") == usersByDay(dec1).size)

    // --- sharded twin: bit-identical on every form
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(dump(svc.getCumulative("cum_sh", "day", sumOf = Seq("v"),
        exactDistinctOf = Seq("users"))) ==
      dump(svc.getCumulative("cum", "day", sumOf = Seq("v"),
        exactDistinctOf = Seq("users"))),
      "sharded lifetime curve must equal the unsharded one")
    assert(dump(svc.getCumulative("cum_sh", "day",
        exactDistinctOf = Seq("users"), resetBy = Some("month"))) ==
      dump(svc.getCumulative("cum", "day",
        exactDistinctOf = Seq("users"), resetBy = Some("month"))),
      "sharded reset curve must equal the unsharded one")

    // --- segmented: per-etype prefix over the segment's own days
    val seg = svc.getCumulative("cum", "day",
      exactDistinctOf = Seq("users"), segmentBy = Seq("etype")).collect()
    val byTypeDay = rows.groupBy(r => (r._1, dayOf(r._2)))
      .map { case (k, rs) => k -> rs.map(_._4).toSet }
    Seq("click", "view").foreach { et =>
      var s = Set.empty[Long]
      seg.filter(_.getAs[String]("etype") == et).foreach { r =>
        s = s ++ byTypeDay((et, r.getAs[Long]("day")))
        assert(r.getAs[Long]("cum_exact_users") == s.size)
      }
    }

    // --- guardrails
    intercept[IllegalArgumentException] {
      svc.getCumulative("cum", "day") } // no measures
    intercept[IllegalArgumentException] {
      svc.getCumulative("cum", "day", exactDistinctOf = Seq("v")) }
    intercept[IllegalArgumentException] {
      svc.getCumulative("cum", "day", sumOf = Seq("users")) }
    intercept[IllegalArgumentException] {
      svc.getCumulative("cum", "day", sumOf = Seq("v"),
        resetBy = Some("week")) }
    intercept[IllegalArgumentException] {
      svc.getCumulative("cum", "etype", sumOf = Seq("v")) }

    // --- deletes: bitmaps refuse, cumulative SUMS still serve exactly
    svc.updateAggregates("cum",
      rows.take(5).toDF("event_type", "ts", "value", "user_id")
        .withColumn("_sign", lit(-1)))
    val e = intercept[IllegalArgumentException] {
      svc.getCumulative("cum", "day", exactDistinctOf = Seq("users")) }
    assert(e.getMessage.contains("insert-only"))
    val afterDel = svc.getCumulative("cum", "day", sumOf = Seq("v"))
      .collect()
    val delAdj = rows.take(5).groupBy(r => dayOf(r._2))
      .map { case (d, rs) =>
        d -> rs.map(r => BigDecimal(r._3).setScale(2)).sum }
    var net = BigDecimal(0)
    obsDays.zip(afterDel).foreach { case (d, r) =>
      net += sumByDay(d) - delAdj.getOrElse(d, BigDecimal(0))
      assert(math.abs(r.getAs[Double]("cum_sum_v") - net.toDouble) < 1e-6,
        s"day $d net cumulative sum diverged after the delete fold")
    }
    svc.deleteCube("cum"); svc.deleteCube("cum_sh")
  }

  test("getFunnel: ordered cascade, same-period completion, sharded twin") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_fun").toString)
    val base = 1700006400000L
    def ts(d: Long) = new Timestamp(base + d * 86400000L + 3600000L)
    // hand-written semantic edges first:
    //  u1: A@0 B@0 C@1  — same-period A→B counts, completes at 1
    //  u2: B@0 A@1 B@3  — B before A does NOT count; completes A→B at 3
    //  u3: A@0 C@1 B@2 C@2 — C@1 precedes B-conversion, same-period
    //                        B→C at 2 completes the funnel
    //  u4: A@2 only     — enters, never converts
    val handRows = Seq(
      (1L, 0L, "A"), (1L, 0L, "B"), (1L, 1L, "C"),
      (2L, 0L, "B"), (2L, 1L, "A"), (2L, 3L, "B"),
      (3L, 0L, "A"), (3L, 1L, "C"), (3L, 2L, "B"), (3L, 2L, "C"),
      (4L, 2L, "A"))
    // plus random bulk over 10 days (day 7 silent for step B)
    val rnd = new scala.util.Random(97)
    val bulkRows = (0 until 600).map { _ =>
      val u = 100L + rnd.nextInt(50)
      val d = rnd.nextInt(10).toLong
      val s = Seq("A", "B", "C")(rnd.nextInt(3))
      (u, d, if (s == "B" && d == 7L) "A" else s)
    }
    val all = handRows ++ bulkRows
    val df = all.map { case (u, d, s) => (s, ts(d), 1.0, u) }
      .toDF("event_type", "ts", "value", "user_id")
    val mk2 = (n: String, bits: Int, d: DataFrame) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("users", "user_id")),
        bitmapShardBits = bits), d)
    val mk = (n: String, bits: Int) => mk2(n, bits, df)
    mk("fun", 0)
    mk("fun_sh", 2)
    val steps = Seq("A", "B", "C")
    val day0 = base / 86400000L

    // Scala oracle: the min-conversion-time recursion
    val byStep = steps.map(s => all.filter(_._3 == s)
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet })
    val t = scala.collection.mutable.Buffer(
      byStep(0).map { case (u, ps) => u -> ps.min })
    (1 until steps.size).foreach { k =>
      t += byStep(k).flatMap { case (u, ps) =>
        t(k - 1).get(u).flatMap(lo =>
          ps.filter(_ >= lo).minOption.map(u -> _)) }.toMap
    }
    val periods = all.map(_._2).distinct.sorted

    val got = svc.getFunnel("fun", "day", "users", "etype", steps)
      .collect()
    assert(got.length == periods.length * steps.length)
    got.foreach { r =>
      val p = r.getAs[Long]("period") - day0
      val k = r.getAs[Int]("step_ord") - 1
      assert(r.getAs[String]("step") == steps(k))
      val exact = t(k).values.count(_ <= p).toLong
      assert(r.getAs[Long]("converted") == exact,
        s"period $p step ${steps(k)}: funnel count diverged")
    }
    // the hand-written edges really exercised the semantics
    assert(t(1).get(1L).contains(0L), "same-period A->B must count")
    assert(t(1).get(2L).contains(3L), "B before A must NOT count")
    assert(t(2).get(3L).contains(2L), "same-period B->C completion")
    assert(!t(1).contains(4L), "u4 never converts past A")

    // sharded twin bit-identical
    assert(
      svc.getFunnel("fun_sh", "day", "users", "etype", steps)
        .collect().map(_.toSeq).toSeq ==
      got.map(_.toSeq).toSeq,
      "sharded funnel must equal the unsharded cascade")

    // TIME-TO-CONVERT: the lag histogram against the same recursion —
    // each converted id counts once, at t_K − t_1 exactly
    val lagExact = t(steps.size - 1).toSeq
      .map { case (u, tk) => tk - t(0)(u) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ttc = svc.getTimeToConvert("fun", "day", "users", "etype",
        steps).collect()
      .map(r => r.getAs[Long]("lag_periods") ->
        r.getAs[Long]("converted")).toMap
    assert(ttc == lagExact,
      s"time-to-convert diverged: $ttc vs $lagExact")
    assert(ttc.values.sum == t(steps.size - 1).size.toLong,
      "every converted id must land in exactly one lag cell")
    assert(
      svc.getTimeToConvert("fun_sh", "day", "users", "etype", steps)
        .collect().map(_.toSeq).toSeq ==
      svc.getTimeToConvert("fun", "day", "users", "etype", steps)
        .collect().map(_.toSeq).toSeq,
      "sharded time-to-convert must equal the unsharded serve")
    // the |periods| × maxLag pair fan-out bound is enforced
    intercept[IllegalArgumentException] {
      svc.getTimeToConvert("fun", "day", "users", "etype", steps,
        maxLagPeriods = 1000) }

    // multi-day periods ride the same floor-division key as retention
    val weekly = svc.getFunnel("fun", "day", "users", "etype", steps,
      periodDays = 7).collect()
    assert(weekly.map(_.getAs[Long]("period")).distinct.length ==
      periods.map(p => (p + day0) / 7).distinct.length)

    // SEGMENTED funnel: add a segment dimension, run each segment's
    // cascade against its own Scala-oracle recursion
    val segRows = all.flatMap { case (u, d, s) =>
      Seq((s"g${u % 2}", u, d, s)) }
    val segDf = segRows.map { case (g, u, d, s) => (g, s, ts(d), 1.0, u) }
      .toDF("grp", "event_type", "ts", "value", "user_id")
    svc.createCube(
      CubeConfig("fun_seg", "events",
        Seq(FieldDim("grp", "grp"), FieldDim("etype", "event_type"),
          TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("users", "user_id"))), segDf)
    val segGot = svc.getFunnel("fun_seg", "day", "users", "etype",
      steps, segmentBy = Seq("grp")).collect()
    val segTtc = svc.getTimeToConvert("fun_seg", "day", "users",
      "etype", steps, segmentBy = Seq("grp")).collect()
    Seq("g0", "g1").foreach { g =>
      val ev = segRows.filter(_._1 == g).map(t => (t._2, t._3, t._4))
      val byS = steps.map(s => ev.filter(_._3 == s)
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet })
      val tg = scala.collection.mutable.Buffer(
        byS(0).map { case (u, ps) => u -> ps.min })
      (1 until steps.size).foreach { k =>
        tg += byS(k).flatMap { case (u, ps) =>
          tg(k - 1).get(u).flatMap(lo =>
            ps.filter(_ >= lo).minOption.map(u -> _)) }.toMap
      }
      segGot.filter(_.getAs[String]("grp") == g).foreach { r =>
        val p = r.getAs[Long]("period") - day0
        val k = r.getAs[Int]("step_ord") - 1
        assert(r.getAs[Long]("converted") ==
          tg(k).values.count(_ <= p).toLong,
          s"segment $g period $p step $k diverged")
      }
      // segmented time-to-convert: the per-segment lag histogram
      // against the same per-segment recursion
      val lagG = tg(steps.size - 1).toSeq
        .map { case (u, tk) => tk - tg(0)(u) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ttcG = segTtc.filter(_.getAs[String]("grp") == g)
        .map(r => r.getAs[Long]("lag_periods") ->
          r.getAs[Long]("converted")).toMap
      assert(ttcG == lagG,
        s"segment $g time-to-convert diverged: $ttcG vs $lagG")
    }
    // segment guardrails: reserved name, the step dim itself
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun_seg", "day", "users", "etype", steps,
        segmentBy = Seq("period")) }
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun_seg", "day", "users", "etype", steps,
        segmentBy = Seq("etype")) }
    svc.deleteCube("fun_seg")

    // CALENDAR lag unit: three months CROSSING a year boundary —
    // monthly time-to-convert counts month ordinals (Dec -> Jan = 1)
    val calRows = Seq(
      (10L, "2023-11-05", "A"), (10L, "2023-12-15", "B"), // lag 1
      (11L, "2023-12-20", "A"), (11L, "2024-01-03", "B"), // Dec->Jan 1
      (12L, "2023-11-02", "A"), (12L, "2023-11-20", "B"), // lag 0
      (13L, "2023-11-09", "A")) // never converts
      .map { case (u, d, st) =>
        (st, java.sql.Timestamp.valueOf(d + " 12:00:00"), 1.0, u) }
      .toDF("event_type", "ts", "value", "user_id")
    mk2("fun_cal", 0, calRows)
    val calTtc = svc.getTimeToConvert("fun_cal", "day", "users",
        "etype", Seq("A", "B"), calendar = Some("month")).collect()
      .map(r => r.getAs[Long]("lag_periods") ->
        r.getAs[Long]("converted")).toMap
    assert(calTtc == Map(0L -> 1L, 1L -> 2L),
      s"calendar time-to-convert diverged: $calTtc")
    intercept[IllegalArgumentException] {
      svc.getTimeToConvert("fun_cal", "day", "users", "etype",
        Seq("A", "B"), calendar = Some("fortnight")) }
    svc.deleteCube("fun_cal")

    // --- BOUNDED funnel (withinPeriods): windowFunnel semantics
    //  u21: A@0 B@2        — gap 2 ≤ within=2, converts
    //  u22: A@0 B@3        — gap 3 > 2, does NOT convert
    //  u23: A@0 A@5 B@6    — first A too old, REPEAT A re-qualifies
    //  u24: A@0 B@2 C@5    — A→B in window, B→C gap 3 > 2, stops at B
    val wRows = Seq(
      (21L, 0L, "A"), (21L, 2L, "B"),
      (22L, 0L, "A"), (22L, 3L, "B"),
      (23L, 0L, "A"), (23L, 5L, "A"), (23L, 6L, "B"),
      (24L, 0L, "A"), (24L, 2L, "B"), (24L, 5L, "C"))
    val wDf = wRows.map { case (u, d, s) => (s, ts(d), 1.0, u) }
      .toDF("event_type", "ts", "value", "user_id")
    mk2("funw", 0, wDf)
    mk2("funw_sh", 2, wDf)
    val wGot = svc.getFunnel("funw", "day", "users", "etype", steps,
      withinPeriods = 2).collect()
    def conv(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("period") - day0, r.getAs[Int]("step_ord"),
        r.getAs[Long]("converted"))
    val lastP = wRows.map(_._2).max
    val finalCounts = wGot.map(conv).collect {
      case (p, k, n) if p == lastP => k -> n }.toMap
    // step1 = all 4 entered; step2 = u21 (gap 2), u23 (re-qualified),
    // u24 — NOT u22; step3 = nobody (u24's B→C gap 3)
    assert(finalCounts == Map(1 -> 4L, 2 -> 3L, 3 -> 0L),
      s"windowed funnel final counts: $finalCounts")
    // a window wider than the horizon degenerates to the unbounded form
    assert(svc.getFunnel("funw", "day", "users", "etype", steps,
        withinPeriods = 1000).collect().map(_.toSeq).toSeq ==
      svc.getFunnel("funw", "day", "users", "etype", steps)
        .collect().map(_.toSeq).toSeq,
      "within >= horizon must equal the unbounded cascade")
    // sharded twin bit-identical on the bounded form too
    assert(svc.getFunnel("funw_sh", "day", "users", "etype", steps,
        withinPeriods = 2).collect().map(_.toSeq).toSeq ==
      wGot.map(_.toSeq).toSeq,
      "sharded windowed funnel must equal the unsharded cascade")
    svc.deleteCube("funw"); svc.deleteCube("funw_sh")

    // --- guardrails
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun", "day", "users", "etype", Seq("A")) }
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun", "day", "users", "etype", Seq("A", "A")) }
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun", "day", "v", "etype", steps) }
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun", "day", "users", "day", steps) }
    intercept[IllegalArgumentException] {
      svc.getFunnel("fun", "etype", "users", "etype", steps) }
    svc.updateAggregates("fun",
      df.limit(2).withColumn("_sign", lit(-1)))
    val e = intercept[IllegalArgumentException] {
      svc.getFunnel("fun", "day", "users", "etype", steps) }
    assert(e.getMessage.contains("insert-only"))
    svc.deleteCube("fun"); svc.deleteCube("fun_sh")
  }

  test("dictionary bitmaps serve cumulative and funnel over STRING keys") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_dictcum").toString)
    val rnd = new scala.util.Random(59)
    val rows = (0 until 700).map { i =>
      (Seq("view", "click", "purchase")(rnd.nextInt(3)),
        new Timestamp(1700006400000L + rnd.nextInt(12) * 86400000L +
          rnd.nextInt(80000000)),
        (i % 7).toDouble, s"user-${rnd.nextInt(45)}")
    }
    val df = rows.toDF("event_type", "ts", "value", "uid")
    val mk = (n: String, bits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        dictBitmaps = Seq(Measure("users", "uid")),
        bitmapShardBits = bits), df)
    mk("dictcum", 0)
    mk("dictcum_sh", 2)
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    // lifetime uniques over the STRING key == set-union recompute
    val cum = svc.getCumulative("dictcum", "day",
      exactDistinctOf = Seq("users")).collect()
    val byDay = rows.groupBy(r => dayOf(r._2))
      .map { case (d, rs) => d -> rs.map(_._4).toSet }
    var seen = Set.empty[String]
    byDay.keys.toSeq.sorted.zip(cum).foreach { case (d, r) =>
      seen = seen ++ byDay(d)
      assert(r.getAs[Long]("cum_exact_users") == seen.size,
        s"day $d: dict lifetime curve diverged")
    }
    // the funnel cascade over dict ids == the string-key recursion
    val steps = Seq("view", "click", "purchase")
    val byStep = steps.map(s => rows.filter(_._1 == s)
      .groupBy(_._4).map { case (u, rs) => u -> rs.map(x => dayOf(x._2)).toSet })
    val t = scala.collection.mutable.Buffer(
      byStep(0).map { case (u, ps) => u -> ps.min })
    (1 until steps.size).foreach { k =>
      t += byStep(k).flatMap { case (u, ps) =>
        t(k - 1).get(u).flatMap(lo =>
          ps.filter(_ >= lo).minOption.map(u -> _)) }.toMap
    }
    val fun = svc.getFunnel("dictcum", "day", "users", "etype", steps)
      .collect()
    fun.foreach { r =>
      val p = r.getAs[Long]("period")
      val k = r.getAs[Int]("step_ord") - 1
      assert(r.getAs[Long]("converted") == t(k).values.count(_ <= p),
        s"period $p step $k: dict funnel diverged")
    }
    // the sharded dict twin is bit-identical on both serves
    assert(svc.getCumulative("dictcum_sh", "day",
        exactDistinctOf = Seq("users")).collect().map(_.toSeq).toSeq ==
      cum.map(_.toSeq).toSeq)
    assert(svc.getFunnel("dictcum_sh", "day", "users", "etype", steps)
        .collect().map(_.toSeq).toSeq == fun.map(_.toSeq).toSeq)
    svc.deleteCube("dictcum"); svc.deleteCube("dictcum_sh")
  }

  test("getOverlapMatrix: exact pairwise set algebra; sharded twin") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_ovl").toString)
    val rnd = new scala.util.Random(67)
    val rows = (0 until 800).map { _ =>
      (Seq("A", "B", "C")(rnd.nextInt(3)),
        new Timestamp(1700006400000L + rnd.nextInt(8) * 86400000L),
        1.0, rnd.nextInt(70).toLong)
    }
    val df = rows.toDF("event_type", "ts", "value", "user_id")
    val mk = (n: String, bits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("users", "user_id")),
        bitmapShardBits = bits), df)
    mk("ovl", 0)
    mk("ovl_sh", 2)
    val setsOf = rows.groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(_._4).toSet }
    val got = svc.getOverlapMatrix("ovl", "etype", "users").collect()
    assert(got.length == 3, "3 unordered pairs of 3 values")
    got.foreach { r =>
      val (sa, sb) = (setsOf(r.getAs[String]("a")),
        setsOf(r.getAs[String]("b")))
      val ov = (sa intersect sb).size.toLong
      assert(r.getAs[Long]("n_a") == sa.size &&
        r.getAs[Long]("n_b") == sb.size &&
        r.getAs[Long]("overlap") == ov &&
        r.getAs[Long]("only_a") == sa.size - ov &&
        r.getAs[Long]("only_b") == sb.size - ov &&
        math.abs(r.getAs[Double]("jaccard") -
          ov.toDouble / (sa union sb).size) < 1e-12,
        s"pair ${r.getAs[String]("a")}/${r.getAs[String]("b")} diverged")
    }
    // sharded twin bit-identical; value restriction trims the grid
    assert(svc.getOverlapMatrix("ovl_sh", "etype", "users")
        .collect().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "sharded overlap matrix must equal the unsharded walk")
    assert(svc.getOverlapMatrix("ovl", "etype", "users",
      values = Seq("A", "B")).count() == 1)
    // refusals: non-dim, non-bitmap, delete latch
    intercept[IllegalArgumentException] {
      svc.getOverlapMatrix("ovl", "day", "users") }
    intercept[IllegalArgumentException] {
      svc.getOverlapMatrix("ovl", "etype", "v") }
    svc.updateAggregates("ovl",
      df.limit(2).withColumn("_sign", lit(-1)))
    val e = intercept[IllegalArgumentException] {
      svc.getOverlapMatrix("ovl", "etype", "users") }
    assert(e.getMessage.contains("insert-only"))
    svc.deleteCube("ovl"); svc.deleteCube("ovl_sh")
  }

  test("getCohortMatrix: the retention triangle; sharded + segmented twins") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_coh").toString)
    val rnd = new scala.util.Random(73)
    // sparse activity so cohorts are non-degenerate: each user has a
    // first day and a ~35% chance of being active on any later day
    val users = (0 until 60).map(u =>
      (u.toLong, rnd.nextInt(10).toLong, Seq("x", "y")(u % 2)))
    val rows = users.flatMap { case (u, first, g) =>
      (first to 11L).filter(d => d == first || rnd.nextDouble() < 0.35)
        .map(d => (g, new Timestamp(1700006400000L + d * 86400000L +
          3600000L), 1.0, u))
    }
    val df = rows.toDF("grp", "ts", "value", "user_id")
    val mk = (n: String, bits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("grp", "grp"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("users", "user_id")),
        bitmapShardBits = bits), df)
    mk("coh", 0)
    mk("coh_sh", 2)
    val day0 = 1700006400000L / 86400000L
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    // Scala oracle: first-seen day per user, then (cohort, offset)
    // counts — day0-relative to match the asserts below
    val byUser = rows.groupBy(_._4)
      .map { case (u, rs) => u -> rs.map(r => dayOf(r._2) - day0).toSet }
    val firstOf = byUser.map { case (u, ds) => u -> ds.min }
    val cohortSize = firstOf.groupBy(_._2).map { case (c, m) => c -> m.size }
    val exact = byUser.toSeq.flatMap { case (u, ds) =>
      ds.map(d => (firstOf(u), d - firstOf(u))) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

    val got = svc.getCohortMatrix("coh", "day", "users", periodDays = 1)
      .collect()
    assert(got.length == exact.size,
      s"cell count ${got.length} != raw ${exact.size}")
    got.foreach { r =>
      val c = r.getAs[Long]("cohort") - day0
      val k = r.getAs[Long]("offset")
      assert(r.getAs[Long]("cohort_size") == cohortSize(c),
        s"cohort $c size diverged")
      assert(r.getAs[Long]("retained") == exact((c, k)),
        s"cell ($c, $k) diverged")
    }
    // offset 0 is the full cohort
    got.filter(_.getAs[Long]("offset") == 0L).foreach(r =>
      assert(r.getAs[Long]("retained") == r.getAs[Long]("cohort_size")))
    // sharded twin bit-identical
    assert(svc.getCohortMatrix("coh_sh", "day", "users", periodDays = 1)
        .collect().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "sharded cohort triangle must equal the unsharded walk")
    // segmented: per-group first-seen (a user's cohort is per segment —
    // cells partition events by segment)
    val seg = svc.getCohortMatrix("coh", "day", "users", periodDays = 1,
      segmentBy = Seq("grp")).collect()
    Seq("x", "y").foreach { g =>
      val gu = rows.filter(_._1 == g).groupBy(_._4)
        .map { case (u, rs) => u -> rs.map(r => dayOf(r._2) - day0).toSet }
      val gf = gu.map { case (u, ds) => u -> ds.min }
      val ge = gu.toSeq.flatMap { case (u, ds) =>
        ds.map(d => (gf(u), d - gf(u))) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val gGot = seg.filter(_.getAs[String]("grp") == g)
      assert(gGot.length == ge.size, s"segment $g cell count diverged")
      gGot.foreach { r =>
        val key = (r.getAs[Long]("cohort") - day0, r.getAs[Long]("offset"))
        assert(r.getAs[Long]("retained") == ge(key),
          s"segment $g cell $key diverged")
      }
    }
    // guardrails: reserved segment name, non-bitmap, delete latch
    intercept[IllegalArgumentException] {
      svc.getCohortMatrix("coh", "day", "users",
        segmentBy = Seq("cohort")) }
    intercept[IllegalArgumentException] {
      svc.getCohortMatrix("coh", "day", "v") }
    svc.updateAggregates("coh",
      df.limit(2).withColumn("_sign", lit(-1)))
    val e = intercept[IllegalArgumentException] {
      svc.getCohortMatrix("coh", "day", "users") }
    assert(e.getMessage.contains("insert-only"))
    svc.deleteCube("coh"); svc.deleteCube("coh_sh")
  }

  test("getCohortValue: LTV triangle from weight maps; sharded + " +
      "segmented twins; sourceless deletes keep serving") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_cval").toString)
    val rnd = new scala.util.Random(41)
    val users = (0 until 50).map(u =>
      (u.toLong, rnd.nextInt(8).toLong, Seq("x", "y")(u % 2)))
    // multiple rows per (user, day) sometimes — the per-(id, period)
    // sums inside one weight-map entry must accumulate
    val rows = users.flatMap { case (u, first, g) =>
      (first to 10L).filter(d => d == first || rnd.nextDouble() < 0.4)
        .flatMap { d =>
          val n = 1 + rnd.nextInt(2)
          (0 until n).map(i => (g,
            new Timestamp(1700006400000L + d * 86400000L + 3600000L),
            math.round(rnd.nextDouble() * 1000) / 100.0, u))
        }
    }
    val df = rows.toDF("grp", "ts", "value", "user_id")
    val mk = (n: String, bits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("grp", "grp"), TimeDim("day", "ts", "day")),
        measures = Nil,
        weighted = Seq(WeightedMeasure("ltv", "user_id", "value")),
        bitmapShardBits = bits), df)
    mk("cval", 0)
    mk("cval_sh", 2)
    val day0 = 1700006400000L / 86400000L
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    // Scala oracle over scaled longs (exactly the partials' arithmetic)
    def oracle(rs: Seq[(String, Timestamp, Double, Long)])
        : (Map[Long, Int], Map[(Long, Long), (Long, Long)]) = {
      val perUserDay = rs.groupBy(r => (r._4, dayOf(r._2) - day0))
        .map { case (k, g) =>
          k -> g.map(r => math.round(r._3 * 100)).sum }
      val firstOf = perUserDay.keys.groupBy(_._1)
        .map { case (u, ks) => u -> ks.map(_._2).min }
      val size = firstOf.groupBy(_._2).map { case (c, m) => c -> m.size }
      val cells = perUserDay.toSeq
        .map { case ((u, d), w) => ((firstOf(u), d - firstOf(u)), (1L, w)) }
        .groupBy(_._1)
        .map { case (k, v) =>
          k -> (v.map(_._2._1).sum, v.map(_._2._2).sum) }
      (size, cells)
    }
    val (size, cells) = oracle(rows)
    val got = svc.getCohortValue("cval", "day", "ltv", periodDays = 1)
      .collect()
    assert(got.length == cells.size,
      s"cell count ${got.length} != raw ${cells.size}")
    got.foreach { r =>
      val key = (r.getAs[Long]("cohort") - day0, r.getAs[Long]("offset"))
      val (a, w) = cells(key)
      assert(r.getAs[Long]("cohort_size") == size(key._1),
        s"cohort ${key._1} size diverged")
      assert(r.getAs[Long]("active") == a, s"cell $key active diverged")
      assert(r.getAs[Double]("value") == w / 100.0,
        s"cell $key value diverged")
    }
    // sharded twin bit-identical (shards partition the id space; the
    // per-shard pair walks' counts and scaled sums ADD back)
    assert(svc.getCohortValue("cval_sh", "day", "ltv", periodDays = 1)
        .collect().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "sharded cohort-value matrix must equal the unsharded walk")
    // segmented: per-group first-seen and sums
    val seg = svc.getCohortValue("cval", "day", "ltv", periodDays = 1,
      segmentBy = Seq("grp")).collect()
    Seq("x", "y").foreach { g =>
      val (gs, gc) = oracle(rows.filter(_._1 == g))
      val gGot = seg.filter(_.getAs[String]("grp") == g)
      assert(gGot.length == gc.size, s"segment $g cell count diverged")
      gGot.foreach { r =>
        val key = (r.getAs[Long]("cohort") - day0, r.getAs[Long]("offset"))
        val (a, w) = gc(key)
        assert(r.getAs[Long]("cohort_size") == gs(key._1) &&
          r.getAs[Long]("active") == a &&
          r.getAs[Double]("value") == w / 100.0,
          s"segment $g cell $key diverged")
      }
    }
    // SOURCELESS deletes: the weighted family nets signed folds exactly
    // — the serve keeps answering and equals a from-scratch build of
    // the remaining rows (every bitmap/sketch verb latches here)
    val dropped = rows.take(6)
    svc.updateAggregates("cval",
      dropped.toDF("grp", "ts", "value", "user_id")
        .withColumn("_sign", lit(-1)))
    val (size2, cells2) = oracle(rows.drop(6))
    val got2 = svc.getCohortValue("cval", "day", "ltv", periodDays = 1)
      .collect()
    assert(got2.length == cells2.size, "post-delete cell count diverged")
    got2.foreach { r =>
      val key = (r.getAs[Long]("cohort") - day0, r.getAs[Long]("offset"))
      val (a, w) = cells2(key)
      assert(r.getAs[Long]("cohort_size") == size2(key._1) &&
        r.getAs[Long]("active") == a &&
        r.getAs[Double]("value") == w / 100.0,
        s"post-delete cell $key diverged")
    }
    // TOP SPENDERS off the same weight maps: exact leaderboard vs a
    // brute-force rank with the same (value desc, id asc) tiebreak —
    // post-delete, so the netted values rank (cells2 from above)
    val perUser2 = rows.drop(6)
      .groupBy(r => (r._4, dayOf(r._2) - day0))
      .map { case (k, g) =>
        k -> g.map(r => math.round(r._3 * 100)).sum }
    val wantTop = perUser2.toSeq.map { case ((u, d), w) => (d, u, w) }
      .groupBy(_._1).flatMap { case (d, es) =>
        es.sortBy(e => (-e._3, e._2)).take(3).zipWithIndex
          .map { case ((_, u, w), i) => (d, i + 1L, u, w) }
      }.toSet
    val gotTop = svc.getTopSpenders("cval", "day", "ltv", k = 3,
      periodDays = 1).collect()
      .map(r => (r.getAs[Long]("period") - day0, r.getAs[Long]("rank"),
        r.getAs[Long]("id"),
        math.round(r.getAs[Double]("value") * 100))).toSet
    assert(gotTop == wantTop, "leaderboard diverged from brute force")
    // sharded twin: per-shard selection + re-rank == unsharded (the
    // sharded cube has no deletes folded, so rank the FULL rows)
    val perUserAll = rows.groupBy(r => (r._4, dayOf(r._2) - day0))
      .map { case (k, g) =>
        k -> g.map(r => math.round(r._3 * 100)).sum }
    val wantTopAll = perUserAll.toSeq.map { case ((u, d), w) => (d, u, w) }
      .groupBy(_._1).flatMap { case (d, es) =>
        es.sortBy(e => (-e._3, e._2)).take(3).zipWithIndex
          .map { case ((_, u, w), i) => (d, i + 1L, u, w) }
      }.toSet
    assert(svc.getTopSpenders("cval_sh", "day", "ltv", k = 3,
        periodDays = 1).collect()
      .map(r => (r.getAs[Long]("period") - day0, r.getAs[Long]("rank"),
        r.getAs[Long]("id"),
        math.round(r.getAs[Double]("value") * 100))).toSet == wantTopAll,
      "sharded leaderboard must equal the brute-force rank")
    intercept[IllegalArgumentException] {
      svc.getTopSpenders("cval", "day", "ltv", k = 0) }
    intercept[IllegalArgumentException] {
      svc.getTopSpenders("cval", "day", "ltv", k = 101) }
    // guardrails: reserved segment name; not-a-weighted-measure
    intercept[IllegalArgumentException] {
      svc.getCohortValue("cval", "day", "ltv", segmentBy = Seq("value")) }
    intercept[IllegalArgumentException] {
      svc.getCohortValue("cval", "day", "nope") }
    svc.deleteCube("cval"); svc.deleteCube("cval_sh")
  }

  test("weighted NULL-weight convention (pinned): an all-NULL-weight " +
      "cell serves 0.00 where raw sum(w) is NULL; mixed cells exact") {
    // The documented divergence of the weighted family (ADVICE r15):
    // the 24-byte (cnt, w) entry stores a null weight as 0 with
    // presence kept, so a (cohort, offset) cell whose EVERY weight row
    // is NULL serves value 0.00 while the raw sum(w) it mirrors
    // returns NULL. This pin records the convention as a decision —
    // every cell with >= 1 non-null weight must stay exact.
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_nullw").toString)
    val t0 = 1700006400000L
    def ts(d: Long) = new Timestamp(t0 + d * 86400000L + 3600000L)
    // user 1: day 0 has real money, day 1 weights ALL null (the
    // divergent cell); user 2: day 0 mixed null + non-null (exact)
    val rows = Seq(
      (ts(0L), Some(10.50), 1L),
      (ts(1L), None, 1L),
      (ts(1L), None, 1L),
      (ts(0L), Some(2.25), 2L),
      (ts(0L), None, 2L))
    val df = rows.toDF("ts", "value", "user_id")
    svc.createCube(CubeConfig("nullw", "events",
      Seq(TimeDim("day", "ts", "day")), measures = Nil,
      weighted = Seq(WeightedMeasure("ltv", "user_id", "value"))), df)
    val day0 = t0 / 86400000L
    val got = svc.getCohortValue("nullw", "day", "ltv", periodDays = 1)
      .collect()
      .map(r => (r.getAs[Long]("cohort") - day0, r.getAs[Long]("offset"))
        -> ((r.getAs[Long]("active"), r.getAs[Double]("value")))).toMap
    // cell (0, 0): both users active, 10.50 + 2.25 (+ null-as-0) exact
    assert(got((0L, 0L)) == ((2L, 12.75)), "mixed cell must stay exact")
    // cell (0, 1): user 1 only, every weight NULL -> the CONVENTION:
    // presence kept (active = 1), value 0.00 (raw sum(w) would be NULL)
    assert(got((0L, 1L)) == ((1L, 0.0)),
      "all-NULL-weight cell must serve presence with value 0.00")
    // the raw shape the routing matcher mirrors returns NULL there
    val raw = df.groupBy(col("user_id"),
        (unix_timestamp(col("ts")).cast("double") / 86400)
          .cast("long").as("p"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("w"))
    val rawD1 = raw.filter(col("p") === day0 + 1).collect()
    assert(rawD1.length == 1 && rawD1.head.isNullAt(rawD1.head.fieldIndex("w")),
      "raw sum over the all-NULL group must be NULL (the divergence)")
    svc.deleteCube("nullw")
  }

  test("getTopSpendersAsOf serves a dictBitmaps-keyed cube's archived " +
      "version (dicts load from the live append-only dict dir)") {
    // ADVICE r15 (medium): cubeAt's archived branch built Cube(...)
    // with dicts = Map.empty, so the dict-translating leaderboard
    // threw NoSuchElementException on any non-head version. Dicts are
    // append-only (keys gain ids, never lose or change them), so the
    // LIVE dict resolves every id an archived version's maps hold.
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_dasof").toString)
    def ts(d: Long) = new Timestamp(1700006400000L + d * 86400000L)
    val b1 = Seq(("alice", ts(0L), 10.0), ("bob", ts(0L), 7.5),
      ("carol", ts(1L), 3.0))
    // the fold carries an UNSEEN key, extending the dictionary past v0
    val b2 = Seq(("dave", ts(0L), 99.0), ("alice", ts(1L), 1.0))
    def toDF(rows: Seq[(String, Timestamp, Double)]) =
      rows.toDF("uid", "ts", "value")
    svc.createCube(CubeConfig("dasof", "events",
      Seq(TimeDim("day", "ts", "day")), measures = Nil,
      dictBitmaps = Seq(Measure("us", "uid")),
      weighted = Seq(WeightedMeasure("ltv", "uid", "value"))), toDF(b1))
    val v0 = svc.currentCubeVersion("dasof")
    def board(f: => DataFrame) = f.collect().map(_.toSeq).toSeq
    val before = board(
      svc.getTopSpenders("dasof", "day", "ltv", k = 3, periodDays = 1))
    svc.updateAggregates("dasof", toDF(b2).withColumn("_sign", lit(1)))
    assert(board(svc.getTopSpenders("dasof", "day", "ltv", k = 3,
      periodDays = 1)) != before, "fold must move the head board")
    // as-of v0 == the captured pre-fold board, string keys translated
    val asOf = board(svc.getTopSpendersAsOf("dasof", v0, "day", "ltv",
      k = 3, periodDays = 1))
    assert(asOf == before,
      "as-of leaderboard on a dict-keyed cube must equal the " +
        "captured pre-fold serve")
    assert(asOf.flatMap(_.lift(2)).toSet == Set("alice", "bob", "carol"),
      "archived-version board must carry the TRANSLATED string keys")
    svc.deleteCube("dasof")
  }

  test("getValueGrowthAccounting: the MRR bridge vs brute force; " +
      "identity, gap, sharded + segmented twins, deletes keep serving") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_vga").toString)
    val rnd = new scala.util.Random(67)
    // sparse per-user activity with a globally SILENT day 6 so the
    // empty-previous gap semantics are exercised at day 7; multiple
    // rows per (user, day) so per-period weights accumulate
    val users = (0 until 40).map(u =>
      (u.toLong, rnd.nextInt(5).toLong, Seq("x", "y")(u % 2)))
    val rows = users.flatMap { case (u, first, g) =>
      (first to 11L).filter(d => d == first || rnd.nextDouble() < 0.45)
        .filter(_ != 6L)
        .flatMap { d =>
          (0 until 1 + rnd.nextInt(2)).map(_ => (g,
            new Timestamp(1700006400000L + d * 86400000L + 3600000L),
            math.round(rnd.nextDouble() * 1000) / 100.0, u))
        }
    }
    val df = rows.toDF("grp", "ts", "value", "user_id")
    val mk = (n: String, bits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("grp", "grp"), TimeDim("day", "ts", "day")),
        measures = Nil,
        weighted = Seq(WeightedMeasure("ltv", "user_id", "value")),
        bitmapShardBits = bits), df)
    mk("vga", 0)
    mk("vga_sh", 2)
    val day0 = 1700006400000L / 86400000L
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    // Scala oracle over scaled longs
    def oracle(rs: Seq[(String, Timestamp, Double, Long)])
        : Map[Long, (Long, Long, Long, Long, Long, Long, Long)] = {
      val perUD = rs.groupBy(r => (r._4, dayOf(r._2) - day0))
        .map { case (k, g) => k -> g.map(r => math.round(r._3 * 100)).sum }
      val byDay = perUD.keys.groupBy(_._2)
        .map { case (d, ks) => d -> ks.map(_._1).toSet }
      val firstOf = perUD.keys.groupBy(_._1)
        .map { case (u, ks) => u -> ks.map(_._2).min }
      byDay.keys.map { d =>
        val cur = byDay(d)
        val prev = byDay.getOrElse(d - 1, Set.empty[Long])
        def w(u: Long, dd: Long) = perUD.getOrElse((u, dd), 0L)
        val rev = cur.toSeq.map(w(_, d)).sum
        val prevRev = prev.toSeq.map(w(_, d - 1)).sum
        val nw = cur.filter(firstOf(_) == d).toSeq.map(w(_, d)).sum
        val res = (cur -- prev).filter(firstOf(_) < d)
          .toSeq.map(w(_, d)).sum
        val exp = (cur & prev).toSeq
          .map(u => math.max(0L, w(u, d) - w(u, d - 1))).sum
        val con = (cur & prev).toSeq
          .map(u => math.max(0L, w(u, d - 1) - w(u, d))).sum
        val chu = (prev -- cur).toSeq.map(w(_, d - 1)).sum
        d -> ((rev, prevRev, nw, res, exp, con, chu))
      }.toMap
    }
    val exact = oracle(rows)
    val got = svc.getValueGrowthAccounting("vga", "day", "ltv",
      periodDays = 1).collect()
    assert(got.length == exact.size, "one row per observed day")
    got.foreach { r =>
      val d = r.getAs[Long]("period") - day0
      val (rev, prevRev, nw, res, exp, con, chu) = exact(d)
      def v(c: String) = math.round(r.getAs[Double](c) * 100)
      assert(v("revenue") == rev && v("prev_revenue") == prevRev &&
        v("new_value") == nw && v("resurrected_value") == res &&
        v("expansion") == exp && v("contraction") == con &&
        v("churned_value") == chu, s"day $d bridge diverged")
      // the bridge identity on every row
      assert(v("revenue") - v("prev_revenue") ==
        v("new_value") + v("resurrected_value") + v("expansion") -
          v("contraction") - v("churned_value"),
        s"day $d identity broken")
    }
    // the gap day: day 7 follows the silent day 6 — empty previous
    val d7 = got.find(_.getAs[Long]("period") == day0 + 7).get
    assert(d7.getAs[Double]("prev_revenue") == 0.0 &&
      d7.getAs[Double]("churned_value") == 0.0 &&
      d7.getAs[Double]("expansion") == 0.0,
      "gap day must read as empty previous period")
    // sharded twin bit-identical
    assert(svc.getValueGrowthAccounting("vga_sh", "day", "ltv",
        periodDays = 1).collect().map(_.toSeq).toSeq ==
      got.map(_.toSeq).toSeq,
      "sharded bridge must equal the unsharded walk")
    // segmented twin vs per-segment brute force
    val seg = svc.getValueGrowthAccounting("vga", "day", "ltv",
      periodDays = 1, segmentBy = Seq("grp")).collect()
    Seq("x", "y").foreach { g =>
      val ge = oracle(rows.filter(_._1 == g))
      val gGot = seg.filter(_.getAs[String]("grp") == g)
      assert(gGot.length == ge.size, s"segment $g row count")
      gGot.foreach { r =>
        val d = r.getAs[Long]("period") - day0
        val (rev, _, nw, _, exp, con, chu) = ge(d)
        def v(c: String) = math.round(r.getAs[Double](c) * 100)
        assert(v("revenue") == rev && v("new_value") == nw &&
          v("expansion") == exp && v("contraction") == con &&
          v("churned_value") == chu, s"segment $g day $d diverged")
      }
    }
    // sourceless deletes: the bridge keeps serving and equals a
    // from-scratch build of the remaining rows
    val dropped = rows.take(5)
    svc.updateAggregates("vga",
      dropped.toDF("grp", "ts", "value", "user_id")
        .withColumn("_sign", lit(-1)))
    val exact2 = oracle(rows.drop(5))
    val got2 = svc.getValueGrowthAccounting("vga", "day", "ltv",
      periodDays = 1).collect()
    assert(got2.length == exact2.size, "post-delete row count")
    got2.foreach { r =>
      val d = r.getAs[Long]("period") - day0
      val (rev, _, nw, res, exp, con, chu) = exact2(d)
      def v(c: String) = math.round(r.getAs[Double](c) * 100)
      assert(v("revenue") == rev && v("new_value") == nw &&
        v("resurrected_value") == res && v("expansion") == exp &&
        v("contraction") == con && v("churned_value") == chu,
        s"post-delete day $d diverged")
    }
    // guardrails
    intercept[IllegalArgumentException] {
      svc.getValueGrowthAccounting("vga", "day", "nope") }
    intercept[IllegalArgumentException] {
      svc.getValueGrowthAccounting("vga", "day", "ltv",
        segmentBy = Seq("period")) }
    svc.deleteCube("vga"); svc.deleteCube("vga_sh")
  }

  test("getEngagement & getGrowthAccounting: Scala oracle, identities, " +
      "sharded + segmented twins") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_eng").toString)
    val rnd = new scala.util.Random(97)
    // sparse activity with a globally SILENT day 9 — resurrection and
    // the empty-previous-period gap semantics both get exercised
    val users = (0 until 70).map(u =>
      (u.toLong, rnd.nextInt(8).toLong, Seq("x", "y")(u % 2)))
    val rows = users.flatMap { case (u, first, g) =>
      (first to 13L).filter(d => d == first || rnd.nextDouble() < 0.4)
        .filter(_ != 9L)
        .map(d => (g, new Timestamp(1700006400000L + d * 86400000L +
          3600000L), 1.0, u))
    }
    val df = rows.toDF("grp", "ts", "value", "user_id")
    val mk = (n: String, bits: Int) => svc.createCube(
      CubeConfig(n, "events",
        Seq(FieldDim("grp", "grp"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("users", "user_id")),
        bitmapShardBits = bits), df)
    mk("eng", 0)
    mk("eng_sh", 2)
    val day0 = 1700006400000L / 86400000L
    def dayOf(t: Timestamp): Long = t.getTime / 86400000L
    val perDay: Map[Long, Set[Long]] = rows.groupBy(r => dayOf(r._2))
      .map { case (d, rs) => d -> rs.map(_._4).toSet }
    val obsDays = perDay.keySet

    // --- ENGAGEMENT: histogram per endpoint vs brute force
    val exactHist: Map[(Long, Long), Long] = obsDays.toSeq.flatMap { e =>
      val win = (e - 6 to e).filter(obsDays)
      val counts = win.flatMap(d => perDay(d)).groupBy(identity)
        .map { case (_, v) => v.size.toLong }
      counts.groupBy(identity).map { case (k, v) =>
        (e, k) -> v.size.toLong }
    }.toMap
    val got = svc.getEngagement("eng", "day", "users", windowDays = 7)
      .collect()
    assert(got.length == exactHist.size,
      s"bucket count ${got.length} != raw ${exactHist.size}")
    got.foreach { r =>
      val key = (r.getAs[Long]("day"), r.getAs[Long]("days_active"))
      assert(r.getAs[Long]("users") == exactHist(key),
        s"bucket $key diverged")
    }
    // identities: Σ_k users = the WAU total; the top OBSERVED bucket
    // (days_active == observed days in window) = the stickiness count
    val wau = svc.getRolling("eng", "day", 7,
        exactDistinctOf = Seq("users"), intersectOf = Seq("users"))
      .collect()
      .map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_exact_users"), r.getAs[Long]("n_everyday_users")))
      .toMap
    val byDay = got.groupBy(_.getAs[Long]("day"))
    byDay.foreach { case (e, rs) =>
      assert(rs.map(_.getAs[Long]("users")).sum == wau(e)._1,
        s"day $e: histogram total != WAU")
      val nobs = (e - 6 to e).count(obsDays)
      val top = rs.find(_.getAs[Long]("days_active") == nobs.toLong)
        .map(_.getAs[Long]("users")).getOrElse(0L)
      assert(top == wau(e)._2,
        s"day $e: everyday bucket $top != stickiness ${wau(e)._2}")
    }
    // sharded twin bit-identical
    assert(svc.getEngagement("eng_sh", "day", "users", windowDays = 7)
        .collect().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "sharded engagement histogram must equal the unsharded one")
    // segmented twin vs per-segment brute force
    val seg = svc.getEngagement("eng", "day", "users", windowDays = 7,
      segmentBy = Seq("grp")).collect()
    Seq("x", "y").foreach { g =>
      val gPerDay = rows.filter(_._1 == g).groupBy(r => dayOf(r._2))
        .map { case (d, rs) => d -> rs.map(_._4).toSet }
      val gDays = gPerDay.keySet
      val gExact = gDays.toSeq.flatMap { e =>
        val win = (e - 6 to e).filter(gDays)
        win.flatMap(d => gPerDay(d)).groupBy(identity)
          .map { case (_, v) => v.size.toLong }
          .groupBy(identity).map { case (k, v) => (e, k) -> v.size.toLong }
      }.toMap
      val gGot = seg.filter(_.getAs[String]("grp") == g)
      assert(gGot.length == gExact.size, s"segment $g bucket count diverged")
      gGot.foreach { r =>
        val key = (r.getAs[Long]("day"), r.getAs[Long]("days_active"))
        assert(r.getAs[Long]("users") == gExact(key),
          s"segment $g bucket $key diverged")
      }
    }

    // --- STICKINESS: the DAU/MAU-style window pair vs brute force
    val stick = svc.getStickiness("eng", "day", "users",
      shortDays = 2, longDays = 7).collect()
    assert(stick.length == obsDays.size, "one stickiness row per day")
    stick.foreach { r =>
      val e = r.getAs[Long]("day")
      def u(w: Int) = (e - w + 1 to e).filter(obsDays)
        .flatMap(perDay).toSet.size.toLong
      assert(r.getAs[Long]("active_short") == u(2), s"day $e short")
      assert(r.getAs[Long]("active_long") == u(7), s"day $e long")
      // one IEEE division of two exact longs — bit-reproducible
      assert(r.getAs[Double]("stickiness") == u(2).toDouble / u(7),
        s"day $e ratio")
    }
    // sharded twin bit-identical; segmented partitions per segment
    assert(svc.getStickiness("eng_sh", "day", "users", 2, 7)
        .collect().map(_.toSeq).toSeq == stick.map(_.toSeq).toSeq,
      "sharded stickiness must equal the unsharded pair")
    val segS = svc.getStickiness("eng", "day", "users", 2, 7,
      segmentBy = Seq("grp")).collect()
    Seq("x", "y").foreach { g =>
      val gPerDay = rows.filter(_._1 == g).groupBy(r => dayOf(r._2))
        .map { case (d, rs) => d -> rs.map(_._4).toSet }
      val gRows = segS.filter(_.getAs[String]("grp") == g)
      assert(gRows.length == gPerDay.size, s"segment $g day count")
      gRows.foreach { r =>
        val e = r.getAs[Long]("day")
        def u(w: Int) = (e - w + 1 to e).filter(gPerDay.keySet)
          .flatMap(gPerDay).toSet.size.toLong
        assert(r.getAs[Long]("active_short") == u(2) &&
          r.getAs[Long]("active_long") == u(7), s"segment $g day $e")
      }
    }
    // stickiness edges: inverted/equal windows, oversized long
    // window, non-bitmap measure, reserved segment id
    intercept[IllegalArgumentException] {
      svc.getStickiness("eng", "day", "users", 7, 7) }
    intercept[IllegalArgumentException] {
      svc.getStickiness("eng", "day", "users", 1, 367) }
    intercept[IllegalArgumentException] {
      svc.getStickiness("eng", "day", "v") }
    intercept[IllegalArgumentException] {
      svc.getStickiness("eng", "day", "users",
        segmentBy = Seq("active_short")) }

    // --- GROWTH ACCOUNTING: the quartet vs brute force, with the
    // silent day 9 exercising the empty-set gap semantics at day 10
    val sortedDays = obsDays.toSeq.sorted
    val gotG = svc.getGrowthAccounting("eng", "day", "users",
      periodDays = 1).collect()
    assert(gotG.length == sortedDays.length, "one row per observed day")
    var seenBefore = Set.empty[Long]
    sortedDays.foreach { d =>
      val cur = perDay(d)
      val prev = perDay.getOrElse(d - 1, Set.empty[Long])
      val r = gotG.find(_.getAs[Long]("period") == d).get
      val newC = (cur -- seenBefore).size.toLong
      val ret = (cur & prev).size.toLong
      assert(r.getAs[Long]("active") == cur.size.toLong, s"day $d active")
      assert(r.getAs[Long]("new_ids") == newC, s"day $d new")
      assert(r.getAs[Long]("retained") == ret, s"day $d retained")
      assert(r.getAs[Long]("resurrected") == cur.size - newC - ret,
        s"day $d resurrected")
      assert(r.getAs[Long]("churned") == (prev -- cur).size.toLong,
        s"day $d churned")
      // the quick-ratio invariant
      assert(r.getAs[Long]("active") == r.getAs[Long]("new_ids") +
        r.getAs[Long]("resurrected") + r.getAs[Long]("retained"))
      seenBefore ++= cur
    }
    // day 10 (after the silent day): empty-previous semantics
    val d10 = gotG.find(_.getAs[Long]("period") == day0 + 10).get
    assert(d10.getAs[Long]("retained") == 0L &&
      d10.getAs[Long]("churned") == 0L,
      "gap day must read as empty previous period")
    // consistency with getRetention where p−1 IS observed: retained
    // agrees; getRetention's new_ids = new + resurrected
    val retM = svc.getRetention("eng", "day", "users", periodDays = 1)
      .collect().map(r => r.getAs[Long]("period") -> r).toMap
    gotG.foreach { r =>
      val p = r.getAs[Long]("period")
      if (obsDays(p - 1)) {
        assert(retM(p).getAs[Long]("retained") == r.getAs[Long]("retained"))
        assert(retM(p).getAs[Long]("new_ids") ==
          r.getAs[Long]("new_ids") + r.getAs[Long]("resurrected"),
          s"day $p: retention new_ids must be growth's new + resurrected")
      }
    }
    // sharded twin bit-identical
    assert(svc.getGrowthAccounting("eng_sh", "day", "users",
        periodDays = 1).collect().map(_.toSeq).toSeq ==
      gotG.map(_.toSeq).toSeq,
      "sharded growth matrix must equal the unsharded walk")
    // segmented twin vs per-segment brute force (weekly periods)
    val segG = svc.getGrowthAccounting("eng", "day", "users",
      periodDays = 7, segmentBy = Seq("grp")).collect()
    Seq("x", "y").foreach { g =>
      val gp = rows.filter(_._1 == g)
        .groupBy(r => Math.floorDiv(dayOf(r._2), 7L))
        .map { case (p, rs) => p -> rs.map(_._4).toSet }
      var seen = Set.empty[Long]
      gp.keySet.toSeq.sorted.foreach { p =>
        val cur = gp(p)
        val prev = gp.getOrElse(p - 1, Set.empty[Long])
        val r = segG.find(x => x.getAs[String]("grp") == g &&
          x.getAs[Long]("period") == p).get
        assert(r.getAs[Long]("active") == cur.size.toLong)
        assert(r.getAs[Long]("new_ids") == (cur -- seen).size.toLong)
        assert(r.getAs[Long]("retained") == (cur & prev).size.toLong)
        assert(r.getAs[Long]("churned") == (prev -- cur).size.toLong)
        seen ++= cur
      }
    }
    // calendar form: month ordinals with period_start labels
    val calG = svc.getGrowthAccountingCalendar("eng", "day", "users",
      "month").collect()
    assert(calG.nonEmpty && calG.forall(r =>
      r.getAs[String]("period_start").endsWith("-01")))
    // guardrails: reserved segment id, non-bitmap measure, bad window,
    // delete latch (both verbs)
    intercept[IllegalArgumentException] {
      svc.getEngagement("eng", "day", "users", segmentBy = Seq("day")) }
    intercept[IllegalArgumentException] {
      svc.getEngagement("eng", "day", "v") }
    intercept[IllegalArgumentException] {
      svc.getEngagement("eng", "day", "users", windowDays = 0) }
    // upper bound: the serve fans each daily bitmap into windowDays
    // endpoint rows and the k-count combine is O(windowDays²) — a
    // wire-reachable verb must bound its request-sized blow-up
    intercept[IllegalArgumentException] {
      svc.getEngagement("eng", "day", "users", windowDays = 367) }
    intercept[IllegalArgumentException] {
      svc.getGrowthAccounting("eng", "day", "v") }
    svc.updateAggregates("eng",
      df.limit(2).withColumn("_sign", lit(-1)))
    assert(intercept[IllegalArgumentException] {
      svc.getEngagement("eng", "day", "users") }
      .getMessage.contains("insert-only"))
    assert(intercept[IllegalArgumentException] {
      svc.getGrowthAccounting("eng", "day", "users") }
      .getMessage.contains("insert-only"))
    assert(intercept[IllegalArgumentException] {
      svc.getStickiness("eng", "day", "users") }
      .getMessage.contains("insert-only"))
    svc.deleteCube("eng"); svc.deleteCube("eng_sh")
  }

  test("cohort verbs as-of a retained version == the captured pre-fold serves") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_asof").toString)
    val rnd = new scala.util.Random(41)
    def batch(users: Range, days: Range, n: Int) = (0 until n).map { _ =>
      (Seq("view", "click", "purchase")(rnd.nextInt(3)),
        new Timestamp(1700006400000L +
          (days.start + rnd.nextInt(days.length)) * 86400000L +
          rnd.nextInt(80000000)),
        rnd.nextInt(50).toDouble,
        (users.start + rnd.nextInt(users.length)).toLong)
    }
    val b1 = batch(0 until 40, 0 until 10, 600)
    val b2 = batch(30 until 80, 8 until 16, 600) // new users AND new days
    svc.createCube(
      CubeConfig("asofc", "events",
        Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
        Seq(Measure("v", "value")),
        bitmaps = Seq(Measure("u", "user_id")),
        weighted = Seq(WeightedMeasure("ltv", "user_id", "value"))),
      b1.toDF("event_type", "ts", "value", "user_id"))
    val v0 = svc.currentCubeVersion("asofc")
    def all(serve: String => org.apache.spark.sql.DataFrame) =
      Seq("r", "t", "c", "f", "m", "o", "e", "g", "s", "x", "w", "vb")
        .map(k => k -> serve(k).collect().map(_.toSeq).toSeq).toMap
    def head(k: String) = k match {
      case "r" => svc.getRolling("asofc", "day", 7,
        exactDistinctOf = Seq("u"), sumOf = Seq("v"))
      case "t" => svc.getRetention("asofc", "day", "u", periodDays = 1)
      case "c" => svc.getCumulative("asofc", "day",
        sumOf = Seq("v"), exactDistinctOf = Seq("u"))
      case "m" => svc.getCohortMatrix("asofc", "day", "u", periodDays = 1)
      case "o" => svc.getOverlapMatrix("asofc", "etype", "u")
      case "e" => svc.getEngagement("asofc", "day", "u", windowDays = 7)
      case "g" => svc.getGrowthAccounting("asofc", "day", "u",
        periodDays = 1)
      case "s" => svc.getStickiness("asofc", "day", "u", 2, 7)
      case "x" => svc.getTimeToConvert("asofc", "day", "u", "etype",
        Seq("view", "click", "purchase"))
      case "w" => svc.getCohortValue("asofc", "day", "ltv", periodDays = 1)
      case "vb" => svc.getValueGrowthAccounting("asofc", "day", "ltv",
        periodDays = 1)
      case _ => svc.getFunnel("asofc", "day", "u", "etype",
        Seq("view", "click", "purchase"))
    }
    val before = all(head)
    svc.updateAggregates("asofc",
      b2.toDF("event_type", "ts", "value", "user_id"))
    val v1 = svc.currentCubeVersion("asofc")
    assert(v1 == v0 + 1 && svc.listCubeVersions("asofc").contains(v0))
    // the head moved: every family sees the fold
    val after = all(head)
    Seq("r", "t", "c", "f", "m", "o", "e", "g", "s", "x", "w", "vb").foreach(k =>
      assert(after(k) != before(k), s"family $k: fold must move the head"))
    // as-of v0 reproduces every captured pre-fold serve bit for bit
    def asOf(k: String) = k match {
      case "r" => svc.getRollingAsOf("asofc", v0, "day", 7,
        exactDistinctOf = Seq("u"), sumOf = Seq("v"))
      case "t" => svc.getRetentionAsOf("asofc", v0, "day", "u",
        periodDays = 1)
      case "c" => svc.getCumulativeAsOf("asofc", v0, "day",
        sumOf = Seq("v"), exactDistinctOf = Seq("u"))
      case "m" => svc.getCohortMatrixAsOf("asofc", v0, "day", "u",
        periodDays = 1)
      case "o" => svc.getOverlapMatrixAsOf("asofc", v0, "etype", "u")
      case "e" => svc.getEngagementAsOf("asofc", v0, "day", "u",
        windowDays = 7)
      case "g" => svc.getGrowthAccountingAsOf("asofc", v0, "day", "u",
        periodDays = 1)
      case "s" => svc.getStickinessAsOf("asofc", v0, "day", "u", 2, 7)
      case "x" => svc.getTimeToConvertAsOf("asofc", v0, "day", "u",
        "etype", Seq("view", "click", "purchase"))
      case "w" => svc.getCohortValueAsOf("asofc", v0, "day", "ltv",
        periodDays = 1)
      case "vb" => svc.getValueGrowthAccountingAsOf("asofc", v0, "day",
        "ltv", periodDays = 1)
      case _ => svc.getFunnelAsOf("asofc", v0, "day", "u", "etype",
        Seq("view", "click", "purchase"))
    }
    val historical = all(asOf)
    Seq("r", "t", "c", "f", "m", "o", "e", "g", "s", "x", "w", "vb").foreach(k =>
      assert(historical(k) == before(k),
        s"family $k: as-of v$v0 must equal the captured pre-fold serve"))
    // non-retained version refuses with the window in the message
    val e = intercept[IllegalArgumentException] {
      svc.getCumulativeAsOf("asofc", v0 - 1, "day", sumOf = Seq("v")) }
    assert(e.getMessage.contains("not retained"))
    svc.deleteCube("asofc")
  }

  test("JOIN-MV cohort verbs as-of a retained version == captured pre-fold serves") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_jasof").toString)
    val rnd = new scala.util.Random(47)
    def fact(users: Range, days: Range, n: Int) = (0 until n).map { _ =>
      ((1L + rnd.nextInt(3)).toLong,
        new Timestamp(1700006400000L +
          (days.start + rnd.nextInt(days.length)) * 86400000L +
          rnd.nextInt(80000000)),
        rnd.nextInt(50).toDouble,
        (users.start + rnd.nextInt(users.length)).toLong)
    }
    val left = Seq((1L, "view"), (2L, "click"), (3L, "purchase"))
      .toDF("lk", "etype")
    def toDF(rows: Seq[(Long, Timestamp, Double, Long)]) =
      rows.toDF("rk", "ts", "value", "user_id")
    svc.createJoinCube(
      JoinCubeConfig(
        CubeConfig("jasof", "l_r",
          dims = Seq(FieldDim("etype", "etype"),
            TimeDim("day", "ts", "day")),
          measures = Seq(Measure("v", "value")),
          bitmaps = Seq(Measure("u", "user_id")),
          weighted = Seq(WeightedMeasure("ltv", "user_id", "value"))),
        leftKey = "lk", rightKey = "rk"),
      left, toDF(fact(0 until 40, 0 until 10, 500)))
    val v0 = svc.currentJoinCubeVersion("jasof")
    val fams = Seq("r", "t", "tcal", "c", "f", "m", "o", "e", "g", "s",
      "x", "w", "vb")
    def all(serve: String => org.apache.spark.sql.DataFrame) =
      fams.map(k => k -> serve(k).collect().map(_.toSeq).toSeq).toMap
    def head(k: String) = k match {
      case "r" => svc.getJoinRolling("jasof", "day", 7,
        exactDistinctOf = Seq("u"), sumOf = Seq("v"))
      case "t" => svc.getJoinRetention("jasof", "day", "u", periodDays = 1)
      case "tcal" =>
        svc.getJoinRetentionCalendar("jasof", "day", "u", "month")
      case "c" => svc.getJoinCumulative("jasof", "day",
        sumOf = Seq("v"), exactDistinctOf = Seq("u"))
      case "m" => svc.getJoinCohortMatrix("jasof", "day", "u",
        periodDays = 1)
      case "o" => svc.getJoinOverlapMatrix("jasof", "etype", "u")
      case "e" => svc.getJoinEngagement("jasof", "day", "u",
        windowDays = 7)
      case "g" => svc.getJoinGrowthAccounting("jasof", "day", "u",
        periodDays = 1)
      case "s" => svc.getJoinStickiness("jasof", "day", "u", 2, 7)
      case "x" => svc.getJoinTimeToConvert("jasof", "day", "u",
        "etype", Seq("view", "click", "purchase"))
      case "w" => svc.getJoinCohortValue("jasof", "day", "ltv",
        periodDays = 1)
      case "vb" => svc.getJoinValueGrowthAccounting("jasof", "day",
        "ltv", periodDays = 1)
      case _ => svc.getJoinFunnel("jasof", "day", "u", "etype",
        Seq("view", "click", "purchase"))
    }
    val before = all(head)
    // one right-side fold: new users AND new days move every family
    svc.updateJoinAggregates("jasof",
      left.limit(0).withColumn("_sign", lit(1L)),
      toDF(fact(30 until 80, 8 until 16, 500))
        .withColumn("_sign", lit(1L)))
    assert(svc.currentJoinCubeVersion("jasof") == v0 + 1 &&
      svc.listJoinCubeVersions("jasof").contains(v0))
    val after = all(head)
    fams.foreach(k =>
      assert(after(k) != before(k), s"family $k: fold must move the head"))
    // as-of v0 reproduces every captured pre-fold serve bit for bit:
    // a retained jmv version dir is ONE immutable consistent triple
    // and the cohort serves read only its cube aggregates
    def asOf(k: String) = k match {
      case "r" => svc.getJoinRollingAsOf("jasof", v0, "day", 7,
        exactDistinctOf = Seq("u"), sumOf = Seq("v"))
      case "t" => svc.getJoinRetentionAsOf("jasof", v0, "day", "u",
        periodDays = 1)
      case "tcal" => svc.getJoinRetentionAsOf("jasof", v0, "day", "u",
        periodDays = 1, calendar = Some("month"))
      case "c" => svc.getJoinCumulativeAsOf("jasof", v0, "day",
        sumOf = Seq("v"), exactDistinctOf = Seq("u"))
      case "m" => svc.getJoinCohortMatrixAsOf("jasof", v0, "day", "u",
        periodDays = 1)
      case "o" => svc.getJoinOverlapMatrixAsOf("jasof", v0, "etype", "u")
      case "e" => svc.getJoinEngagementAsOf("jasof", v0, "day", "u",
        windowDays = 7)
      case "g" => svc.getJoinGrowthAccountingAsOf("jasof", v0, "day",
        "u", periodDays = 1)
      case "s" => svc.getJoinStickinessAsOf("jasof", v0, "day", "u",
        2, 7)
      case "x" => svc.getJoinTimeToConvertAsOf("jasof", v0, "day",
        "u", "etype", Seq("view", "click", "purchase"))
      case "w" => svc.getJoinCohortValueAsOf("jasof", v0, "day", "ltv",
        periodDays = 1)
      case "vb" => svc.getJoinValueGrowthAccountingAsOf("jasof", v0,
        "day", "ltv", periodDays = 1)
      case _ => svc.getJoinFunnelAsOf("jasof", v0, "day", "u", "etype",
        Seq("view", "click", "purchase"))
    }
    val historical = all(asOf)
    fams.foreach(k =>
      assert(historical(k) == before(k),
        s"family $k: join as-of v$v0 must equal the captured pre-fold serve"))
    // non-retained version refuses with the window in the message
    val e = intercept[IllegalArgumentException] {
      svc.getJoinCumulativeAsOf("jasof", v0 - 1, "day", sumOf = Seq("v")) }
    assert(e.getMessage.contains("not retained"))
    svc.deleteJoinCube("jasof")
  }

  test("auto-updated cube serves getRolling: N streamed batches == batch == exact") {
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_rollstream").toString)
    val rnd = new scala.util.Random(53)
    def mkRows(n: Int) = (0 until n).map { _ =>
      (Seq("click", "view")(rnd.nextInt(2)),
        new Timestamp(1700000000000L + rnd.nextInt(10) * 86400000L
          + rnd.nextInt(86400000)),
        rnd.nextInt(1000).toDouble,
        // <512 distinct users: the HLL stays in its exact coupon regime,
        // so the distinct curve can be pinned EQUAL, not merely close
        rnd.nextInt(300).toLong)
    }
    val all = mkRows(1200)
    val cfg = CubeConfig("rollstream", "events",
      Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
      Seq(Measure("v", "value")),
      sketches = Seq(Measure("users", "user_id")),
      quantiles = Seq(Measure("dist", "value")),
      // the EXACT distinct family streams too: the bitmap buffer
      // serializes into streaming state like the sketches, and its
      // lossless union makes streamed == batch == exact an EQUALITY,
      // not a coupon-regime argument
      bitmaps = Seq(Measure("xusers", "user_id")),
      // ... and the weighted family: per-cell weight maps pointwise-
      // ADD across micro-batches, so the stream-maintained LTV
      // dashboard equals the batch one bit for bit
      weighted = Seq(WeightedMeasure("ltv", "user_id", "value")))
    def toDF(rows: Seq[(String, Timestamp, Double, Long)]) =
      rows.toDF("event_type", "ts", "value", "user_id")
    // 600 rows pre-stream, 600 replayed as 4 delta files = 4 micro-batches
    val (init, rest) = all.splitAt(600)
    svc.createCube(cfg, toDF(init))
    val deltaDir = Files.createTempDirectory("graft_svc_rollstream_d").toString
    rest.grouped(150).zipWithIndex.foreach { case (b, i) =>
      toDF(b).coalesce(1).write.parquet(s"$deltaDir/d$i")
    }
    val q = svc.startAutoUpdate("rollstream", s"$deltaDir/d*", toDF(init).schema)
    q.processAllAvailable()
    // the rolling curve THROUGH THE SERVICE VERB, off the stream-
    // maintained persisted cube
    def curve(svcX: CubeService, name: String) =
      svcX.getRolling(name, "day", windowDays = 7,
          distinctOf = Seq("users"), quantilesOf = Seq(("dist", 0.5)),
          exactDistinctOf = Seq("xusers"))
        .collect()
        .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_distinct_users"),
          r.getAs[Double]("p50_dist"), r.getAs[Long]("n_exact_xusers")))
    val streamed = curve(svc, "rollstream")
    // batch twin: a one-shot cube over the same full dataset
    val svcB = new CubeService(spark,
      Files.createTempDirectory("graft_svc_rollbatch").toString)
    svcB.createCube(cfg.copy(name = "rollbatch"), toDF(all))
    val batch = curve(svcB, "rollbatch")
    // HLL state is set-semantic (per-slot max / coupon set), so the
    // stream-maintained distinct curve equals the batch curve exactly
    assert(streamed.map(t => (t._1, t._2)).toSeq ==
      batch.map(t => (t._1, t._2)).toSeq,
      "streamed distinct curve != batch distinct curve")
    // the WHOLE cohort verb family off the stream-maintained cube ==
    // the one-shot batch cube, bit for bit: cumulative (prefix-OR +
    // running sums), retention matrix, and the 2-step funnel cascade
    def cohort(svcX: CubeService, name: String) = Seq(
      svcX.getCumulative(name, "day", sumOf = Seq("v"),
        exactDistinctOf = Seq("xusers")),
      svcX.getRetention(name, "day", "xusers", periodDays = 1),
      svcX.getFunnel(name, "day", "xusers", "etype",
        Seq("view", "click")),
      svcX.getCohortMatrix(name, "day", "xusers", periodDays = 1),
      svcX.getOverlapMatrix(name, "etype", "xusers"),
      svcX.getEngagement(name, "day", "xusers", windowDays = 7),
      svcX.getGrowthAccounting(name, "day", "xusers", periodDays = 1),
      svcX.getCohortValue(name, "day", "ltv", periodDays = 1),
      svcX.getValueGrowthAccounting(name, "day", "ltv", periodDays = 1)
    ).map(_.collect().map(_.toSeq).toSeq)
    assert(cohort(svc, "rollstream") == cohort(svcB, "rollbatch"),
      "stream-maintained cohort serves != batch cohort serves")
    // ... and equals EXACT at this cardinality; the KLL median lands
    // within rank error of the exact window on every endpoint
    val byDay = all.groupBy(r => r._2.getTime / 86400000L)
    assert(streamed.length == byDay.size, "one endpoint per observed day")
    val eps = 3 * graft.functions.Kll.rankError() + 0.01
    streamed.foreach { case (day, nd, p50, nx) =>
      val window = (day - 6 to day).flatMap(d => byDay.getOrElse(d, Nil))
      val exact = window.map(_._4).distinct.size
      assert(nd == exact, s"day $day: streamed distinct $nd != exact $exact")
      assert(nx == exact,
        s"day $day: streamed BITMAP distinct $nx != exact $exact")
      val vs = window.map(_._3).sorted
      val rank = vs.count(_ <= p50).toDouble / vs.length
      assert(math.abs(rank - 0.5) <= eps + 1.0 / vs.length,
        s"day $day: p50 rank $rank off (window ${vs.length})")
    }
    // stop/start resumes from the checkpoint against the SAME base
    // snapshot: one more replayed file, and the served curve equals a
    // from-scratch recompute over everything — nothing double-counted
    svc.stopAutoUpdate("rollstream")
    val extra = mkRows(150)
    toDF(extra).coalesce(1).write.parquet(s"$deltaDir/d9")
    val q2 = svc.startAutoUpdate("rollstream", s"$deltaDir/d*",
      toDF(init).schema)
    q2.processAllAvailable()
    svc.stopAutoUpdate("rollstream")
    val streamed2 = curve(svc, "rollstream")
    val svcB2 = new CubeService(spark,
      Files.createTempDirectory("graft_svc_rollbatch2").toString)
    svcB2.createCube(cfg.copy(name = "rollbatch2"), toDF(all ++ extra))
    val batch2 = curve(svcB2, "rollbatch2")
    assert(streamed2.map(t => (t._1, t._2)).toSeq ==
      batch2.map(t => (t._1, t._2)).toSeq,
      "post-resume streamed distinct curve != recomputed batch curve")
    svc.deleteCube("rollstream")
    svcB.deleteCube("rollbatch")
    svcB2.deleteCube("rollbatch2")
  }

  test("dictionary cubes stream-maintain: per-batch folds == from-scratch; " +
      "replay + restart safe") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_svc_dictstream").toString
    val svc = new CubeService(spark, dir)
    val rnd = new scala.util.Random(91)
    // STRING keys — the case the plain-bitmap stream path refuses; the
    // delta batches carry keys the base never saw, so the stream MUST
    // extend the dictionary durably before each fold
    def mkRows(n: Int, keyOff: Int) = (0 until n).map { _ =>
      (Seq("view", "click")(rnd.nextInt(2)),
        new Timestamp(1700000000000L + rnd.nextInt(10) * 86400000L
          + rnd.nextInt(86400000)),
        rnd.nextInt(100).toDouble,
        s"u${keyOff + rnd.nextInt(60)}")
    }
    def toDF(rows: Seq[(String, Timestamp, Double, String)]) =
      rows.toDF("event_type", "ts", "value", "uid")
    val init = mkRows(400, 0)
    val rest = mkRows(400, 40)
    val cfg = CubeConfig("dictstream", "events",
      Seq(FieldDim("etype", "event_type"), TimeDim("day", "ts", "day")),
      Seq(Measure("v", "value")),
      dictBitmaps = Seq(Measure("us", "uid")),
      // the string-keyed LTV family rides the same per-batch fold:
      // the dictionary extends BEFORE the weighted partials encode,
      // so stream-maintained value serves equal from-scratch builds
      weighted = Seq(WeightedMeasure("ltv", "uid", "value")))
    svc.createCube(cfg, toDF(init))
    val v0 = svc.currentCubeVersion("dictstream")
    val deltaDir = Files.createTempDirectory("graft_svc_dictstream_d")
      .toString
    rest.grouped(100).zipWithIndex.foreach { case (b, i) =>
      toDF(b).coalesce(1).write.parquet(s"$deltaDir/d$i")
    }
    val q = svc.startAutoUpdate("dictstream", s"$deltaDir/d*",
      toDF(init).schema)
    q.processAllAvailable()
    // a manual fold while the stream runs would race the per-batch
    // publishes — refused loudly (the complete-mode discipline, now
    // covering the dictionary path too)
    val e = intercept[IllegalArgumentException] {
      svc.updateAggregates("dictstream",
        toDF(mkRows(10, 0)).withColumn("_sign", lit(1)))
    }
    assert(e.getMessage.contains("stop auto-update"))
    svc.stopAutoUpdate("dictstream")
    // one version per micro-batch (4 delta files = 4 publishes)
    assert(svc.currentCubeVersion("dictstream") == v0 + 4,
      s"expected one publish per batch, got " +
        s"${svc.currentCubeVersion("dictstream") - v0}")
    def serves(svcX: CubeService, name: String) = Seq(
      svcX.getAggregates(name, Seq("etype"), sumOf = Seq("v"),
        exactDistinctOf = Seq("us")),
      svcX.getRolling(name, "day", windowDays = 7,
        exactDistinctOf = Seq("us")),
      svcX.getCumulative(name, "day", exactDistinctOf = Seq("us")),
      // id-free value matrix AND the id-VISIBLE translated board —
      // equal across different dictionary assignments by injectivity
      svcX.getCohortValue(name, "day", "ltv", periodDays = 1),
      svcX.getTopSpenders(name, "day", "ltv", k = 3, periodDays = 1)
    ).map(_.collect().map(_.toSeq).toSeq)
    val streamed = serves(svc, "dictstream")
    val svcB = new CubeService(spark,
      Files.createTempDirectory("graft_svc_dictbatch").toString)
    svcB.createCube(cfg.copy(name = "dictbatch"), toDF(init ++ rest))
    assert(streamed == serves(svcB, "dictbatch"),
      "stream-maintained dictionary serves != from-scratch batch serves")
    // RESTART-mid-stream resume: one more file with yet-unseen keys,
    // restart from the checkpoint, and everything equals a from-scratch
    // recompute over the full corpus — nothing double-counted, the
    // dictionary extended durably across the restart boundary
    val extra = mkRows(150, 90)
    toDF(extra).coalesce(1).write.parquet(s"$deltaDir/d9")
    val q2 = svc.startAutoUpdate("dictstream", s"$deltaDir/d*",
      toDF(init).schema)
    q2.processAllAvailable()
    svc.stopAutoUpdate("dictstream")
    val streamed2 = serves(svc, "dictstream")
    val svcB2 = new CubeService(spark,
      Files.createTempDirectory("graft_svc_dictbatch2").toString)
    svcB2.createCube(cfg.copy(name = "dictbatch2"),
      toDF(init ++ rest ++ extra))
    assert(streamed2 == serves(svcB2, "dictbatch2"),
      "post-resume dictionary serves != recomputed batch serves")
    // a MANUAL fold while the stream is stopped composes — and must
    // CARRY the replay marker forward (the jmv discipline: publish
    // without a batch id preserves the previous head's marker), so a
    // later CHECKPOINT LOSS — full replay of every delta file from
    // batch 0 — stays a no-op on the streamed batches while the
    // manual delta is retained
    val manual = mkRows(80, 150)
    svc.updateAggregates("dictstream",
      toDF(manual).withColumn("_sign", lit(1)))
    val streamed3 = serves(svc, "dictstream")
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr)
      f.delete(); ()
    }
    rmr(new java.io.File(s"$dir/dictstream.checkpoint"))
    val q3 = svc.startAutoUpdate("dictstream", s"$deltaDir/d*",
      toDF(init).schema)
    q3.processAllAvailable()
    svc.stopAutoUpdate("dictstream")
    assert(serves(svc, "dictstream") == streamed3,
      "checkpoint-loss replay after a manual fold double-folded (the " +
        "marker was not carried forward) or lost the manual delta")
    val svcB3 = new CubeService(spark,
      Files.createTempDirectory("graft_svc_dictbatch3").toString)
    svcB3.createCube(cfg.copy(name = "dictbatch3"),
      toDF(init ++ rest ++ extra ++ manual))
    assert(streamed3 == serves(svcB3, "dictbatch3"),
      "stream+manual composition != from-scratch recompute")
    svc.deleteCube("dictstream")
    svcB3.deleteCube("dictbatch3")
    svcB.deleteCube("dictbatch")
    svcB2.deleteCube("dictbatch2")
  }

  test("serve built before a publish reads exactly the old version after it") {
    // the routing-layer one-consistent-version pin, on the SERVICE
    // path: a getAggregates frame planned against the pre-publish head
    // and executed after a fold must return the OLD version's answer
    // (the hard-link serve snapshot — never FILE_NOT_EXIST on the
    // renamed-away head, never a torn read); a fresh serve sees the
    // new head.
    import spark.implicits._
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_serverace").toString)
    val rows = (0 until 300).map(i =>
      (Seq("a", "b", "c")(i % 3), (i % 100).toDouble, i.toLong))
    def toDF(r: Seq[(String, Double, Long)]) =
      r.toDF("k", "v", "id")
    val cfg = CubeConfig("srace", "t", Seq(FieldDim("k", "k")),
      Seq(Measure("vs", "v")))
    svc.createCube(cfg, toDF(rows.filter(_._3 % 2 == 0)))
    val served = svc.getAggregates("srace", Seq("k"), sumOf = Seq("vs"))
      .orderBy(col("k"))
    served.queryExecution.executedPlan // planned, NOT executed
    def exact(r: Seq[(String, Double, Long)]) = r.groupBy(_._1)
      .map { case (k, xs) =>
        (k, xs.map(x => BigDecimal(x._2).setScale(2)).sum.toDouble) }
      .toSeq.sortBy(_._1)
    svc.updateAggregates("srace",
      toDF(rows.filter(_._3 % 2 == 1)).withColumn("_sign", lit(1L)))
    val after = served.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(after == exact(rows.filter(_._3 % 2 == 0)),
      s"stale serve not old-version-consistent: $after")
    val fresh = svc.getAggregates("srace", Seq("k"), sumOf = Seq("vs"))
      .orderBy(col("k"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(fresh == exact(rows), s"fresh serve not new-version: $fresh")
    svc.deleteCube("srace")
  }

  test("manual fold between auto-update runs survives the next publish") {
    val svc = new CubeService(spark,
      Files.createTempDirectory("graft_svc_basefold").toString)
    svc.createCube(cfg, df(Seq(("click", t0, 1.0), ("view", t0, 2.0))))
    def totals(): Map[String, (Double, Long)] =
      svc.getAggregates("svc", Seq("etype"), sumOf = Seq("v"))
        .collect().map(r => (r.getString(0),
          (r.getDouble(1), r.getLong(2)))).toMap
    val deltaDir = Files.createTempDirectory("graft_svc_basefold_d").toString
    df(Seq(("buy", t0, 7.0))).coalesce(1).write.parquet(s"$deltaDir/d0")
    val q = svc.startAutoUpdate("svc", s"$deltaDir/d*",
      df(Seq(("x", t0, 0.0))).schema)
    q.processAllAvailable()
    // a manual fold while the stream is ACTIVE must be refused — its
    // publish would race the micro-batch publishes
    intercept[IllegalArgumentException] {
      svc.updateAggregates("svc",
        df(Seq(("click", t0, 9.0))).withColumn("_sign", lit(1)))
    }
    svc.stopAutoUpdate("svc")
    // stopped: fold a delete + an insert manually (the scaladoc'd
    // sequence for deletes under an auto-update lifecycle)
    svc.updateAggregates("svc",
      df(Seq(("click", t0, 4.0))).withColumn("_sign", lit(1))
        .unionByName(df(Seq(("view", t0, 2.0))).withColumn("_sign", lit(-1))))
    assert(totals() == Map("click" -> (5.0, 2L), "buy" -> (7.0, 1L)))
    // restart the stream with one more file: the next publishes are
    // base ⊕ stream-state — the manual fold must still be there
    // (previously the stale base snapshot silently discarded it)
    df(Seq(("buy", t0, 3.0))).coalesce(1).write.parquet(s"$deltaDir/d1")
    val q2 = svc.startAutoUpdate("svc", s"$deltaDir/d*",
      df(Seq(("x", t0, 0.0))).schema)
    q2.processAllAvailable()
    svc.stopAutoUpdate("svc")
    assert(totals() == Map("click" -> (5.0, 2L), "buy" -> (10.0, 2L)),
      s"manual fold lost by the auto-update publish: ${totals()}")
    svc.deleteCube("svc")
  }

  test("streaming join auto-update: per-batch three-frame publish, restart resumes") {
    import spark.implicits._
    import java.nio.file.Paths
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_svc_jmvstream").toString
    val svc = new CubeService(spark, dir)
    val cfgJ = JoinCubeConfig(
      CubeConfig("jstream", "l_r",
        dims = Seq(FieldDim("cat", "cat")),
        measures = Seq(Measure("amt", "amount"))),
      leftKey = "lk", rightKey = "rk")
    val left = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("lk", "cat")
    val right0 = Seq((1L, 10.0), (2L, 20.0)).toDF("rk", "amount")
    svc.createJoinCube(cfgJ, left, right0)
    val docSchema = StructType(Seq(
      StructField("rk", LongType), StructField("amount", DoubleType)))
    def ins(rk: Long, amount: Double) =
      s"""{"operationType":"insert","fullDocument":{"rk":$rk,"amount":$amount}}"""
    def del(rk: Long, amount: Double) =
      s"""{"operationType":"delete","fullDocumentBeforeChange":{"rk":$rk,"amount":$amount}}"""
    val changes = s"$dir/changes"
    java.nio.file.Files.createDirectories(Paths.get(changes))
    java.nio.file.Files.writeString(Paths.get(changes, "c0.json"),
      ins(3L, 30.0) + "\n" + ins(1L, 5.0))
    val q = svc.startJoinAutoUpdate("jstream", changes, docSchema, "right")
    q.processAllAvailable()
    def totals(): Map[String, (Double, Long)] =
      svc.getJoinAggregates("jstream", Seq("cat"), sumOf = Seq("amt"))
        .collect().map(r => (r.getString(0),
          (r.getDouble(1), r.getLong(2)))).toMap
    // batch 0 folded: lk1 matches {10, 5}, lk2 {20}, lk3 {30}
    assert(totals() == Map("a" -> (45.0, 3L), "b" -> (20.0, 1L)))
    // a manual fold while the stream runs must be refused
    intercept[IllegalArgumentException] {
      svc.updateJoinAggregates("jstream",
        left.limit(0).withColumn("_sign", lit(1L)),
        Seq((3L, 1.0)).toDF("rk", "amount").withColumn("_sign", lit(1L)))
    }
    svc.stopJoinAutoUpdate("jstream")
    // restart mid-stream with two more change files: the checkpoint
    // resumes PAST batch 0 (no double-fold) and each new file publishes
    // its own manifest version
    java.nio.file.Files.writeString(Paths.get(changes, "c1.json"), del(1L, 10.0))
    java.nio.file.Files.writeString(Paths.get(changes, "c2.json"), ins(2L, 7.0))
    val q2 = svc.startJoinAutoUpdate("jstream", changes, docSchema, "right")
    q2.processAllAvailable()
    svc.stopJoinAutoUpdate("jstream")
    assert(totals() == Map("a" -> (35.0, 2L), "b" -> (27.0, 2L)),
      s"post-restart state wrong: ${totals()}")
    // all three recovered frames sit at ONE consistent version: the cube
    // equals a from-scratch cube over the persisted side states
    val jc = svc.loadJoinCube("jstream")
    val recomputed = CubeManager.create(
      cfgJ.cube.copy(name = "jcheck"),
      jc.left.drop("_mult").join(jc.right.drop("_mult"),
        col("lk") === col("rk")))
    val a = jc.cube.aggregates.orderBy("cat")
      .collect().map(_.toSeq).toSeq
    val b = recomputed.aggregates.orderBy("cat")
      .collect().map(_.toSeq).toSeq
    assert(a == b, s"cube frame inconsistent with side states: $a vs $b")
    // stopped: a manual fold composes with the streamed state
    svc.updateJoinAggregates("jstream",
      left.limit(0).withColumn("_sign", lit(1L)),
      Seq((3L, 1.0)).toDF("rk", "amount").withColumn("_sign", lit(1L)))
    assert(totals() == Map("a" -> (36.0, 3L), "b" -> (27.0, 2L)))
    // CHECKPOINT LOSS = full replay of every change file from batch 0.
    // The per-version recorded batch id (carried forward by the manual
    // fold above) makes the replay a no-op instead of a double-fold —
    // the exactly-once guard exercised end to end
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr); f.delete(); ()
    }
    rmr(new java.io.File(s"$dir/jstream.jmv.checkpoint"))
    val q3 = svc.startJoinAutoUpdate("jstream", changes, docSchema, "right")
    q3.processAllAvailable()
    svc.stopJoinAutoUpdate("jstream")
    assert(totals() == Map("a" -> (36.0, 3L), "b" -> (27.0, 2L)),
      s"checkpoint-loss replay double-folded: ${totals()}")
    svc.deleteJoinCube("jstream")
    assert(svc.listJoinCubes().isEmpty)
  }

  test("left-side streaming join maintenance; double-start refused") {
    import spark.implicits._
    import java.nio.file.Paths
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_svc_jmvleft").toString
    val svc = new CubeService(spark, dir)
    svc.createJoinCube(
      JoinCubeConfig(
        CubeConfig("jleft", "l_r",
          dims = Seq(FieldDim("cat", "cat")),
          measures = Seq(Measure("amt", "amount"))),
        leftKey = "lk", rightKey = "rk"),
      Seq((1L, "a"), (2L, "b")).toDF("lk", "cat"),
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("rk", "amount"))
    val docSchema = StructType(Seq(
      StructField("lk", LongType), StructField("cat", StringType)))
    val changes = s"$dir/changes"
    java.nio.file.Files.createDirectories(Paths.get(changes))
    java.nio.file.Files.writeString(Paths.get(changes, "c0.json"),
      """{"operationType":"insert","fullDocument":{"lk":3,"cat":"a"}}""" +
        "\n" +
        """{"operationType":"delete","fullDocumentBeforeChange":{"lk":2,"cat":"b"}}""")
    val q = svc.startJoinAutoUpdate("jleft", changes, docSchema, "left")
    // one maintainer per MV: a concurrent second stream is refused
    intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jleft", changes, docSchema, "left")
    }
    q.processAllAvailable()
    svc.stopJoinAutoUpdate("jleft")
    // order 2 deleted (its b-group empties and drops), order 3 arrived
    val totals = svc.getJoinAggregates("jleft", Seq("cat"), sumOf = Seq("amt"))
      .collect().map(r => (r.getString(0),
        (r.getDouble(1), r.getLong(2)))).toMap
    assert(totals == Map("a" -> (40.0, 2L)),
      s"left-side streamed state wrong: $totals")
    // mismatched document schema is refused up front
    intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jleft", changes,
        StructType(Seq(StructField("wrong", LongType))), "left")
    }
    svc.deleteJoinCube("jleft")
  }

  test("join auto-update refuses a changed stream identity; explicit re-home folds from batch 0") {
    import spark.implicits._
    import java.nio.file.Paths
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_svc_rehome").toString
    val svc = new CubeService(spark, dir)
    svc.createJoinCube(
      JoinCubeConfig(
        CubeConfig("jhome", "l_r",
          dims = Seq(FieldDim("cat", "cat")),
          measures = Seq(Measure("amt", "amount"))),
        leftKey = "lk", rightKey = "rk"),
      Seq((1L, "a"), (2L, "b")).toDF("lk", "cat"),
      Seq((1L, 10.0)).toDF("rk", "amount"))
    val docSchema = StructType(Seq(
      StructField("rk", LongType), StructField("amount", DoubleType)))
    def ins(rk: Long, amount: Double) =
      s"""{"operationType":"insert","fullDocument":{"rk":$rk,"amount":$amount}}"""
    def totals(): Map[String, (Double, Long)] =
      svc.getJoinAggregates("jhome", Seq("cat"), sumOf = Seq("amt"))
        .collect().map(r => (r.getString(0),
          (r.getDouble(1), r.getLong(2)))).toMap
    // stream from directory A: batches 0..1 fold and are recorded
    val dirA = s"$dir/changesA"
    java.nio.file.Files.createDirectories(Paths.get(dirA))
    java.nio.file.Files.writeString(Paths.get(dirA, "a0.json"), ins(1L, 5.0))
    java.nio.file.Files.writeString(Paths.get(dirA, "a1.json"), ins(2L, 20.0))
    val q = svc.startJoinAutoUpdate("jhome", dirA, docSchema, "right")
    q.processAllAvailable()
    svc.stopJoinAutoUpdate("jhome")
    assert(totals() == Map("a" -> (15.0, 2L), "b" -> (20.0, 1L)))
    // directory B is a DIFFERENT stream: its ids restart at 0, so
    // resuming the recorded guard against it would silently drop B's
    // first batches — the start must refuse, not skip
    val dirB = s"$dir/changesB"
    java.nio.file.Files.createDirectories(Paths.get(dirB))
    java.nio.file.Files.writeString(Paths.get(dirB, "b0.json"), ins(1L, 100.0))
    intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jhome", dirB, docSchema, "right")
    }
    // explicit re-home with the OLD checkpoint still on disk is also
    // refused (a file-source checkpoint is bound to its directory)
    intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jhome", dirB, docSchema, "right",
        resetBatchTracking = true)
    }
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr); f.delete(); ()
    }
    rmr(new java.io.File(s"$dir/jhome.jmv.checkpoint"))
    // checkpoint gone + explicit reset: B folds from its batch 0 — the
    // previously-recorded id 1 must NOT swallow b0 (the data-loss bug)
    val q2 = svc.startJoinAutoUpdate("jhome", dirB, docSchema, "right",
      resetBatchTracking = true)
    q2.processAllAvailable()
    svc.stopJoinAutoUpdate("jhome")
    assert(totals() == Map("a" -> (115.0, 3L), "b" -> (20.0, 1L)),
      s"re-homed stream's first batch was skipped: ${totals()}")
    // and the replay guard now tracks the NEW stream: a checkpoint-loss
    // replay of B is still a no-op
    rmr(new java.io.File(s"$dir/jhome.jmv.checkpoint"))
    val q3 = svc.startJoinAutoUpdate("jhome", dirB, docSchema, "right")
    q3.processAllAvailable()
    svc.stopJoinAutoUpdate("jhome")
    assert(totals() == Map("a" -> (115.0, 3L), "b" -> (20.0, 1L)),
      s"replay of the re-homed stream double-folded: ${totals()}")
    // a FAILED re-home attempt must not destroy the guard: the schema
    // check fails AFTER resetBatchTracking was passed, and a later
    // restart against the CURRENT stream must still recognize replays
    // (the old code reset the guard before validating, so the abandoned
    // re-home silently re-folded history)
    val badSchema = StructType(Seq(StructField("rk", LongType)))
    val dirC = s"$dir/changesC"
    java.nio.file.Files.createDirectories(Paths.get(dirC))
    java.nio.file.Files.writeString(Paths.get(dirC, "c0.json"), ins(9L, 1.0))
    intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jhome", dirC, badSchema, "right",
        resetBatchTracking = true)
    }
    rmr(new java.io.File(s"$dir/jhome.jmv.checkpoint"))
    val q4 = svc.startJoinAutoUpdate("jhome", dirB, docSchema, "right")
    q4.processAllAvailable()
    svc.stopJoinAutoUpdate("jhome")
    assert(totals() == Map("a" -> (115.0, 3L), "b" -> (20.0, 1L)),
      s"failed re-home destroyed the guard; B re-folded: ${totals()}")
    // a missing changeDir refuses BEFORE any guard mutation too
    intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jhome", s"$dir/nope", docSchema, "right",
        resetBatchTracking = true)
    }
    svc.deleteJoinCube("jhome")
  }

  test("MV with recorded batches but no stream identity refuses to resume") {
    import spark.implicits._
    import java.nio.file.Paths
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_svc_legacy").toString
    val svc = new CubeService(spark, dir)
    svc.createJoinCube(
      JoinCubeConfig(
        CubeConfig("jleg", "l_r",
          dims = Seq(FieldDim("cat", "cat")),
          measures = Seq(Measure("amt", "amount"))),
        leftKey = "lk", rightKey = "rk"),
      Seq((1L, "a")).toDF("lk", "cat"),
      Seq((1L, 10.0)).toDF("rk", "amount"))
    val docSchema = StructType(Seq(
      StructField("rk", LongType), StructField("amount", DoubleType)))
    val changes = s"$dir/changes"
    java.nio.file.Files.createDirectories(Paths.get(changes))
    java.nio.file.Files.writeString(Paths.get(changes, "c0.json"),
      """{"operationType":"insert","fullDocument":{"rk":1,"amount":5.0}}""")
    val q = svc.startJoinAutoUpdate("jleg", changes, docSchema, "right")
    q.processAllAvailable()
    svc.stopJoinAutoUpdate("jleg")
    // simulate a legacy MV: batches recorded but no identity on disk
    val v = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "jleg.jmv", "MANIFEST")).trim
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "jleg.jmv", s"v$v", "stream_id"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "jleg.jmv", s"v$v", "replay_guard"))
    // an unverifiable stream is as dangerous as a different one: with
    // a fresh checkpoint the recorded batch id would swallow the first
    // batches of whatever directory this start points at
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr); f.delete(); ()
    }
    rmr(new java.io.File(s"$dir/jleg.jmv.checkpoint"))
    val refused = intercept[IllegalArgumentException] {
      svc.startJoinAutoUpdate("jleg", changes, docSchema, "right")
    }
    assert(refused.getMessage.contains("unrecorded"), refused.getMessage)
    // explicit re-home recovers: folds from batch 0, replay-guarded anew
    val q2 = svc.startJoinAutoUpdate("jleg", changes, docSchema, "right",
      resetBatchTracking = true)
    q2.processAllAvailable()
    svc.stopJoinAutoUpdate("jleg")
    val amt = svc.getJoinAggregates("jleg", Seq("cat"), sumOf = Seq("amt"))
      .collect().head.getDouble(1)
    assert(amt == 20.0, s"re-homed legacy MV mis-folded: $amt")
    svc.deleteJoinCube("jleg")
  }

  test("streamed deletes into a sketch-carrying join MV: no latch, == from-scratch") {
    import spark.implicits._
    import java.nio.file.Paths
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_svc_jmvsk").toString
    val svc = new CubeService(spark, dir)
    val cfgJ = JoinCubeConfig(
      CubeConfig("jsks", "l_r",
        dims = Seq(FieldDim("cat", "cat")),
        measures = Seq(Measure("amt", "amount")),
        sketches = Seq(Measure("supps", "supp"))),
      leftKey = "lk", rightKey = "rk")
    val left = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("lk", "cat")
    val right0 = Seq((1L, 10L, 10.0), (1L, 11L, 4.0), (2L, 12L, 20.0),
      (3L, 11L, 7.0)).toDF("rk", "supp", "amount")
    svc.createJoinCube(cfgJ, left, right0)
    val docSchema = StructType(Seq(
      StructField("rk", LongType), StructField("supp", LongType),
      StructField("amount", DoubleType)))
    def ins(rk: Long, supp: Long, amount: Double) =
      s"""{"operationType":"insert","fullDocument":{"rk":$rk,"supp":$supp,"amount":$amount}}"""
    def del(rk: Long, supp: Long, amount: Double) =
      s"""{"operationType":"delete","fullDocumentBeforeChange":{"rk":$rk,"supp":$supp,"amount":$amount}}"""
    val changes = s"$dir/changes"
    java.nio.file.Files.createDirectories(Paths.get(changes))
    // batch 0: insert a new supplier for cat a; batch 1: DELETE cat a's
    // only s11 rows (both lines) — the distinct count must drop
    java.nio.file.Files.writeString(Paths.get(changes, "c0.json"),
      ins(3L, 14L, 2.0))
    java.nio.file.Files.writeString(Paths.get(changes, "c1.json"),
      del(1L, 11L, 4.0) + "\n" + del(3L, 11L, 7.0))
    val q = svc.startJoinAutoUpdate("jsks", changes, docSchema, "right")
    q.processAllAvailable()
    svc.stopJoinAutoUpdate("jsks")
    // the serve is the no-latch proof (a latched cube refuses distinctOf)
    val served = svc.getJoinAggregates("jsks", Seq("cat"),
        distinctOf = Seq("supps"), sumOf = Seq("amt"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_distinct_supps"), r.getAs[Double]("sum_amt"))).toMap
    // from-scratch twin over the final state
    val finalRight = Seq((1L, 10L, 10.0), (2L, 12L, 20.0), (3L, 14L, 2.0))
      .toDF("rk", "supp", "amount")
    val scratch = JoinCubeManager.create(cfgJ, left, finalRight)
    val want = CubeManager.query(scratch.cube, Seq("cat"),
        distinctOf = Seq("supps"), sumOf = Seq("amt"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_distinct_supps"), r.getAs[Double]("sum_amt"))).toMap
    assert(served == want, s"streamed $served != from-scratch $want")
    // exact expectations, belt and braces: a={10,14} ⇒ 2, b={12} ⇒ 1
    assert(served("a")._1 == 2L && served("b")._1 == 1L, served.toString)
    svc.deleteJoinCube("jsks")
  }

  test("DICTIONARY join MV maintained by the change stream == from-scratch") {
    import spark.implicits._
    import java.nio.file.Paths
    import org.apache.spark.sql.types.{StringType, LongType, StructField, StructType}
    // string worker ids in a join MV, maintained by startJoinAutoUpdate:
    // each micro-batch's delta-join fold extends the dictionary with the
    // batch's unseen keys and the versioned publish persists it — the
    // dict × jmv × stream composition
    val dir = Files.createTempDirectory("graft_svc_jmvdict").toString
    val svc = new CubeService(spark, dir)
    val cfgJ = JoinCubeConfig(
      CubeConfig("jdstr", "l_r",
        dims = Seq(FieldDim("cat", "cat")),
        measures = Nil,
        dictBitmaps = Seq(Measure("w", "worker"))),
      leftKey = "lk", rightKey = "rk")
    val left = Seq((1L, "a"), (2L, "b")).toDF("lk", "cat")
    val right0 = Seq((1L, "alice"), (2L, "alice"), (2L, "bob"))
      .toDF("rk", "worker")
    svc.createJoinCube(cfgJ, left, right0)
    val docSchema = StructType(Seq(
      StructField("rk", LongType), StructField("worker", StringType)))
    def ins(rk: Long, w: String) =
      s"""{"operationType":"insert","fullDocument":{"rk":$rk,"worker":"$w"}}"""
    val changes = s"$dir/changes"
    java.nio.file.Files.createDirectories(Paths.get(changes))
    // batch 0 carries an UNSEEN key; batch 1 re-inserts a known one
    // (id reuse) plus another unseen key
    java.nio.file.Files.writeString(Paths.get(changes, "c0.json"),
      ins(1L, "carol"))
    java.nio.file.Files.writeString(Paths.get(changes, "c1.json"),
      ins(2L, "carol") + "\n" + ins(1L, "dave"))
    val q = svc.startJoinAutoUpdate("jdstr", changes, docSchema, "right")
    q.processAllAvailable()
    svc.stopJoinAutoUpdate("jdstr")
    def counts(s: CubeService) =
      s.getJoinAggregates("jdstr", Seq("cat"), exactDistinctOf = Seq("w"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n_exact_w")).toMap
    // a = {alice, carol, dave} = 3; b = {alice, bob, carol} = 3
    assert(counts(svc) == Map("a" -> 3L, "b" -> 3L), counts(svc).toString)
    // from-scratch twin + restart reload
    val scratch = JoinCubeManager.create(cfgJ, left,
      right0.unionByName(Seq((1L, "carol"), (2L, "carol"), (1L, "dave"))
        .toDF("rk", "worker")))
    val want = CubeManager.query(scratch.cube, Seq("cat"),
        exactDistinctOf = Seq("w"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_exact_w"))
      .toMap
    assert(counts(svc) == want,
      s"streamed dict join MV ${counts(svc)} != from-scratch $want")
    assert(counts(new CubeService(spark, dir)) == want,
      "restart must reload the stream-extended dictionary")
    svc.deleteJoinCube("jdstr")
  }

  test("getJoinRolling serves trailing extremes from a join MV's daily partials") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_svc_jroll").toString
    val svc = new CubeService(spark, dir)
    val cfgJ = JoinCubeConfig(
      CubeConfig("jroll", "l_r",
        dims = Seq(TimeDim("day", "ts", "day")),
        measures = Seq(Measure("amt", "amount")),
        extremes = Seq(Measure("ax", "amount"))),
      leftKey = "lk", rightKey = "rk")
    val left = Seq((1L, "a"), (2L, "b")).toDF("lk", "cat")
    def t(d: Int) = new Timestamp(86400000L * (19700 + d))
    val right = Seq((1L, t(0), 5.0), (1L, t(1), 9.0), (2L, t(1), 1.0),
      (2L, t(2), 7.0)).toDF("rk", "ts", "amount")
    svc.createJoinCube(cfgJ, left, right)
    val rolled = svc.getJoinRolling("jroll", "day", windowDays = 2,
        minOf = Seq("ax"), maxOf = Seq("ax"))
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Double]("min_ax"), r.getAs[Double]("max_ax"))).toMap
    // trailing-2-day windows over the joined rows:
    // d0: {5} → (5,5); d1: {5,9,1} → (1,9); d2: {9,1,7} → (1,9)
    assert(rolled == Map(19700L -> (5.0, 5.0), 19701L -> (1.0, 9.0),
      19702L -> (1.0, 9.0)), rolled.toString)
    svc.deleteJoinCube("jroll")
  }

  test("join MV time travel: retained window slides, as-of serves history") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_svc_tt").toString
    // retention below the deferred-GC floor is a construction error
    intercept[IllegalArgumentException] {
      new CubeService(spark, dir, retainJmvVersions = 1)
    }
    val svc = new CubeService(spark, dir, retainJmvVersions = 3)
    val cfgJ = JoinCubeConfig(
      CubeConfig("tt", "l_r",
        dims = Seq(FieldDim("cat", "cat")),
        measures = Seq(Measure("amt", "amount"))),
      leftKey = "lk", rightKey = "rk")
    val left = Seq((1L, "a"), (2L, "b")).toDF("lk", "cat")
    def rdelta(rows: Seq[(Long, Double)], sign: Long) =
      rows.toDF("rk", "amount").withColumn("_sign", lit(sign))
    svc.createJoinCube(cfgJ, left,
      Seq((1L, 10.0), (2L, 20.0)).toDF("rk", "amount"))          // v0
    svc.updateJoinAggregates("tt", left.limit(0).withColumn("_sign",
      lit(1L)), rdelta(Seq((1L, 5.0)), 1L))                      // v1
    svc.updateJoinAggregates("tt", left.limit(0).withColumn("_sign",
      lit(1L)), rdelta(Seq((2L, 20.0)), -1L))                    // v2
    assert(svc.currentJoinCubeVersion("tt") == 2)
    assert(svc.listJoinCubeVersions("tt") == Seq(0, 1, 2))
    def at(v: Int): Map[String, Double] =
      svc.getJoinAggregatesAsOf("tt", v, Seq("cat"), sumOf = Seq("amt"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // every retained version is the exact historical fixpoint
    assert(at(0) == Map("a" -> 10.0, "b" -> 20.0))
    assert(at(1) == Map("a" -> 15.0, "b" -> 20.0))
    assert(at(2) == Map("a" -> 15.0))
    // a fourth publish slides the window: v0 de-advertised, v1..v3
    // retained — but v0's FILES survive this publish as the deferred-GC
    // grace copy (an as-of(v0) read in flight when v3 published must
    // not lose its files), refused for NEW reads
    svc.updateJoinAggregates("tt", left.limit(0).withColumn("_sign",
      lit(1L)), rdelta(Seq((1L, 1.0)), 1L))                      // v3
    assert(svc.listJoinCubeVersions("tt") == Seq(1, 2, 3))
    assert(at(1) == Map("a" -> 15.0, "b" -> 20.0)) // history still exact
    val refused = intercept[IllegalArgumentException] { at(0) }
    assert(refused.getMessage.contains("not retained"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "tt.jmv", "v0")), "grace copy deleted")
    // as-of never moves the head
    assert(svc.currentJoinCubeVersion("tt") == 3)
    // the NEXT publish finally deletes the grace copy (one-publish
    // grace, not unbounded accumulation)
    svc.updateJoinAggregates("tt", left.limit(0).withColumn("_sign",
      lit(1L)), rdelta(Seq((1L, 1.0)), 1L))                      // v4
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "tt.jmv", "v0")), "grace not GC'd")
    assert(svc.listJoinCubeVersions("tt") == Seq(2, 3, 4))
    svc.deleteJoinCube("tt")
  }

  test("single-table cube time travel: retained window slides, as-of serves history") {
    val dir = Files.createTempDirectory("graft_svc_ctt").toString
    intercept[IllegalArgumentException] {
      new CubeService(spark, dir, retainCubeVersions = 1)
    }
    val svc = new CubeService(spark, dir, retainCubeVersions = 3)
    svc.createCube(cfg, df(Seq(("click", t0, 1.0), ("view", t0, 2.0)))) // v0
    assert(svc.currentCubeVersion("svc") == 0)
    assert(svc.listCubeVersions("svc") == Seq(0))
    svc.updateAggregates("svc",
      df(Seq(("click", t0, 4.0))).withColumn("_sign", lit(1)))          // v1
    svc.updateAggregates("svc",
      df(Seq(("view", t0, 2.0))).withColumn("_sign", lit(-1)))          // v2
    assert(svc.currentCubeVersion("svc") == 2)
    assert(svc.listCubeVersions("svc") == Seq(0, 1, 2))
    def at(v: Int): Map[String, Double] =
      svc.getAggregatesAsOf("svc", v, Seq("etype"), sumOf = Seq("v"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // every retained version is the exact published fixpoint
    assert(at(0) == Map("click" -> 1.0, "view" -> 2.0))
    assert(at(1) == Map("click" -> 5.0, "view" -> 2.0))
    assert(at(2) == Map("click" -> 5.0))
    // as-of(head) == getAggregates
    assert(at(2) == svc.getAggregates("svc", Seq("etype"), sumOf = Seq("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap)
    // a fourth publish slides the window: v0 de-advertised but its
    // files survive one publish (deferred-GC grace), then disappear
    svc.updateAggregates("svc",
      df(Seq(("click", t0, 1.0))).withColumn("_sign", lit(1)))          // v3
    assert(svc.listCubeVersions("svc") == Seq(1, 2, 3))
    assert(at(1) == Map("click" -> 5.0, "view" -> 2.0))
    val refused = intercept[IllegalArgumentException] { at(0) }
    assert(refused.getMessage.contains("not retained"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "svc.versions", "v0")), "grace deleted")
    svc.updateAggregates("svc",
      df(Seq(("click", t0, 1.0))).withColumn("_sign", lit(1)))          // v4
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "svc.versions", "v0")), "grace not GC'd")
    assert(svc.listCubeVersions("svc") == Seq(2, 3, 4))
    // as-of never moves the head
    assert(svc.currentCubeVersion("svc") == 4)
    // re-creating the cube resets history
    svc.createCube(cfg, df(Seq(("click", t0, 9.0))))
    assert(svc.currentCubeVersion("svc") == 0)
    assert(svc.listCubeVersions("svc") == Seq(0))
    svc.deleteCube("svc")
  }

  test("version diff: full-outer alignment, zero-fill, signed-delta arithmetic") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_svc_diff").toString
    val svc = new CubeService(spark, dir, retainCubeVersions = 3)
    svc.createCube(cfg, df(Seq(("click", t0, 1.0), ("view", t0, 2.0)))) // v0
    svc.updateAggregates("svc",
      df(Seq(("click", t0, 4.0))).withColumn("_sign", lit(1)))          // v1
    svc.updateAggregates("svc",
      df(Seq(("view", t0, 2.0))).withColumn("_sign", lit(-1)))          // v2
    val d = svc.diffAggregates("svc", 0, 2, Seq("etype"), sumOf = Seq("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // click grew by the insert fold; view was EMPTIED by the delete
    // fold — its v2 cell is gone, so the diff must zero-fill the 'to'
    // side and report −itself
    assert(d("click") == ((1.0, 5.0, 4.0, 1L, 2L, 1L)), d.toString)
    assert(d("view") == ((2.0, 0.0, -2.0, 1L, 0L, -1L)), d.toString)
    // a created-by-the-folds group diffs as +itself: v1 → v2 for view
    val d12 = svc.diffAggregates("svc", 1, 2, Seq("etype"), sumOf = Seq("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(d12 == Map("click" -> 0.0, "view" -> -2.0), d12.toString)
    // out-of-window versions refuse through the as-of gate
    val refused = intercept[IllegalArgumentException] {
      svc.diffAggregates("svc", 0, 9, Seq("etype"), sumOf = Seq("v"))
    }
    assert(refused.getMessage.contains("not retained"))
    svc.deleteCube("svc")

    // join-MV twin: one right-side fold, diff v0 → v1
    val left = Seq((1L, "a"), (2L, "b")).toDF("lk", "cat")
    def rdelta(rows: Seq[(Long, Double)], sign: Long) =
      rows.toDF("rk", "amount").withColumn("_sign", lit(sign))
    svc.createJoinCube(
      JoinCubeConfig(
        CubeConfig("dtt", "l_r", dims = Seq(FieldDim("cat", "cat")),
          measures = Seq(Measure("amt", "amount"))),
        leftKey = "lk", rightKey = "rk"),
      left, Seq((1L, 10.0), (2L, 20.0)).toDF("rk", "amount"))      // v0
    svc.updateJoinAggregates("dtt",
      left.limit(0).withColumn("_sign", lit(1L)),
      rdelta(Seq((1L, 5.0)), 1L))                                   // v1
    val jd = svc.diffJoinAggregates("dtt", 0, 1, Seq("cat"),
        sumOf = Seq("amt"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(jd == Map("a" -> ((10.0, 15.0, 5.0)),
      "b" -> ((20.0, 20.0, 0.0))), jd.toString)
    svc.deleteJoinCube("dtt")
  }

  test("cube version archive recovery: both crash windows restore the invariant") {
    val dir = Files.createTempDirectory("graft_svc_cttrec").toString
    val svc = new CubeService(spark, dir, retainCubeVersions = 3)
    svc.createCube(cfg, df(Seq(("click", t0, 1.0))))                    // v0
    svc.updateAggregates("svc",
      df(Seq(("click", t0, 4.0))).withColumn("_sign", lit(1)))          // v1
    val root = java.nio.file.Paths.get(dir, "svc.versions")
    // crash window C: archive moved, manifest bump lost — v<manifest>
    // exists in the archive. Recovery = re-bump; as-of(head) must keep
    // serving the HEAD parquet, not the archived predecessor.
    java.nio.file.Files.writeString(root.resolve("MANIFEST"), "0")
    val fresh = new CubeService(spark, dir, retainCubeVersions = 3)
    assert(fresh.currentCubeVersion("svc") == 1)
    assert(fresh.getAggregatesAsOf("svc", 1, Seq("etype"), sumOf = Seq("v"))
      .collect().map(_.getDouble(1)).toSeq == Seq(5.0))
    // crash window B: head swapped in, previous head still aside at
    // svc.old, manifest not bumped. Recovery = archive the aside as
    // v<manifest> and bump.
    java.nio.file.Files.move(root.resolve("v0"),
      java.nio.file.Paths.get(dir, "svc.old"))
    java.nio.file.Files.writeString(root.resolve("MANIFEST"), "0")
    val fresh2 = new CubeService(spark, dir, retainCubeVersions = 3)
    assert(fresh2.currentCubeVersion("svc") == 1)
    assert(fresh2.listCubeVersions("svc") == Seq(0, 1))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "svc.old")))
    assert(fresh2.getAggregatesAsOf("svc", 0, Seq("etype"), sumOf = Seq("v"))
      .collect().map(_.getDouble(1)).toSeq == Seq(1.0))
    fresh2.deleteCube("svc")
  }

  test("publish-crash recovery: name.old restored when the publish dir is missing") {
    val dir = Files.createTempDirectory("graft_svc_crash").toString
    val svc = new CubeService(spark, dir)
    svc.createCube(cfg, df(Seq(("click", t0, 3.0), ("view", t0, 2.0))))
    // simulate dying between updateAggregates' two renames: the
    // published dir is aside at name.old, nothing at name
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, "svc"),
      java.nio.file.Paths.get(dir, "svc.old"))
    val fresh = new CubeService(spark, dir) // new registry, cold load
    val agg = fresh.getAggregates("svc", Seq("etype"), sumOf = Seq("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(agg == Map("click" -> 3.0, "view" -> 2.0))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "svc")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "svc.old")))
  }
}

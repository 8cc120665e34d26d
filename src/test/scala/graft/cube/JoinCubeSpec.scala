package graft.cube

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Join-MV maintenance invariant, for the two-relation
  * [[ChainCubeManager]] MV the join verbs build: incrementally folded
  * join cube == cube recomputed from the final state of both sides,
  * for randomized interleavings of inserts/deletes on either side. */
class JoinCubeSpec extends AnyFunSuite with graft.LiveSession {

  private val cfg = JoinCubeConfig(
    CubeConfig("jt", "mem",
      dims = Seq(FieldDim("prio", "o_prio")),
      measures = Seq(Measure("rev", "l_price"))),
    leftKey = "o_key", rightKey = "l_key")

  private def ordersDf(rows: Seq[(Long, String)]): DataFrame = {
    import testImplicits._
    rows.toDF("o_key", "o_prio")
  }
  private def linesDf(rows: Seq[(Long, Double)]): DataFrame = {
    import testImplicits._
    rows.toDF("l_key", "l_price")
  }

  // the join verbs' shape on the engine: side 0 is left, 1 is right
  private def create(c: JoinCubeConfig, left: DataFrame,
      right: DataFrame): ChainCube =
    ChainCubeManager.create(c.chain, Seq(left, right))
  private def fold(jc: ChainCube, leftDelta: DataFrame,
      rightDelta: DataFrame): ChainCube =
    ChainCubeManager.applyDeltas(jc, Seq(0 -> leftDelta, 1 -> rightDelta))

  private def contents(c: Cube): Set[(String, BigDecimal, Long)] =
    c.live.collect().map { r =>
      (r.getAs[String]("prio"),
        BigDecimal(r.getAs[java.math.BigDecimal]("rev")),
        r.getAs[Long]("_count"))
    }.toSet

  test("fold == recompute under randomized two-sided delta interleavings") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 10) {
      val nOrd = 8 + rnd.nextInt(8)
      val allOrd = (0 until nOrd).map(i =>
        (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
      val allLin = (0 until 40 + rnd.nextInt(40)).map(_ =>
        (rnd.nextInt(nOrd + 4).toLong, // some lines point at absent orders
          math.round(rnd.nextDouble() * 10000) / 100.0))
      val (ordBase, ordLate) = allOrd.splitAt(allOrd.size / 2)
      val (linBase, linLate) = allLin.splitAt(allLin.size / 2)
      val ordDel = ordBase.filter(_ => rnd.nextBoolean())
      val linDel = linBase.filter(_ => rnd.nextBoolean())

      var jc = create(cfg,
        ordersDf(ordBase), linesDf(linBase))
      // batch 1: late inserts on BOTH sides at once (exercises ΔL⋈ΔR)
      jc = fold(jc,
        ordersDf(ordLate).withColumn("_sign", lit(1L)),
        linesDf(linLate).withColumn("_sign", lit(1L)))
      // batch 2: deletes on both sides
      jc = fold(jc,
        ordersDf(ordDel).withColumn("_sign", lit(-1L)),
        linesDf(linDel).withColumn("_sign", lit(-1L)))

      val finalOrd = ordBase.diff(ordDel) ++ ordLate
      val finalLin = linBase.diff(linDel) ++ linLate
      val expected = CubeManager.create(cfg.cube,
        ordersDf(finalOrd).join(linesDf(finalLin),
          col("o_key") === col("l_key")))
      assert(contents(jc.cube) == contents(expected), s"trial $trial diverged")
    }
  }

  test("one-sided fast path == general fold with an empty other side") {
    val rnd = new scala.util.Random(777)
    val ordBase = (0L to 9L).map(i =>
      (i, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
    val linBase = (0 until 50).map(_ =>
      (rnd.nextInt(12).toLong, math.round(rnd.nextDouble() * 10000) / 100.0))
    val linIns = (0 until 20).map(_ =>
      (rnd.nextInt(12).toLong, math.round(rnd.nextDouble() * 10000) / 100.0))
    val linDel = linBase.filter(_ => rnd.nextBoolean())
    val ordIns = Seq((10L, "HIGH"), (11L, "LOW"))

    def signed(df: DataFrame, sign: Long) =
      df.withColumn("_sign", lit(sign))
    val emptyOrd = ordersDf(Nil).withColumn("_sign", lit(1L))
    val emptyLin = linesDf(Nil).withColumn("_sign", lit(1L))

    // general path: empty other-side delta through the three-term rule
    var general = create(cfg, ordersDf(ordBase), linesDf(linBase))
    general = fold(general, emptyOrd,
      signed(linesDf(linIns), 1L))
    general = fold(general, emptyOrd,
      signed(linesDf(linDel), -1L))
    general = fold(general,
      signed(ordersDf(ordIns), 1L), emptyLin)

    // fast path: same batches, one-sided
    var fast = create(cfg, ordersDf(ordBase), linesDf(linBase))
    fast = ChainCubeManager.applyDeltas(fast,
      Seq(1 -> signed(linesDf(linIns), 1L)))
    fast = ChainCubeManager.applyDeltas(fast,
      Seq(1 -> signed(linesDf(linDel), -1L)))
    fast = ChainCubeManager.applyDeltas(fast,
      Seq(0 -> signed(ordersDf(ordIns), 1L)))

    assert(contents(fast.cube) == contents(general.cube),
      "one-sided fold diverged from the general rule")
    def state(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(state(fast.states(0)) == state(general.states(0)),
      "left states diverged")
    assert(state(fast.states(1)) == state(general.states(1)),
      "right states diverged")
  }

  test("deleting the last line of an order empties its group") {
    val jc0 = create(cfg,
      ordersDf(Seq((1L, "HIGH"))), linesDf(Seq((1L, 5.0))))
    val jc1 = fold(jc0,
      ordersDf(Nil).withColumn("_sign", lit(1L)),
      linesDf(Seq((1L, 5.0))).withColumn("_sign", lit(-1L)))
    assert(jc1.cube.live.count() == 0)
    // and the side state no longer matches future deltas for that key
    val jc2 = fold(jc1,
      ordersDf(Nil).withColumn("_sign", lit(1L)),
      linesDf(Seq((1L, 3.0))).withColumn("_sign", lit(1L)))
    assert(contents(jc2.cube) == Set(("HIGH", BigDecimal("3.00"), 1L)),
      "re-insert after delete must rebuild from the order state alone")
  }

  test("streaming two-sided delta replay == recompute (R2 steady state)") {
    import testImplicits._
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft_jmv_src")
    // one tagged delta log carries both sides (side, key, prio, price,
    // _sign) — micro-batches may interleave sides arbitrarily
    val b0 = Seq(("o", 1L, "HIGH", 0.0, 1L), ("o", 2L, "LOW", 0.0, 1L),
      ("l", 1L, "", 5.0, 1L))
    val b1 = Seq(("l", 2L, "", 3.0, 1L), ("l", 1L, "", 2.0, 1L),
      ("o", 3L, "MED", 0.0, 1L))
    val b2 = Seq(("l", 1L, "", 5.0, -1L), ("l", 3L, "", 7.0, 1L))
    def toDf(rows: Seq[(String, Long, String, Double, Long)]) =
      rows.toDF("side", "key", "prio", "price", "_sign")
    toDf(b0).coalesce(1).write.parquet(s"$dir/f0")
    var jc = create(cfg, ordersDf(Nil), linesDf(Nil))
    val q = spark.readStream.schema(toDf(b0).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .writeStream
      .option("checkpointLocation", tmp("graft_jmv_ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        jc = ChainCubeManager.checkpoint(fold(jc,
          b.filter(col("side") === "o")
            .select(col("key").as("o_key"), col("prio").as("o_prio"),
              col("_sign")),
          b.filter(col("side") === "l")
            .select(col("key").as("l_key"), col("price").as("l_price"),
              col("_sign"))))
        ()
      }
      .start()
    q.processAllAvailable()
    toDf(b1).coalesce(1).write.parquet(s"$dir/f1")
    q.processAllAvailable()
    toDf(b2).coalesce(1).write.parquet(s"$dir/f2")
    q.processAllAvailable()
    q.stop()
    // final state: orders {1 HIGH, 2 LOW, 3 MED};
    // lines {1→2.0, 2→3.0, 3→7.0} (1→5.0 deleted)
    val expected = CubeManager.create(cfg.cube,
      ordersDf(Seq((1L, "HIGH"), (2L, "LOW"), (3L, "MED")))
        .join(linesDf(Seq((1L, 2.0), (2L, 3.0), (3L, 7.0))),
          col("o_key") === col("l_key")))
    assert(contents(jc.cube) == contents(expected),
      "stream-maintained join MV diverges from recompute")
  }

  test("service verbs: versioned persistence survives a service restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jmv_svc").toString
    val svc = new CubeService(spark, dir)
    svc.createJoinCube(cfg,
      ordersDf(Seq((1L, "HIGH"), (2L, "LOW"))),
      linesDf(Seq((1L, 5.0), (2L, 3.0))))
    svc.updateJoinAggregates("jt",
      ordersDf(Seq((3L, "MED"))).withColumn("_sign", lit(1L)),
      linesDf(Seq((3L, 7.0), (1L, 5.0)))
        .withColumn("_sign", when(col("l_price") === 5.0, -1L).otherwise(1L)))
    // a FRESH service over the same root must read the manifest-current
    // version — the restart path, no in-memory state
    val svc2 = new CubeService(spark, dir)
    val served = svc2.getJoinAggregates("jt", Seq("prio"), sumOf = Seq("rev"))
      .collect().map(r => (r.getAs[String]("prio"),
        r.getAs[Double]("sum_rev"), r.getAs[Long]("n_rows"))).toSet
    // final: 1 HIGH (line deleted → group gone), 2 LOW 3.0, 3 MED 7.0
    assert(served == Set(("LOW", 3.0, 1L), ("MED", 7.0, 1L)),
      s"restart serve wrong: $served")
    // the fold state also survived: another update applies cleanly
    svc2.updateJoinAggregates("jt",
      ordersDf(Nil).withColumn("_sign", lit(1L)),
      linesDf(Seq((1L, 2.0))).withColumn("_sign", lit(1L)))
    val after = svc2.getJoinAggregates("jt", Seq("prio"), sumOf = Seq("rev"))
      .collect().map(r => (r.getAs[String]("prio"),
        r.getAs[Double]("sum_rev"))).toSet
    assert(after == Set(("HIGH", 2.0), ("LOW", 3.0), ("MED", 7.0)),
      s"post-restart fold wrong: $after")
    svc2.deleteJoinCube("jt")
    assert(!new java.io.File(s"$dir/jt.jmv").exists())
  }

  test("a version in the binary join layout loads, folds and serves") {
    // the layout join MVs were published in before they became
    // two-relation chain MVs: MANIFEST, the cube, `join_keys` and the
    // compacted side states as `lstate`/`rstate`, written by hand here
    val dir = java.nio.file.Files.createTempDirectory("graft_jmv_layout")
    val v0 = dir.resolve("jl.jmv").resolve("v0")
    java.nio.file.Files.createDirectories(v0)
    val cfgL = cfg.copy(cube = cfg.cube.copy(name = "jl"))
    val ord0 = Seq((1L, "HIGH"), (2L, "LOW"), (3L, "MED"))
    val lin0 = Seq((1L, 5.0), (1L, 5.0), (2L, 3.0), (4L, 9.0))
    CubeManager.save(CubeManager.create(cfgL.cube,
      ordersDf(ord0).join(linesDf(lin0), col("o_key") === col("l_key"))),
      v0.toString)
    java.nio.file.Files.writeString(v0.resolve("join_keys"),
      """{"leftKey":"o_key","rightKey":"l_key"}""")
    java.nio.file.Files.writeString(v0.resolve("batch_id"), "-1")
    def multiset(df: DataFrame) =
      df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as("_mult"))
    multiset(ordersDf(ord0)).write.parquet(v0.resolve("lstate").toString)
    multiset(linesDf(lin0)).write.parquet(v0.resolve("rstate").toString)
    java.nio.file.Files.writeString(dir.resolve("jl.jmv").resolve("MANIFEST"),
      "0")
    val svc = new CubeService(spark, dir.toString)
    def served(v: Option[Int]) = (v match {
      case Some(k) => svc.getJoinAggregatesAsOf("jl", k, Seq("prio"),
        sumOf = Seq("rev"))
      case None => svc.getJoinAggregates("jl", Seq("prio"),
        sumOf = Seq("rev"))
    }).collect().map(r => (r.getAs[String]("prio"),
      r.getAs[Double]("sum_rev"), r.getAs[Long]("n_rows"))).toSet
    def recomputed(ord: Seq[(Long, String)], lin: Seq[(Long, Double)]) =
      CubeManager.query(create(cfgL, ordersDf(ord), linesDf(lin)).cube,
        Seq("prio"), sumOf = Seq("rev")).collect()
        .map(r => (r.getAs[String]("prio"), r.getAs[Double]("sum_rev"),
          r.getAs[Long]("n_rows"))).toSet
    assert(served(None) == recomputed(ord0, lin0), served(None))
    assert(svc.loadJoinCube("jl").config.edges == Seq("o_key" -> "l_key"))
    // a two-sided fold over the loaded states publishes v1 in the chain
    // layout; v0 stays readable in its own
    svc.updateJoinAggregates("jl",
      ordersDf(Seq((4L, "LOW"), (3L, "MED"))).withColumn("_sign",
        when(col("o_key") === 3L, -1L).otherwise(1L)),
      linesDf(Seq((1L, 5.0), (3L, 2.0), (2L, 1.0))).withColumn("_sign",
        when(col("l_key") === 1L, -1L).otherwise(1L)))
    val ord1 = Seq((1L, "HIGH"), (2L, "LOW"), (4L, "LOW"))
    val lin1 = Seq((1L, 5.0), (2L, 3.0), (4L, 9.0), (3L, 2.0), (2L, 1.0))
    assert(served(None) == recomputed(ord1, lin1), served(None))
    val v1 = dir.resolve("jl.jmv").resolve("v1")
    assert(Seq("chain_edges", "state0", "state1")
      .forall(f => v1.resolve(f).toFile.exists()))
    assert(svc.listJoinCubeVersions("jl") == Seq(0, 1))
    assert(served(Some(0)) == recomputed(ord0, lin0), served(Some(0)))
    svc.deleteJoinCube("jl")
  }

  test("sketch/extreme measures in a join MV are delete-capable (no latch)") {
    import testImplicits._
    val skCfg = JoinCubeConfig(
      CubeConfig("jsk_del", "mem",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Seq(Measure("rev", "l_price")),
        sketches = Seq(Measure("supps", "l_supp")),
        extremes = Seq(Measure("px", "l_price"))),
      leftKey = "o_key", rightKey = "l_key")
    def lines(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("l_key", "l_supp", "l_price")
    val ords = Seq((1L, "HIGH"), (2L, "MED"), (3L, "HIGH"))
    val base = Seq((1L, 10L, 5.0), (1L, 11L, 9.0), (2L, 10L, 2.0),
      (3L, 12L, 7.0), (3L, 13L, 1.0))
    var jc = create(skCfg, ordersDf(ords), lines(base))
    // delete HIGH's extreme-holding and distinct-holding lines (the
    // supplier 11 line is 1's only s11, the 1.0 line is HIGH's min)
    val dels = Seq((1L, 11L, 9.0), (3L, 13L, 1.0))
    jc = fold(jc,
      ordersDf(ords).limit(0).withColumn("_sign", lit(1L)),
      lines(dels).withColumn("_sign", lit(-1L)))
    assert(!jc.cube.hasDeletes,
      "join-MV delete fold latched despite the reconstructible source")
    // folded == from-scratch over the surviving joined state, for the
    // non-invertible families
    val scratch = create(skCfg, ordersDf(ords),
      lines(base.diff(dels)))
    def serve(c: Cube) = CubeManager.query(c, Seq("prio"),
        distinctOf = Seq("supps"), minOf = Seq("px"), maxOf = Seq("px"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_distinct_supps"),
        r.getAs[Double]("min_px"), r.getAs[Double]("max_px"))).toSet
    assert(serve(jc.cube) == serve(scratch.cube),
      s"folded ${serve(jc.cube)} != scratch ${serve(scratch.cube)}")
    // a LEFT-side delete recomputes through the one-sided path too:
    // dropping order 3 removes HIGH's 7.0 line from the join
    jc = ChainCubeManager.applyDeltas(jc,
      Seq(0 -> ordersDf(Seq((3L, "HIGH"))).withColumn("_sign", lit(-1L))))
    assert(!jc.cube.hasDeletes)
    val scratch2 = create(skCfg,
      ordersDf(ords.filterNot(_._1 == 3L)), lines(base.diff(dels)))
    assert(serve(jc.cube) == serve(scratch2.cube),
      s"left-delete ${serve(jc.cube)} != scratch ${serve(scratch2.cube)}")
    // over-deletion tombstones (negative nets) are EXCLUDED from the
    // reconstructed source: deleting a line twice must not resurrect
    // or corrupt the recompute
    val jc3 = fold(jc,
      ordersDf(ords).limit(0).withColumn("_sign", lit(1L)),
      lines(Seq((2L, 10L, 2.0), (2L, 10L, 2.0)))
        .withColumn("_sign", lit(-1L)))
    val scratch3 = create(skCfg,
      ordersDf(ords.filterNot(_._1 == 3L)),
      lines(base.diff(dels).filterNot(_ == (2L, 10L, 2.0))))
    assert(serve(jc3.cube) == serve(scratch3.cube),
      s"tombstone ${serve(jc3.cube)} != scratch ${serve(scratch3.cube)}")
  }

  test("randomized delete interleavings: non-invertible families == recompute") {
    import testImplicits._
    val skCfg = JoinCubeConfig(
      CubeConfig("jrand", "mem",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Seq(Measure("rev", "l_price")),
        sketches = Seq(Measure("supps", "l_supp")),
        extremes = Seq(Measure("px", "l_price"))),
      leftKey = "o_key", rightKey = "l_key")
    def lines(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("l_key", "l_supp", "l_price")
    def serve(c: Cube) = CubeManager.query(c, Seq("prio"),
        distinctOf = Seq("supps"), minOf = Seq("px"), maxOf = Seq("px"),
        sumOf = Seq("rev"))
      .collect().map(r => (r.getString(0),
        r.getAs[Long]("n_distinct_supps"),
        r.getAs[Double]("min_px"), r.getAs[Double]("max_px"),
        BigDecimal(r.getAs[Double]("sum_rev")).setScale(2,
          BigDecimal.RoundingMode.HALF_UP))).toSet
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      val ords = (0 until 6 + rnd.nextInt(6)).map(i =>
        (i.toLong, Seq("HIGH", "MED", "LOW")(rnd.nextInt(3))))
      var liveLines = (0 until 20 + rnd.nextInt(20)).map(_ =>
        (rnd.nextInt(ords.size + 2).toLong, rnd.nextInt(6).toLong,
          math.round(rnd.nextDouble() * 10000) / 100.0))
      var jc = create(skCfg, ordersDf(ords),
        lines(liveLines))
      // three random batches: each deletes a random live subset and
      // inserts fresh lines, mixed in ONE fold
      for (_ <- 1 to 3) {
        val dels = liveLines.filter(_ => rnd.nextBoolean())
        val ins = (0 until 3 + rnd.nextInt(5)).map(_ =>
          (rnd.nextInt(ords.size + 2).toLong, rnd.nextInt(6).toLong,
            math.round(rnd.nextDouble() * 10000) / 100.0))
        jc = fold(jc,
          ordersDf(ords).limit(0).withColumn("_sign", lit(1L)),
          lines(dels).withColumn("_sign", lit(-1L))
            .unionByName(lines(ins).withColumn("_sign", lit(1L))))
        liveLines = liveLines.diff(dels) ++ ins
      }
      assert(!jc.cube.hasDeletes, s"trial $trial latched")
      val scratch = create(skCfg, ordersDf(ords),
        lines(liveLines))
      assert(serve(jc.cube) == serve(scratch.cube),
        s"trial $trial: folded ${serve(jc.cube)} != " +
          s"scratch ${serve(scratch.cube)}")
    }
  }

  test("overlapping side column names and missing keys are refused") {
    import testImplicits._
    // overlapping name: both sides carry "price" — name-based binding
    // downstream (delta terms, rewrite resolvePath) would silently pick
    // the wrong side, so creation must refuse
    val l = Seq((1L, "HIGH", 2.0)).toDF("o_key", "o_prio", "price")
    val r = Seq((1L, 5.0)).toDF("l_key", "price")
    val e = intercept[IllegalArgumentException] {
      create(cfg, l, r)
    }
    assert(e.getMessage.contains("disjoint"), e.getMessage)
    // missing join key on a side
    val e2 = intercept[IllegalArgumentException] {
      create(cfg,
        Seq((1L, "HIGH")).toDF("wrong_key", "o_prio"),
        linesDf(Seq((1L, 5.0))))
    }
    assert(e2.getMessage.contains("not a column of relations"),
      e2.getMessage)
    // registerJoin re-validates (a hand-built ChainCube can't smuggle an
    // overlapping schema past the rewrite's name binding)
    val good = create(cfg,
      ordersDf(Seq((1L, "HIGH"))), linesDf(Seq((1L, 5.0))))
    val bad = good.copy(states = Seq(good.states(0), Seq((1L, "X", 5.0))
      .toDF("l_key", "o_prio", "l_price").withColumn("_mult", lit(1L))))
    val e3 = intercept[IllegalArgumentException] {
      CubeCatalog.registerJoin("bad_jt", bad, "/tmp/x", "/tmp/y")
    }
    assert(e3.getMessage.contains("disjoint"), e3.getMessage)
    assert(!CubeCatalog.chainRegistered.contains("bad_jt"))
  }

  test("duplicate rows carry multiplicity through the join") {
    // two identical lines: state compacts to _mult=2, join must weight 2×
    val jc = create(cfg,
      ordersDf(Seq((1L, "HIGH"))), linesDf(Seq((1L, 2.0), (1L, 2.0))))
    assert(contents(jc.cube) == Set(("HIGH", BigDecimal("4.00"), 2L)))
    val jc1 = fold(jc,
      ordersDf(Seq((2L, "LOW"))).withColumn("_sign", lit(1L)),
      linesDf(Seq((2L, 1.0), (2L, 1.0))).withColumn("_sign", lit(1L)))
    assert(contents(jc1.cube) ==
      Set(("HIGH", BigDecimal("4.00"), 2L), ("LOW", BigDecimal("2.00"), 2L)))
  }

  test("DICTIONARY bitmaps in a join MV: folds extend, restarts reload, " +
      "deletes recompute") {
    import testImplicits._
    // STRING worker ids on the line side — the dictionary path over the
    // JOINED frame: applyDeltas extends the dict in memory with the
    // batch's unseen keys and every publish persists the extended
    // map into the version, so restarts reload it and re-inserts
    // reuse their ids
    val dcfg = JoinCubeConfig(
      CubeConfig("jdict", "mem",
        dims = Seq(FieldDim("prio", "o_prio")),
        measures = Nil,
        dictBitmaps = Seq(Measure("w", "l_worker"))),
      leftKey = "o_key", rightKey = "l_key")
    def lines(rows: Seq[(Long, String)]) = rows.toDF("l_key", "l_worker")
    val dir = java.nio.file.Files.createTempDirectory("graft_jmv_dict")
      .toString
    val svc = new CubeService(spark, dir)
    svc.createJoinCube(dcfg,
      ordersDf(Seq((1L, "HIGH"), (2L, "LOW"))),
      lines(Seq((1L, "alice"), (1L, "bob"), (2L, "alice"))))
    def counts(s: CubeService) =
      s.getJoinAggregates("jdict", Seq("prio"), exactDistinctOf = Seq("w"))
        .collect()
        .map(r => r.getAs[String]("prio") -> r.getAs[Long]("n_exact_w"))
        .toMap
    assert(counts(svc) == Map("HIGH" -> 2L, "LOW" -> 1L))
    // fold brings UNSEEN keys on the right AND a new left group; the
    // dict must extend append-only and re-inserts reuse ids
    svc.updateJoinAggregates("jdict",
      ordersDf(Seq((3L, "MED"))).withColumn("_sign", lit(1L)),
      lines(Seq((3L, "carol"), (2L, "bob"), (1L, "alice")))
        .withColumn("_sign", lit(1L)))
    assert(counts(svc) ==
      Map("HIGH" -> 2L, "LOW" -> 2L, "MED" -> 1L))
    // RESTART: a fresh service reloads the persisted dictionary from
    // the manifest-current version and folds against it
    val svc2 = new CubeService(spark, dir)
    assert(counts(svc2) ==
      Map("HIGH" -> 2L, "LOW" -> 2L, "MED" -> 1L))
    svc2.updateJoinAggregates("jdict",
      ordersDf(Nil).withColumn("_sign", lit(1L)),
      lines(Seq((2L, "carol"))).withColumn("_sign", lit(1L)))
    assert(counts(svc2) ==
      Map("HIGH" -> 2L, "LOW" -> 3L, "MED" -> 1L),
      "post-restart fold must encode through the reloaded dictionary")
    // DELETE: the targeted recompute reconstructs the joined source
    // from the side states and re-encodes through the dict — the
    // deleted worker's bit leaves the cell
    svc2.updateJoinAggregates("jdict",
      ordersDf(Nil).withColumn("_sign", lit(1L)),
      lines(Seq((2L, "bob"))).withColumn("_sign", lit(-1L)))
    assert(counts(svc2) ==
      Map("HIGH" -> 2L, "LOW" -> 2L, "MED" -> 1L),
      "delete recompute must serve the post-delete dict counts")
    // == from-scratch over the final state
    val scratch = create(dcfg,
      ordersDf(Seq((1L, "HIGH"), (2L, "LOW"), (3L, "MED"))),
      lines(Seq((1L, "alice"), (1L, "bob"), (2L, "alice"),
        (3L, "carol"), (2L, "carol"), (1L, "alice"))))
    val scratchCounts = CubeManager.query(scratch.cube, Seq("prio"),
        exactDistinctOf = Seq("w"))
      .collect()
      .map(r => r.getAs[String]("prio") -> r.getAs[Long]("n_exact_w"))
      .toMap
    assert(counts(svc2) == scratchCounts,
      s"folded dict join MV != from-scratch: ${counts(svc2)} vs " +
        s"$scratchCounts")
    svc2.deleteJoinCube("jdict")
  }
}

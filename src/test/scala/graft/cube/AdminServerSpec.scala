package graft.cube

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The loopback admin transport: every wire verb must equal its
  * in-process [[CubeService]] twin (the reference's R7 broker API with
  * only the broker replaced by a socket — the furthest the zero-egress
  * box allows). A real TCP client drives a real bound server; nothing
  * is called in-process on the request path except through dispatch. */
class AdminServerSpec extends AnyFunSuite {
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

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def source: DataFrame = {
    import spark.implicits._
    Seq(("click", 3.0), ("click", 4.0), ("view", 10.0))
      .toDF("event_type", "value")
  }

  /** One-shot client: connect, send each line, read each response. */
  private final class Client(port: Int) {
    private val sock = new java.net.Socket(
      java.net.InetAddress.getLoopbackAddress, port)
    private val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      sock.getOutputStream, StandardCharsets.UTF_8), true)
    private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      sock.getInputStream, StandardCharsets.UTF_8))
    def rpc(line: String): String = { out.println(line); in.readLine() }
    def close(): Unit = sock.close()
  }

  private val cfgJson =
    """{"name":"admin1","source":"events",
      |"dims":[{"kind":"field","id":"etype","path":"event_type"}],
      |"measures":[{"id":"v","path":"value"}]}""".stripMargin
  private def escaped(s: String) =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  test("wire verbs == in-process verbs across the full lifecycle") {
    val svc = new CubeService(spark, tmp("graft_admin_store"))
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      assert(cli.rpc("""{"verb":"ping"}""")
        == """{"ok":true,"result":"pong"}""")

      val srcDir = tmp("graft_admin_src") + "/src"
      source.write.parquet(srcDir)
      val created = cli.rpc(s"""{"verb":"createCube","config":"${escaped(
        cfgJson)}","sourceParquet":"${escaped(srcDir)}"}""")
      assert(created == """{"ok":true,"result":"admin1"}""", created)
      assert(cli.rpc("""{"verb":"listCubes"}""")
        == """{"ok":true,"result":["admin1"]}""")

      def wireAgg(): String = cli.rpc(
        """{"verb":"getAggregates","name":"admin1","dims":["etype"],"sumOf":["v"]}""")
      def directAgg(): String =
        svc.getAggregates("admin1", dims = Seq("etype"), sumOf = Seq("v"))
          .orderBy(col("etype")).toJSON.collect().mkString("[", ",", "]")
      assert(wireAgg() == s"""{"ok":true,"result":${directAgg()}}""",
        "wire getAggregates diverges from the in-process verb")
      assert(wireAgg().contains(""""sum_v":7"""), wireAgg())

      // signed-delta fold over the wire: +1 view 5.0, −1 click 3.0
      val deltaDir = tmp("graft_admin_delta") + "/d"
      locally { import spark.implicits._
        Seq(("view", 5.0, 1), ("click", 3.0, -1))
          .toDF("event_type", "value", "_sign").write.parquet(deltaDir) }
      assert(cli.rpc(s"""{"verb":"updateAggregates","name":"admin1",
        |"deltaParquet":"${escaped(deltaDir)}"}""".stripMargin
          .replace("\n", ""))
        == """{"ok":true,"result":"updated"}""")
      val after = wireAgg()
      assert(after == s"""{"ok":true,"result":${directAgg()}}""",
        "post-fold wire serve diverges from the in-process verb")
      assert(after.contains(""""sum_v":4""") // click: 7−3
        && after.contains(""""sum_v":15"""), after) // view: 10+5

      // filter travels as a SQL expression string
      val filtered = cli.rpc(
        """{"verb":"getAggregates","name":"admin1","dims":["etype"],
          |"sumOf":["v"],"filter":"etype = 'view'"}""".stripMargin
          .replace("\n", ""))
      assert(filtered.contains(""""sum_v":15""")
        && !filtered.contains("click"), filtered)

      // errors are structured responses, never dropped connections
      val unknown = cli.rpc("""{"verb":"frobnicate"}""")
      assert(unknown == """{"ok":false,"error":"unknown verb 'frobnicate'"}""")
      val missing = cli.rpc("""{"verb":"getAggregates","name":"nope","dims":["x"]}""")
      assert(missing.startsWith("""{"ok":false,"error":"""), missing)
      assert(cli.rpc("""{"verb":"ping"}""")
        == """{"ok":true,"result":"pong"}""",
        "connection must survive an error response")

      assert(cli.rpc("""{"verb":"deleteCube","name":"admin1"}""")
        == """{"ok":true,"result":"deleted"}""")
      assert(cli.rpc("""{"verb":"listCubes"}""")
        == """{"ok":true,"result":[]}""")
    } finally { cli.close(); server.stop() }
  }

  test("wire delete fold with sourceParquet keeps sketch/extreme serves alive") {
    import spark.implicits._
    val svc = new CubeService(spark, tmp("graft_admin_delsrc"))
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      // canonical configToJson field order (extremes precede measures —
      // the tolerant parser's contract for machine-written configs)
      val cfgJson =
        """{"name":"adel","source":"events",
          |"dims":[{"kind":"field","id":"etype","path":"event_type"}],
          |"extremes":[{"id":"vx","path":"value"}],
          |"measures":[{"id":"v","path":"value"}]}""".stripMargin
      val all = Seq(("click", 1.0), ("click", 9.0), ("view", 5.0))
      val srcDir = tmp("graft_admin_ds") + "/src"
      all.toDF("event_type", "value").write.parquet(srcDir)
      assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(
        cfgJson)}","sourceParquet":"${escaped(srcDir)}"}""")
        == """{"ok":true,"result":"adel"}""")
      // delete click's max over the wire WITH the post-delta source:
      // the targeted recompute must keep min/max serving (no latch)
      val deltaDir = tmp("graft_admin_dd") + "/d"
      Seq(("click", 9.0, -1)).toDF("event_type", "value", "_sign")
        .write.parquet(deltaDir)
      val postDir = tmp("graft_admin_dp") + "/p"
      all.filterNot(_ == ("click", 9.0)).toDF("event_type", "value")
        .write.parquet(postDir)
      assert(cli.rpc(s"""{"verb":"updateAggregates","name":"adel","deltaParquet":"${escaped(
        deltaDir)}","sourceParquet":"${escaped(postDir)}"}""")
        == """{"ok":true,"result":"updated"}""")
      val served = cli.rpc(
        """{"verb":"getAggregates","name":"adel","dims":["etype"],"minOf":["vx"],"maxOf":["vx"]}""")
      assert(served.contains(""""max_vx":1.0""")
        && served.contains(""""min_vx":1.0"""), served)
      // the SAME delete shape WITHOUT sourceParquet latches → the
      // extreme serve refuses with a structured error, exactly the
      // in-process behavior
      Seq(("view", 5.0, -1)).toDF("event_type", "value", "_sign")
        .write.mode("overwrite").parquet(deltaDir)
      assert(cli.rpc(s"""{"verb":"updateAggregates","name":"adel","deltaParquet":"${escaped(
        deltaDir)}"}""") == """{"ok":true,"result":"updated"}""")
      val refused = cli.rpc(
        """{"verb":"getAggregates","name":"adel","dims":["etype"],"minOf":["vx"]}""")
      assert(refused.startsWith("""{"ok":false,"error":""")
        && refused.contains("insert-only"), refused)
    } finally { cli.close(); server.stop() }
  }

  test("a wire fold launches no schema-inference job") {
    import spark.implicits._
    val svc = new CubeService(spark, tmp("graft_admin_jobs"))
    val server = new AdminServer(svc, spark)
    val cli = new Client(server.start())
    // each started job's stage names, first stage first
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.sortBy(_.stageId).map(_.name)); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a change stream's shape: a base slice over six days, then one
      // batch of inserts on the newest day plus deletes and updates of
      // rows from the day before
      val day = 86400000L
      val t0 = 1700006400000L
      val base = (0 until 600).map(i => (i.toLong,
        new java.sql.Timestamp(t0 + (i / 100) * day + (i % 100) * 60000L),
        (i * 7 % 50).toLong, Seq("click", "view", "buy")(i % 3),
        (i % 17).toDouble))
      val ins = (600 until 640).map(i => (i.toLong,
        new java.sql.Timestamp(t0 + 5 * day + (i % 100) * 60000L + 1000L),
        (i * 7 % 50).toLong, Seq("click", "view", "buy")(i % 3), 2.0))
      val gone = base.filter(r => r._1 >= 400 && r._1 < 500 && r._1 % 9 == 0)
      val moved = base.filter(r => r._1 >= 400 && r._1 < 500 && r._1 % 9 == 4)
      val updated = moved.map(r => r.copy(_5 = r._5 + 1.0))
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
      def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)],
          name: String): String = {
        val d = tmp("graft_admin_jobs_in") + s"/$name"
        rows.toDF(cols: _*).coalesce(1).write.parquet(d); d
      }
      val basePath = write(base, "base")
      val delta = tmp("graft_admin_jobs_in") + "/delta"
      (ins.map((_, 1)) ++ gone.map((_, -1)) ++ moved.map((_, -1)) ++
        updated.map((_, 1)))
        .map { case ((a, b, c, d, e), sg) => (a, b, c, d, e, sg) }
        .toDF(cols :+ "_sign": _*).coalesce(1).write.parquet(delta)
      val source = write(
        base.filterNot(r => gone.contains(r) || moved.contains(r)) ++
          updated ++ ins, "source")
      val configs = Seq(
        "mA" -> """{"name":"mA","source":"events","dims":[{"kind":"field","id":"etype","path":"event_type"},{"kind":"time","id":"d","path":"ts","granularity":"day"}],"measures":[{"id":"v","path":"value"}]}""",
        "mB" -> """{"name":"mB","source":"events","dims":[{"kind":"time","id":"d","path":"ts","granularity":"day"}],"bitmaps":[{"id":"u","path":"user_id"}],"measures":[{"id":"v","path":"value"}]}""")
      configs.foreach { case (n, c) =>
        assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(c)
          }","sourceParquet":"${escaped(basePath)}"}""")
          == s"""{"ok":true,"result":"$n"}""")
      }
      def foldJobs(name: String, src: String): Seq[Seq[String]] = {
        TestBus.drain(spark.sparkContext)
        jobs.clear()
        assert(cli.rpc(s"""{"verb":"updateAggregates","name":"$name",""" +
          s""""deltaParquet":"${escaped(delta)}"$src}""")
          == """{"ok":true,"result":"updated"}""")
        TestBus.drain(spark.sparkContext)
        jobs.asScala.toSeq
      }
      val plain = foldJobs("mA", "")
      val bitmap = foldJobs("mB",
        s""","sourceParquet":"${escaped(source)}"""")
      // a schema-inference job is one task reading one footer; its
      // first stage is named after the `parquet` read that launched it
      Seq(plain, bitmap).foreach { js =>
        assert(!js.exists(_.head.startsWith("parquet at")),
          s"schema-inference job in a fold: ${js.mkString("; ")}")
      }
      // the plain fold is its staging write's three jobs; the bitmap
      // fold adds the delete probe and the touched-cell recompute
      assert(plain.size == 3, plain.mkString("; "))
      assert(bitmap.size == 8, bitmap.mkString("; "))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      cli.close(); server.stop()
    }
  }

  test("join-MV wire verbs: create, fold, serve, time travel") {
    val svc = new CubeService(spark, tmp("graft_admin_jmv"),
      retainJmvVersions = 3)
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      import spark.implicits._
      val lDir = tmp("graft_admin_jl") + "/l"
      val rDir = tmp("graft_admin_jr") + "/r"
      Seq((1L, "a"), (2L, "b")).toDF("lk", "cat").write.parquet(lDir)
      Seq((1L, 10.0), (2L, 20.0)).toDF("rk", "amount").write.parquet(rDir)
      val jCfg =
        """{"name":"jadmin","source":"l_r",
          |"dims":[{"kind":"field","id":"cat","path":"cat"}],
          |"measures":[{"id":"amt","path":"amount"}]}""".stripMargin
      val created = cli.rpc(s"""{"verb":"createJoinCube","config":"${escaped(
        jCfg)}","leftKey":"lk","rightKey":"rk","leftParquet":"${escaped(
        lDir)}","rightParquet":"${escaped(rDir)}"}""")
      assert(created == """{"ok":true,"result":"jadmin"}""", created)
      assert(cli.rpc("""{"verb":"listJoinCubes"}""")
        == """{"ok":true,"result":["jadmin"]}""")

      def wire(): String = cli.rpc(
        """{"verb":"getJoinAggregates","name":"jadmin","dims":["cat"],"sumOf":["amt"]}""")
      def direct(): String =
        svc.getJoinAggregates("jadmin", Seq("cat"), sumOf = Seq("amt"))
          .orderBy(col("cat")).toJSON.collect().mkString("[", ",", "]")
      assert(wire() == s"""{"ok":true,"result":${direct()}}""",
        "wire getJoinAggregates diverges from the in-process verb")

      // right-side fold over the wire (left delta omitted → empty side)
      val dDir = tmp("graft_admin_jd") + "/d"
      Seq((1L, 5.0, 1L)).toDF("rk", "amount", "_sign").write.parquet(dDir)
      assert(cli.rpc(s"""{"verb":"updateJoinAggregates","name":"jadmin","rightDeltaParquet":"${escaped(
        dDir)}"}""") == """{"ok":true,"result":"updated"}""")
      val after = wire()
      assert(after == s"""{"ok":true,"result":${direct()}}""")
      assert(after.contains(""""sum_amt":15"""), after)

      // time travel over the wire: both versions retained and served
      assert(cli.rpc("""{"verb":"listJoinVersions","name":"jadmin"}""")
        == """{"ok":true,"result":[0,1]}""")
      val v0 = cli.rpc(
        """{"verb":"getJoinAggregatesAsOf","name":"jadmin","version":0,"dims":["cat"],"sumOf":["amt"]}""")
      assert(v0.contains(""""sum_amt":10""") && !v0.contains("15"), v0)
      val vBad = cli.rpc(
        """{"verb":"getJoinAggregatesAsOf","name":"jadmin","version":9,"dims":["cat"],"sumOf":["amt"]}""")
      assert(vBad.startsWith("""{"ok":false,"error":""")
        && vBad.contains("not retained"), vBad)

      assert(cli.rpc("""{"verb":"deleteJoinCube","name":"jadmin"}""")
        == """{"ok":true,"result":"deleted"}""")
      assert(cli.rpc("""{"verb":"listJoinCubes"}""")
        == """{"ok":true,"result":[]}""")
    } finally { cli.close(); server.stop() }
  }

  test("ANN wire verbs: create, query, delete-mask, compact, drop") {
    import spark.implicits._
    val store = tmp("graft_admin_ann")
    val annSvc = new graft.ann.AnnIndexService(spark, store)
    val server = new AdminServer(new CubeService(spark, store), spark,
      ann = Some(annSvc))
    val port = server.start()
    val cli = new Client(port)
    try {
      val rnd = new scala.util.Random(55)
      val vecs = (0 until 40).map(i =>
        (i.toLong, Array.fill(4)((rnd.nextInt(2000) - 1000) / 997.0f)))
      val vDir = tmp("graft_admin_annv") + "/v"
      vecs.toDF("vec_id", "embedding").write.parquet(vDir)
      assert(cli.rpc(s"""{"verb":"annCreate","name":"wx","vectorsParquet":"${escaped(
        vDir)}","k":4,"lloydIters":1}""")
        == """{"ok":true,"result":"wx"}""")
      assert(cli.rpc("""{"verb":"annList"}""")
        == """{"ok":true,"result":["wx"]}""")
      val qDir = tmp("graft_admin_annq") + "/q"
      vecs.take(2).map { case (id, e) => (id, e) }
        .toDF("query_id", "embedding").write.parquet(qDir)
      def wireQuery(): String = cli.rpc(
        s"""{"verb":"annQuery","name":"wx","queriesParquet":"${escaped(
          qDir)}","topK":3,"nprobe":4}""")
      val direct = annSvc.queryIndex("wx",
          spark.read.parquet(qDir), topK = 3, nprobe = 4)
        .toJSON.collect().mkString("[", ",", "]")
      assert(wireQuery() == s"""{"ok":true,"result":$direct}""",
        "wire annQuery diverges from the in-process verb")
      // delete the top candidate of query 0 over the wire; it vanishes
      val victim = direct.split("\"cand_id\":")(1).split("[,}]")(0)
      val dDir = tmp("graft_admin_annd") + "/d"
      Seq(victim.toLong).toDF("vec_id").write.parquet(dDir)
      assert(cli.rpc(s"""{"verb":"annDeleteVectors","name":"wx","idsParquet":"${escaped(
        dDir)}"}""") == """{"ok":true,"result":"deleted"}""")
      val masked = wireQuery()
      assert(!masked.contains(s""""cand_id":$victim"""), masked)
      // compaction over the wire keeps the masked serve identical
      assert(cli.rpc("""{"verb":"annCompact","name":"wx"}""")
        == """{"ok":true,"result":"compacted"}""")
      assert(wireQuery() == masked, "compaction changed the wire serve")
      // a server without an attached ANN service refuses structurally
      val bare = new AdminServer(new CubeService(spark, tmp("b")), spark)
      val bPort = bare.start()
      val bCli = new Client(bPort)
      try {
        val refused = bCli.rpc("""{"verb":"annList"}""")
        assert(refused.startsWith("""{"ok":false,"error":""")
          && refused.contains("no ANN index service"), refused)
      } finally { bCli.close(); bare.stop() }
      assert(cli.rpc("""{"verb":"annDrop","name":"wx"}""")
        == """{"ok":true,"result":"dropped"}""")
      assert(cli.rpc("""{"verb":"annList"}""")
        == """{"ok":true,"result":[]}""")
    } finally { cli.close(); server.stop() }
  }

  test("maxRows cap, cube time-travel verbs, and the full join vocabulary") {
    import spark.implicits._
    val svc = new CubeService(spark, tmp("graft_admin_cap"),
      retainCubeVersions = 3)
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      val srcDir = tmp("graft_admin_caps") + "/src"
      source.write.parquet(srcDir)
      assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(
        cfgJson)}","sourceParquet":"${escaped(srcDir)}"}""")
        == """{"ok":true,"result":"admin1"}""")
      // ---- result-size guard: the serve has 2 groups; maxRows=1 must
      // be a structured REFUSAL naming the cap (silent truncation would
      // hand a control-plane client a partial result it can't detect),
      // and the connection must survive it
      val over = cli.rpc(
        """{"verb":"getAggregates","name":"admin1","dims":["etype"],"sumOf":["v"],"maxRows":1}""")
      assert(over.startsWith("""{"ok":false,"error":""")
        && over.contains("exceeds maxRows=1"), over)
      val under = cli.rpc(
        """{"verb":"getAggregates","name":"admin1","dims":["etype"],"sumOf":["v"],"maxRows":2}""")
      assert(under.startsWith("""{"ok":true,""")
        && under.contains(""""sum_v":7"""), under)
      val zero = cli.rpc(
        """{"verb":"getAggregates","name":"admin1","dims":["etype"],"maxRows":0}""")
      assert(zero.startsWith("""{"ok":false,"error":""")
        && zero.contains("positive"), zero)

      // ---- single-table time travel over the wire: fold once, then
      // both versions listed and as-of(0) serves pre-fold history,
      // equal to the in-process verb
      val deltaDir = tmp("graft_admin_capd") + "/d"
      Seq(("view", 5.0, 1)).toDF("event_type", "value", "_sign")
        .write.parquet(deltaDir)
      assert(cli.rpc(s"""{"verb":"updateAggregates","name":"admin1","deltaParquet":"${escaped(
        deltaDir)}"}""") == """{"ok":true,"result":"updated"}""")
      assert(cli.rpc("""{"verb":"listVersions","name":"admin1"}""")
        == """{"ok":true,"result":[0,1]}""")
      def asOfWire(v: Int): String = cli.rpc(
        s"""{"verb":"getAggregatesAsOf","name":"admin1","version":$v,"dims":["etype"],"sumOf":["v"]}""")
      val direct0 = svc.getAggregatesAsOf("admin1", 0, Seq("etype"),
          sumOf = Seq("v"))
        .orderBy(col("etype")).toJSON.collect().mkString("[", ",", "]")
      assert(asOfWire(0) == s"""{"ok":true,"result":$direct0}""",
        "wire getAggregatesAsOf diverges from the in-process verb")
      assert(asOfWire(0).contains(""""sum_v":10""")
        && !asOfWire(0).contains("15"), asOfWire(0))
      assert(asOfWire(1).contains(""""sum_v":15"""), asOfWire(1))
      val vBad = asOfWire(9)
      assert(vBad.startsWith("""{"ok":false,"error":""")
        && vBad.contains("not retained"), vBad)

      // ---- join verbs carry the FULL aggregate vocabulary (the wire
      // must not offer less than the in-process twin): HLL distinct +
      // extremes compare exactly (deterministic); the KLL percentile
      // column must be present and between the served extremes
      val lDir = tmp("graft_admin_capl") + "/l"
      val rDir = tmp("graft_admin_capr") + "/r"
      Seq((1L, "a"), (2L, "b")).toDF("lk", "cat").write.parquet(lDir)
      Seq((1L, 10.0, 100L), (1L, 30.0, 101L), (2L, 20.0, 200L))
        .toDF("rk", "amount", "uid").write.parquet(rDir)
      val jCfg =
        """{"name":"jwide","source":"l_r",
          |"dims":[{"kind":"field","id":"cat","path":"cat"}],
          |"sketches":[{"id":"amtd","path":"uid"}],
          |"quantiles":[{"id":"amtq","path":"amount"}],
          |"extremes":[{"id":"amtx","path":"amount"}],
          |"measures":[{"id":"amt","path":"amount"}]}""".stripMargin
      assert(cli.rpc(s"""{"verb":"createJoinCube","config":"${escaped(
        jCfg)}","leftKey":"lk","rightKey":"rk","leftParquet":"${escaped(
        lDir)}","rightParquet":"${escaped(rDir)}"}""")
        == """{"ok":true,"result":"jwide"}""")
      val wide = cli.rpc(
        """{"verb":"getJoinAggregates","name":"jwide","dims":["cat"],"distinctOf":["amtd"],"minOf":["amtx"],"maxOf":["amtx"],"quantilesOf":["amtq:0.5"]}""")
      assert(wide.startsWith("""{"ok":true,"""), wide)
      val directWide = svc.getJoinAggregates("jwide", Seq("cat"),
          distinctOf = Seq("amtd"), minOf = Seq("amtx"),
          maxOf = Seq("amtx"))
        .orderBy(col("cat")).toJSON.collect().mkString("")
      // exact families must match the in-process serve verbatim
      Seq(""""n_distinct_amtd":2""", """"min_amtx":10""",
        """"max_amtx":30""").foreach { frag =>
        assert(wide.contains(frag) && directWide.contains(frag),
          s"$frag missing (wire=$wide direct=$directWide)")
      }
      assert(wide.contains(""""p50_amtq":"""), wide)
      // filter travels on the join serve too
      val jf = cli.rpc(
        """{"verb":"getJoinAggregates","name":"jwide","dims":["cat"],"minOf":["amtx"],"filter":"cat = 'b'"}""")
      assert(jf.contains(""""min_amtx":20""") && !jf.contains("\"a\""), jf)
      // as-of carries the same vocabulary
      val jAsOf = cli.rpc(
        """{"verb":"getJoinAggregatesAsOf","name":"jwide","version":0,"dims":["cat"],"distinctOf":["amtd"],"maxOf":["amtx"]}""")
      assert(jAsOf.contains(""""n_distinct_amtd":2""")
        && jAsOf.contains(""""max_amtx":30"""), jAsOf)
      svc.deleteJoinCube("jwide")
      svc.deleteCube("admin1")
    } finally { cli.close(); server.stop() }
  }

  test("rolling, version-diff, and annTune wire verbs == in-process") {
    import spark.implicits._
    val store = tmp("graft_admin_rd")
    val svc = new CubeService(spark, store, retainCubeVersions = 3)
    val annSvc = new graft.ann.AnnIndexService(spark, store)
    val server = new AdminServer(svc, spark, ann = Some(annSvc))
    val port = server.start()
    val cli = new Client(port)
    try {
      // day-dimmed cube with extreme partials: the getRolling shape
      val rollCfg =
        """{"name":"aroll","source":"events",
          |"dims":[{"kind":"time","id":"d","path":"ts","granularity":"day"}],
          |"extremes":[{"id":"vx","path":"value"}],
          |"measures":[{"id":"v","path":"value"}]}""".stripMargin
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
      val srcDir = tmp("graft_admin_rds") + "/src"
      Seq((t0, 3.0), (t0, 7.0), (t1, 5.0)).toDF("ts", "value")
        .write.parquet(srcDir)
      assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(
        rollCfg)}","sourceParquet":"${escaped(srcDir)}"}""")
        == """{"ok":true,"result":"aroll"}""")
      val rollWire = cli.rpc(
        """{"verb":"getRolling","name":"aroll","dayDim":"d","windowDays":7,"minOf":["vx"],"maxOf":["vx"]}""")
      val rollDirect = svc.getRolling("aroll", "d", 7,
          minOf = Seq("vx"), maxOf = Seq("vx"))
        .orderBy(col("day")).toJSON.collect().mkString("[", ",", "]")
      assert(rollWire == s"""{"ok":true,"result":$rollDirect}""",
        s"wire getRolling diverges: $rollWire vs $rollDirect")
      assert(rollWire.contains(""""max_vx":7"""), rollWire)

      // fold once, then diff v0 -> v1 over the wire
      val dDir = tmp("graft_admin_rdd") + "/d"
      Seq((t1, 9.0, 1)).toDF("ts", "value", "_sign").write.parquet(dDir)
      assert(cli.rpc(s"""{"verb":"updateAggregates","name":"aroll","deltaParquet":"${escaped(
        dDir)}"}""") == """{"ok":true,"result":"updated"}""")
      val diffWire = cli.rpc(
        """{"verb":"diffAggregates","name":"aroll","fromVersion":0,"toVersion":1,"dims":["d"],"sumOf":["v"]}""")
      val diffDirect = svc.diffAggregates("aroll", 0, 1, Seq("d"),
          sumOf = Seq("v"))
        .orderBy(col("d")).toJSON.collect().mkString("[", ",", "]")
      assert(diffWire == s"""{"ok":true,"result":$diffDirect}""",
        s"wire diffAggregates diverges: $diffWire vs $diffDirect")
      assert(diffWire.contains(""""sum_v_delta":9"""), diffWire)

      // annTune over the wire matches the in-process tuner
      val rnd = new scala.util.Random(77)
      val vecs = (0 until 60).map(i =>
        (i.toLong, Array.fill(4)((rnd.nextInt(2000) - 1000) / 997.0f)))
      val vDir = tmp("graft_admin_rdv") + "/v"
      vecs.toDF("vec_id", "embedding").write.parquet(vDir)
      assert(cli.rpc(s"""{"verb":"annCreate","name":"wt","vectorsParquet":"${escaped(
        vDir)}","k":4,"lloydIters":1}""")
        == """{"ok":true,"result":"wt"}""")
      val sDir = tmp("graft_admin_rdq") + "/s"
      vecs.take(3).toDF("query_id", "embedding").write.parquet(sDir)
      val (np, recall) = annSvc.tuneNprobe("wt",
        spark.read.parquet(sDir), topK = 3, targetRecall = 0.9)
      assert(cli.rpc(s"""{"verb":"annTune","name":"wt","sampleParquet":"${escaped(
        sDir)}","topK":3,"targetRecall":0.9}""")
        == s"""{"ok":true,"result":{"nprobe":$np,"recall":$recall}}""")

      // index time travel over the wire: fold once, as-of(0) == the
      // in-process historical serve, both versions listed
      val uDir = tmp("graft_admin_rdu") + "/u"
      Seq((500L, Array.fill(4)(0.4f))).toDF("vec_id", "embedding")
        .write.parquet(uDir)
      assert(cli.rpc(s"""{"verb":"annUpsert","name":"wt","vectorsParquet":"${escaped(
        uDir)}"}""") == """{"ok":true,"result":"upserted"}""")
      assert(cli.rpc("""{"verb":"annListVersions","name":"wt"}""")
        == """{"ok":true,"result":[0,1]}""")
      val asOf0 = annSvc.queryIndexAsOf("wt", spark.read.parquet(sDir), 0,
          topK = 3, nprobe = 4)
        .toJSON.collect().mkString("[", ",", "]")
      assert(cli.rpc(s"""{"verb":"annQueryAsOf","name":"wt","version":0,"queriesParquet":"${escaped(
        sDir)}","topK":3,"nprobe":4}""")
        == s"""{"ok":true,"result":$asOf0}""",
        "wire annQueryAsOf diverges from the in-process verb")
      // retention + intersect wire verbs == in-process (bitmap cube)
      val retCfg =
        """{"name":"bret","source":"events",
          |"dims":[{"kind":"time","id":"d","path":"ts","granularity":"day"}],
          |"bitmaps":[{"id":"u","path":"user_id"}],
          |"measures":[{"id":"v","path":"value"}]}""".stripMargin
      val rDir = tmp("graft_admin_rdr") + "/r"
      val t2 = java.sql.Timestamp.valueOf("2024-01-03 10:00:00")
      Seq((t0, 1.0, 10L), (t0, 1.0, 11L), (t1, 1.0, 11L), (t1, 1.0, 12L),
          (t2, 1.0, 12L))
        .toDF("ts", "value", "user_id").write.parquet(rDir)
      assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(
        retCfg)}","sourceParquet":"${escaped(rDir)}"}""")
        == """{"ok":true,"result":"bret"}""")
      val retWire = cli.rpc(
        """{"verb":"getRetention","name":"bret","dayDim":"d","bitmapId":"u","periodDays":1}""")
      val retDirect = svc.getRetention("bret", "d", "u", periodDays = 1)
        .orderBy(col("period")).toJSON.collect().mkString("[", ",", "]")
      assert(retWire == s"""{"ok":true,"result":$retDirect}""",
        s"wire getRetention diverges: $retWire vs $retDirect")
      assert(retWire.contains(""""retained":1"""), retWire)
      val stickWire = cli.rpc(
        """{"verb":"getRolling","name":"bret","dayDim":"d","windowDays":2,"intersectOf":["u"]}""")
      val stickDirect = svc.getRolling("bret", "d", 2,
          intersectOf = Seq("u"))
        .orderBy(col("day")).toJSON.collect().mkString("[", ",", "]")
      assert(stickWire == s"""{"ok":true,"result":$stickDirect}""",
        s"wire intersectOf diverges: $stickWire vs $stickDirect")
      // calendar-period matrix over the wire == in-process; mixing
      // calendar with periodDays is a structured refusal
      val calWire = cli.rpc(
        """{"verb":"getRetention","name":"bret","dayDim":"d","bitmapId":"u","calendar":"month"}""")
      val calDirect = svc.getRetentionCalendar("bret", "d", "u", "month")
        .orderBy(col("period")).toJSON.collect().mkString("[", ",", "]")
      assert(calWire == s"""{"ok":true,"result":$calDirect}""",
        s"wire calendar retention diverges: $calWire vs $calDirect")
      assert(calWire.contains(""""period_start":"2024-01-01""""), calWire)
      val calBad = cli.rpc(
        """{"verb":"getRetention","name":"bret","dayDim":"d","bitmapId":"u","calendar":"month","periodDays":7}""")
      assert(calBad.startsWith("""{"ok":false""") &&
        calBad.contains("mutually exclusive"), calBad)
      // engagement histogram + growth accounting over the wire ==
      // in-process; the calendar/periodDays refusal carries over
      val engWire = cli.rpc(
        """{"verb":"getEngagement","name":"bret","dayDim":"d","bitmapId":"u","windowDays":2}""")
      val engDirect = svc.getEngagement("bret", "d", "u", windowDays = 2)
        .orderBy(col("day"), col("days_active"))
        .toJSON.collect().mkString("[", ",", "]")
      assert(engWire == s"""{"ok":true,"result":$engDirect}""",
        s"wire getEngagement diverges: $engWire vs $engDirect")
      assert(engWire.contains(""""days_active":2"""), engWire)
      val gaWire = cli.rpc(
        """{"verb":"getGrowthAccounting","name":"bret","dayDim":"d","bitmapId":"u","periodDays":1}""")
      val gaDirect = svc.getGrowthAccounting("bret", "d", "u",
          periodDays = 1)
        .orderBy(col("period")).toJSON.collect().mkString("[", ",", "]")
      assert(gaWire == s"""{"ok":true,"result":$gaDirect}""",
        s"wire getGrowthAccounting diverges: $gaWire vs $gaDirect")
      assert(gaWire.contains(""""resurrected":0"""), gaWire)
      val gaBad = cli.rpc(
        """{"verb":"getGrowthAccounting","name":"bret","dayDim":"d","bitmapId":"u","calendar":"month","periodDays":7}""")
      assert(gaBad.startsWith("""{"ok":false""") &&
        gaBad.contains("mutually exclusive"), gaBad)
      // the DAU/MAU-style stickiness pair over the wire == in-process;
      // inverted windows are a structured refusal
      val dmWire = cli.rpc(
        """{"verb":"getStickiness","name":"bret","dayDim":"d","bitmapId":"u","shortDays":1,"longDays":3}""")
      val dmDirect = svc.getStickiness("bret", "d", "u", 1, 3)
        .orderBy(col("day")).toJSON.collect().mkString("[", ",", "]")
      assert(dmWire == s"""{"ok":true,"result":$dmDirect}""",
        s"wire getStickiness diverges: $dmWire vs $dmDirect")
      assert(dmWire.contains(""""stickiness":"""), dmWire)
      val dmBad = cli.rpc(
        """{"verb":"getStickiness","name":"bret","dayDim":"d","bitmapId":"u","shortDays":5,"longDays":3}""")
      assert(dmBad.startsWith("""{"ok":false""") &&
        dmBad.contains("must exceed"), dmBad)
      svc.deleteCube("bret")
      svc.deleteCube("aroll")
      annSvc.deleteIndex("wt")
    } finally { cli.close(); server.stop() }
  }

  test("advise over the wire: SQL workload in, materializable config out") {
    import spark.implicits._
    val svc = new CubeService(spark, tmp("graft_admin_adv"))
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      CubeCatalog.clear()
      val srcDir = tmp("graft_admin_advs") + "/src"
      Seq(("click", 3.0), ("click", 4.0), ("view", 10.0))
        .toDF("event_type", "value").write.parquet(srcDir)
      assert(cli.rpc(s"""{"verb":"registerTable","name":"adm_events","parquet":"${escaped(
        srcDir)}"}""") == """{"ok":true,"result":"registered"}""")
      val resp = cli.rpc(
        """{"verb":"advise","namePrefix":"wa","workloadSql":["SELECT event_type, sum(CAST(value AS DECIMAL(18,2))) AS s, count(1) AS n FROM adm_events GROUP BY event_type"]}""")
      assert(resp.startsWith("""{"ok":true,"""), resp)
      assert(resp.contains(""""uncovered":[]""")
        && resp.contains(""""covered":[0]"""), resp)
      // the returned config string is directly materializable: feed it
      // back through the createCube wire verb and serve
      val cfgStr = """"config":"((?:[^"\\]|\\.)*)"""".r
        .findFirstMatchIn(resp).map(_.group(1)).get
      assert(cli.rpc(s"""{"verb":"createCube","config":"$cfgStr","sourceParquet":"${escaped(
        srcDir)}"}""") == """{"ok":true,"result":"wa_0"}""")
      val served = cli.rpc(
        """{"verb":"getAggregates","name":"wa_0","dims":["event_type"],"sumOf":["value_sum"]}""")
      assert(served.contains(""""sum_value_sum":7""")
        && served.contains(""""sum_value_sum":10"""), served)
      // a bare-identifier check guards the catalog verb
      val bad = cli.rpc(
        """{"verb":"registerTable","name":"x; drop","parquet":"/tmp/x"}""")
      assert(bad.startsWith("""{"ok":false,"error":"""), bad)
      svc.deleteCube("wa_0")
      CubeCatalog.clear()
    } finally { cli.close(); server.stop() }
  }

  test("concurrent clients are served independently") {
    val svc = new CubeService(spark, tmp("graft_admin_store2"))
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val a = new Client(port); val b = new Client(port)
    try {
      assert(a.rpc("""{"verb":"listCubes"}""").contains("\"ok\":true"))
      assert(b.rpc("""{"verb":"ping"}""").contains("pong"))
      assert(a.rpc("""{"verb":"ping"}""").contains("pong"))
    } finally { a.close(); b.close(); server.stop() }
  }

  test("timeRollup serve and retention advice over the wire") {
    import spark.implicits._
    val svc = new CubeService(spark, tmp("graft_admin_tr"))
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      CubeCatalog.clear()
      val rnd = new scala.util.Random(11)
      val rows = (0 until 300).map { i =>
        (new java.sql.Timestamp(
          1700000000000L + rnd.nextInt(60) * 86400000L),
          (i % 20).toLong, (i % 7).toDouble)
      }
      val srcDir = tmp("graft_admin_trs") + "/src"
      rows.toDF("ts", "uid", "value").write.parquet(srcDir)
      val cfg = """{"name":"tr1","source":"events","dims":[{"kind":"time","id":"day","path":"ts","granularity":"day"}],"measures":[{"id":"v","path":"value"}]}"""
      assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(cfg)}","sourceParquet":"${escaped(
        srcDir)}"}""") == """{"ok":true,"result":"tr1"}""")
      // wire timeRollup == in-process: monthly sums from the day cube
      val wire = cli.rpc(
        """{"verb":"getAggregates","name":"tr1","sumOf":["v"],"timeRollup":["day:month"]}""")
      assert(wire.startsWith("""{"ok":true"""), wire)
      val inProc = svc.getAggregates("tr1", Nil, sumOf = Seq("v"),
        timeRollup = Seq(("day", "month"))).collect()
      assert(inProc.length >= 2 &&
        inProc.forall(r => wire.contains(s""""sum_v":${r.getAs[Double]("sum_v")}""")),
        s"wire=$wire inProc=${inProc.mkString(",")}")
      assert(wire.contains(""""day_month""""), wire)
      // a malformed rollup entry is a structured refusal
      val bad = cli.rpc(
        """{"verb":"getAggregates","name":"tr1","sumOf":["v"],"timeRollup":["daymonth"]}""")
      assert(bad.startsWith("""{"ok":false"""), bad)
      // retention advice over the wire: the self-join cohort SQL yields
      // a materializable day-dimmed bitmap config wired to getRetention
      assert(cli.rpc(s"""{"verb":"registerTable","name":"adm_ret","parquet":"${escaped(
        srcDir)}"}""") == """{"ok":true,"result":"registered"}""")
      val sql = "WITH up AS (SELECT DISTINCT uid, " +
        "CAST(FLOOR(CAST(CAST(CAST(unix_timestamp(ts) AS DOUBLE)/86400 " +
        "AS BIGINT) AS DOUBLE)/7) AS BIGINT) AS p FROM adm_ret) " +
        "SELECT cur.p, count(DISTINCT cur.uid) AS retained " +
        "FROM up cur JOIN up prev ON cur.uid = prev.uid " +
        "AND prev.p = cur.p - 1 GROUP BY cur.p"
      val resp = cli.rpc(s"""{"verb":"advise","namePrefix":"wr","workloadSql":["${escaped(
        sql)}"]}""")
      assert(resp.startsWith("""{"ok":true"""), resp)
      assert(resp.contains(""""retention":[{"""), resp)
      assert(resp.contains(""""periods":[7]""") &&
        resp.contains(""""bitmapId":"uid_xd"""") &&
        resp.contains(""""uncovered":[]"""), resp)
      // cohort-VALUE advice over the wire: the raw LTV SQL folds into
      // the same retention-family rec, its config carrying the
      // weighted measure (the section a wire client materializes)
      val cvSql = "WITH g AS (SELECT uid, " +
        "CAST(CAST(unix_timestamp(ts) AS DOUBLE)/86400 AS BIGINT) AS p, " +
        "sum(CAST(value AS DECIMAL(18,2))) AS w " +
        "FROM adm_ret GROUP BY 1, 2), " +
        "f AS (SELECT uid, min(p) AS cohort FROM g GROUP BY 1) " +
        "SELECT f.cohort, g.p - f.cohort AS age, count(*) AS active, " +
        "CAST(sum(g.w) AS DOUBLE) AS v " +
        "FROM g JOIN f ON g.uid = f.uid GROUP BY 1, 2"
      val cvResp = cli.rpc(s"""{"verb":"advise","namePrefix":"wcv","workloadSql":["${escaped(
        cvSql)}"]}""")
      assert(cvResp.startsWith("""{"ok":true"""), cvResp)
      assert(cvResp.contains(""""retention":[{""") &&
        // the config rides as an embedded JSON string, quotes escaped
        cvResp.contains(
          """\"weighted\":[{\"id\":\"value_w\",\"idPath\":\"uid\",\"weightPath\":\"value\"}]""") &&
        cvResp.contains(""""uncovered":[]"""), cvResp)
      // funnel advice over the wire: the min-join chain SQL yields a
      // materializable day+step-dimmed bitmap config wired to getFunnel
      val funSrcDir = tmp("graft_admin_funs") + "/src"
      (0 until 300).map { i =>
        (new java.sql.Timestamp(
            1700000000000L + (i % 15) * 86400000L),
          (i % 25).toLong, Seq("a", "b")(i % 2)) }
        .toDF("ts", "uid", "step").write.parquet(funSrcDir)
      assert(cli.rpc(s"""{"verb":"registerTable","name":"adm_fun","parquet":"${escaped(
        funSrcDir)}"}""") == """{"ok":true,"result":"registered"}""")
      val funSql = "WITH ev AS (SELECT uid, step, " +
        "CAST(CAST(unix_timestamp(ts) AS DOUBLE)/86400 AS BIGINT) AS p " +
        "FROM adm_fun), " +
        "t1 AS (SELECT uid, MIN(p) AS t FROM ev WHERE step = 'a' " +
        "GROUP BY uid), " +
        "t2 AS (SELECT ev.uid, MIN(ev.p) AS t FROM ev " +
        "JOIN t1 ON ev.uid = t1.uid AND ev.p >= t1.t " +
        "WHERE ev.step = 'b' GROUP BY ev.uid), " +
        "days AS (SELECT DISTINCT p AS day FROM ev) " +
        "SELECT days.day, COUNT(DISTINCT t2.uid) AS converted " +
        "FROM days JOIN t2 ON t2.t <= days.day GROUP BY days.day"
      val funResp = cli.rpc(s"""{"verb":"advise","namePrefix":"wf","workloadSql":["${escaped(
        funSql)}"]}""")
      assert(funResp.startsWith("""{"ok":true"""), funResp)
      assert(funResp.contains(""""funnel":[{""") &&
        funResp.contains(""""stepDim":"step"""") &&
        funResp.contains(""""chains":[["a","b"]]""") &&
        funResp.contains(""""uncovered":[]"""), funResp)
      svc.deleteCube("tr1")
      CubeCatalog.clear()
    } finally { cli.close(); server.stop() }
  }

  test("cumulative and funnel wire verbs == in-process") {
    import spark.implicits._
    val svc = new CubeService(spark, tmp("graft_admin_cum"))
    val server = new AdminServer(svc, spark)
    val port = server.start()
    val cli = new Client(port)
    try {
      val rnd = new scala.util.Random(29)
      val rows = (0 until 400).map { i =>
        (Seq("view", "click", "purchase")(rnd.nextInt(3)),
          new java.sql.Timestamp(
            1700000000000L + rnd.nextInt(20) * 86400000L),
          (i % 9).toDouble, rnd.nextInt(30).toLong)
      }
      val srcDir = tmp("graft_admin_cums") + "/src"
      rows.toDF("event_type", "ts", "value", "user_id")
        .write.parquet(srcDir)
      val cfg = """{"name":"cw","source":"events","dims":[{"kind":"field","id":"etype","path":"event_type"},{"kind":"time","id":"day","path":"ts","granularity":"day"}],"measures":[{"id":"v","path":"value"}],"bitmaps":[{"id":"u","path":"user_id"}],"weighted":[{"id":"ltv","idPath":"user_id","weightPath":"value"}]}"""
      assert(cli.rpc(s"""{"verb":"createCube","config":"${escaped(cfg)}","sourceParquet":"${escaped(
        srcDir)}"}""") == """{"ok":true,"result":"cw"}""")
      // lifetime curve over the wire == in-process, row for row
      val wire = cli.rpc(
        """{"verb":"getCumulative","name":"cw","dayDim":"day","sumOf":["v"],"exactDistinctOf":["u"]}""")
      assert(wire.startsWith("""{"ok":true"""), wire)
      val inProc = svc.getCumulative("cw", "day", sumOf = Seq("v"),
        exactDistinctOf = Seq("u")).collect()
      assert(inProc.nonEmpty && inProc.forall(r =>
        wire.contains(s""""cum_exact_u":${r.getAs[Long]("cum_exact_u")}""")),
        s"wire=$wire")
      // the reset form routes through (month ordinal restarts)
      val ytd = cli.rpc(
        """{"verb":"getCumulative","name":"cw","dayDim":"day","exactDistinctOf":["u"],"resetBy":"month"}""")
      assert(ytd.startsWith("""{"ok":true"""), ytd)
      val ytdProc = svc.getCumulative("cw", "day",
        exactDistinctOf = Seq("u"), resetBy = Some("month")).collect()
      assert(ytdProc.forall(r =>
        ytd.contains(s""""new_exact_u":${r.getAs[Long]("new_exact_u")}""")))
      // funnel over the wire == in-process
      val fw = cli.rpc(
        """{"verb":"getFunnel","name":"cw","dayDim":"day","bitmapId":"u","stepDim":"etype","steps":["view","click","purchase"]}""")
      assert(fw.startsWith("""{"ok":true"""), fw)
      val fProc = svc.getFunnel("cw", "day", "u", "etype",
        Seq("view", "click", "purchase")).collect()
      assert(fProc.nonEmpty && fProc.forall(r =>
        fw.contains(s""""converted":${r.getAs[Long]("converted")}""")),
        s"wire=$fw")
      // time-to-convert over the wire == in-process
      val tw = cli.rpc(
        """{"verb":"getTimeToConvert","name":"cw","dayDim":"day","bitmapId":"u","stepDim":"etype","steps":["view","click","purchase"]}""")
      assert(tw.startsWith("""{"ok":true"""), tw)
      val tProc = svc.getTimeToConvert("cw", "day", "u", "etype",
        Seq("view", "click", "purchase")).collect()
      assert(tProc.nonEmpty && tProc.forall(r =>
        tw.contains(s""""lag_periods":${r.getAs[Long]("lag_periods")}""")),
        s"wire=$tw")
      // structured refusals, not hangs: no measures / too few steps /
      // an unbounded lag fan-out
      assert(cli.rpc(
        """{"verb":"getCumulative","name":"cw","dayDim":"day"}""")
        .startsWith("""{"ok":false"""))
      assert(cli.rpc(
        """{"verb":"getFunnel","name":"cw","dayDim":"day","bitmapId":"u","stepDim":"etype","steps":["view"]}""")
        .startsWith("""{"ok":false"""))
      assert(cli.rpc(
        """{"verb":"getTimeToConvert","name":"cw","dayDim":"day","bitmapId":"u","stepDim":"etype","steps":["view","click"],"maxLagPeriods":1000}""")
        .startsWith("""{"ok":false"""))
      // cohort triangle over the wire == in-process
      val cw2 = cli.rpc(
        """{"verb":"getCohortMatrix","name":"cw","dayDim":"day","bitmapId":"u","periodDays":1}""")
      assert(cw2.startsWith("""{"ok":true"""), cw2)
      val cProc = svc.getCohortMatrix("cw", "day", "u", periodDays = 1)
        .collect()
      assert(cProc.nonEmpty && cProc.forall(r =>
        cw2.contains(s""""retained":${r.getAs[Long]("retained")}""")), cw2)
      // cohort VALUE (the LTV triangle) over the wire == in-process —
      // the weighted section arrived through the hand-written wire
      // config above, so this also pins the config parse path
      val cvw = cli.rpc(
        """{"verb":"getCohortValue","name":"cw","dayDim":"day","weightedId":"ltv","periodDays":1}""")
      assert(cvw.startsWith("""{"ok":true"""), cvw)
      val cvProc = svc.getCohortValue("cw", "day", "ltv", periodDays = 1)
        .collect()
      assert(cvProc.nonEmpty && cvProc.forall(r =>
        cvw.contains(s""""value":${r.getAs[Double]("value")}""")), cvw)
      // a non-weighted measure id refuses structurally
      assert(cli.rpc(
        """{"verb":"getCohortValue","name":"cw","dayDim":"day","weightedId":"u"}""")
        .startsWith("""{"ok":false"""))
      // the exact leaderboard over the wire == in-process; the
      // fan-out bound is a structured refusal
      val tsw = cli.rpc(
        """{"verb":"getTopSpenders","name":"cw","dayDim":"day","weightedId":"ltv","k":3,"periodDays":1}""")
      assert(tsw.startsWith("""{"ok":true"""), tsw)
      val tsProc = svc.getTopSpenders("cw", "day", "ltv", k = 3,
        periodDays = 1).collect()
      assert(tsProc.nonEmpty && tsProc.forall(r =>
        tsw.contains(s""""id":${r.getAs[Long]("id")}""")), tsw)
      assert(cli.rpc(
        """{"verb":"getTopSpenders","name":"cw","dayDim":"day","weightedId":"ltv","k":101}""")
        .startsWith("""{"ok":false"""))
      // the revenue bridge over the wire == in-process
      val vgw = cli.rpc(
        """{"verb":"getValueGrowthAccounting","name":"cw","dayDim":"day","weightedId":"ltv","periodDays":1}""")
      assert(vgw.startsWith("""{"ok":true"""), vgw)
      val vgProc = svc.getValueGrowthAccounting("cw", "day", "ltv",
        periodDays = 1).collect()
      assert(vgProc.nonEmpty && vgProc.forall(r =>
        vgw.contains(s""""churned_value":${r.getAs[Double]("churned_value")}""")),
        vgw)
      // overlap matrix over the wire == in-process
      val ow = cli.rpc(
        """{"verb":"getOverlapMatrix","name":"cw","dim":"etype","bitmapId":"u"}""")
      assert(ow.startsWith("""{"ok":true"""), ow)
      val oProc = svc.getOverlapMatrix("cw", "etype", "u").collect()
      assert(oProc.nonEmpty && oProc.forall(r =>
        ow.contains(s""""overlap":${r.getAs[Long]("overlap")}""")), ow)
      // asOfVersion: fold a delta, then the wire's historical serve
      // must equal the captured pre-fold response byte for byte
      val v0 = svc.currentCubeVersion("cw")
      import org.apache.spark.sql.functions.lit
      svc.updateAggregates("cw",
        rows.take(40).toDF("event_type", "ts", "value", "user_id")
          .withColumn("user_id", col("user_id") + 1000L))
      val wireHead = cli.rpc(
        """{"verb":"getCumulative","name":"cw","dayDim":"day","exactDistinctOf":["u"]}""")
      val wireAsOf = cli.rpc(
        s"""{"verb":"getCumulative","name":"cw","dayDim":"day","exactDistinctOf":["u"],"asOfVersion":$v0}""")
      assert(wireAsOf.startsWith("""{"ok":true"""), wireAsOf)
      assert(wireAsOf != wireHead, "the fold must move the head")
      val asOfProc = svc.getCumulativeAsOf("cw", v0, "day",
        exactDistinctOf = Seq("u")).collect()
      assert(asOfProc.forall(r => wireAsOf.contains(
        s""""cum_exact_u":${r.getAs[Long]("cum_exact_u")}""")), wireAsOf)
      // JOIN verbs compose with as-of too: a tiny join MV, one fold,
      // and the wire as-of serve equals the in-process captured one
      val jLeft = Seq((1L, "view"), (2L, "click")).toDF("lk", "etype")
      val jRight = rows.take(60)
        .toDF("event_type", "ts", "value", "user_id")
        .withColumn("rk", (col("user_id") % 2) + 1)
        .select("rk", "ts", "value", "user_id")
      svc.createJoinCube(
        JoinCubeConfig(
          CubeConfig("cwj", "l_r",
            dims = Seq(TimeDim("day", "ts", "day")),
            measures = Nil,
            bitmaps = Seq(Measure("u", "user_id"))),
          leftKey = "lk", rightKey = "rk"),
        jLeft, jRight)
      val jv0 = svc.currentJoinCubeVersion("cwj")
      svc.updateJoinAggregates("cwj",
        jLeft.limit(0).withColumn("_sign", lit(1L)),
        jRight.limit(30).withColumn("user_id", col("user_id") + 500L)
          .withColumn("_sign", lit(1L)))
      val jWireAsOf = cli.rpc(
        s"""{"verb":"getJoinCumulative","name":"cwj","dayDim":"day","exactDistinctOf":["u"],"asOfVersion":$jv0}""")
      assert(jWireAsOf.startsWith("""{"ok":true"""), jWireAsOf)
      val jAsOfProc = svc.getJoinCumulativeAsOf("cwj", jv0, "day",
        exactDistinctOf = Seq("u")).collect()
      assert(jAsOfProc.nonEmpty && jAsOfProc.forall(r =>
        jWireAsOf.contains(
          s""""cum_exact_u":${r.getAs[Long]("cum_exact_u")}""")),
        jWireAsOf)
      // non-retained version still refuses over the wire
      assert(cli.rpc(
        s"""{"verb":"getJoinCumulative","name":"cwj","dayDim":"day","exactDistinctOf":["u"],"asOfVersion":${jv0 - 5}}""")
        .startsWith("""{"ok":false"""))
      svc.deleteJoinCube("cwj")
      svc.deleteCube("cw")
    } finally { cli.close(); server.stop() }
  }
}

package perfbench

import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** cube_maintain: one admin client on one loopback connection to an
  * `AdminServer` over a `CubeService`, folding seeded change streams into
  * two cubes while serving them. A cycle is one `updateAggregates` into
  * each cube followed by three serves (`getAggregates` on the plain cube,
  * then `getRolling` and `getRetention` on the bitmap cube), so every
  * serve reads a cube version published since the previous serve of it.
  * (Folding one cube per cycle, the cubes in turn, made each serve verb's
  * latency bimodal: slower after a fold of the cube it reads.)
  *
  * The plain cube (`sum`/count by event type and day) folds deltas alone;
  * the bitmap cube (exact distinct users by day) also receives the
  * post-batch source, from which its delete-capable fold recomputes the
  * cells a batch touched. A fold op is named after its cube and its
  * batch's shape (`recent` or `spread`, see [[GenData]]), so each shape
  * has its own latency population. The streams are written from the seed
  * before set-up starts. */
final class Maintain(spark: SparkSession, args: Main.Args) extends Workload {
  import Maintain._

  private val work = args.work.resolve("maintain")
  val storageRoot: Path = work.resolve("store")
  private val streams =
    Seq("mA", "mB").map(n => new Stream(n, args.work.resolve("stream").resolve(n)))
  private var server: graft.cube.AdminServer = _
  private var client: Client = _
  private val deltaBytes = mutable.Map.empty[Int, Long]
  private val rowsServed = mutable.Map.empty[Int, Long]

  def setup(): Unit = {
    Files.createDirectories(work)
    val service = new graft.cube.CubeService(spark, storageRoot.toString)
    server = new graft.cube.AdminServer(service, spark)
    client = new Client(server.start())
    streams.foreach(s => client.ok(s"""{"verb":"createCube","config":"${
      esc(s.config)}","sourceParquet":"${esc(s.basePath)}"}"""))
    Main.log("maintain cubes created")
    // warm-up: the JIT is still compiling Spark's fold and serve paths
    // through the first few cycles, and those cycles read slower. Serves
    // are cheap beside folds, so extra rounds of them warm their paths
    // without using up the streams or much set-up time.
    val warm = mutable.ArrayBuffer.empty[Op]
    (1 to WarmCycles).foreach(_ => cycle(warm, traced = false))
    (1 to WarmServeRounds).foreach(_ => serve(warm, traced = false))
    require(warm.forall(_.ok), "a warm-up request failed")
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Main.Outcome = {
    tracer.foreach(_.start())
    val classes0 = Tracer.compiledClasses
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while ((ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) &&
        streams.forall(_.hasNext))
      cycle(ops, tracer.isDefined)
    val classes = Tracer.compiledClasses - classes0
    val done = ops.toSeq
    val layer = tracer.map { tr =>
      tr.drain()
      val at = new Attribution(done, tr, Main.cores)
      val base = LayerSummary(done, at, classes, Main.cores, args.out,
        s"${args.workload}-s${args.seed}")
      val folds = done.filter(_.kind == "fold").map(o => o -> at.split(o.id))
      val serves = done.filter(_.kind == "serve").map(o => o -> at.split(o.id))
      val mb = 1024.0 * 1024.0
      base ++ Seq(
        "cube.service.fold_jobs" -> Stats.mean(folds.map(_._2("exec.jobs"))),
        "cube.service.write_amp" -> folds.map(_._2("exec.output_mb")).sum /
          math.max(1e-9, folds.map(f => deltaBytes(f._1.id)).sum / mb),
        "cube.service.rows_per_result" ->
          serves.map(_._2("exec.input_rows")).sum /
            math.max(1.0, serves.map(s => rowsServed(s._1.id)).sum.toDouble),
        "cube.admin.self_s" ->
          Stats.mean(done.map(o => at.split(o.id)("cube.admin.self_s"))))
    }.getOrElse(Nil)
    Main.Outcome(done, done.size, done.count(!_.ok),
      Main.latencyMetrics(done, done.filter(_.kind == "serve")), layer)
  }

  /** One fold into each cube, then the three serves. */
  private def cycle(ops: mutable.ArrayBuffer[Op], traced: Boolean): Unit = {
    streams.foreach { s =>
      val foldId = ops.size
      deltaBytes(foldId) = s.nextDeltaBytes
      val name = s.nextOpName
      ops += timed(foldId, "fold", name, s.nextFold(), traced)
    }
    serve(ops, traced)
  }

  /** The three serves, one after another. */
  private def serve(ops: mutable.ArrayBuffer[Op], traced: Boolean): Unit =
    Serves.foreach { case (verb, req) =>
      ops += timed(ops.size, "serve", verb, req, traced)
    }

  private def timed(id: Int, kind: String, name: String, req: String,
      traced: Boolean): Op = {
    val startMs = System.currentTimeMillis()
    val c0 = if (traced) Tracer.compileNs else 0L
    val st = Steal.sample()
    val s = System.nanoTime()
    val resp = client.rpc(req)
    val e = System.nanoTime()
    val stolen = Steal.share(st, Steal.sample())
    val ok = resp.startsWith("""{"ok":true""")
    if (!ok) System.err.println(s"[perfbench] $name failed: ${resp.take(300)}")
    rowsServed(id) = Json.objects(resp).size.toLong
    Op(id, kind, name, startMs, s, s, e,
      if (traced) Tracer.compileNs - c0 else 0L, ok, stolen)
  }

  /** Each cube's final serve must equal a plain Spark group-by over its
    * stream's net source: base plus inserts minus deletes, where an
    * update is a delete of the old row and an insert of the new one. */
  def check(): Checks = {
    val results = streams.map { s =>
      val net = s.netSource(spark)
      val (req, expected) =
        if (s.name == "mA")
          ("""{"verb":"getAggregates","name":"mA","dims":["etype","d"],"sumOf":["v"]}""",
            net.groupBy(col("event_type").as("etype"),
              date_trunc("day", col("ts")).as("d"))
              .agg(sumV, count(lit(1)).as("n_rows")))
        else
          ("""{"verb":"getAggregates","name":"mB","dims":["d"],"sumOf":["v"],"exactDistinctOf":["u"]}""",
            net.groupBy(date_trunc("day", col("ts")).as("d"))
              .agg(sumV, countDistinct(col("user_id")).as("n_exact_u"),
                count(lit(1)).as("n_rows")))
      val got = Json.objects(client.ok(req)).map(Json.normalize).toSet
      val want = expected.toJSON.collect().toSeq.map(Json.normalize).toSet
      if (got != want) System.err.println(s"[perfbench] CHECK FAILED ${s.name}: " +
        s"${(got -- want).take(3)} served, ${(want -- got).take(3)} expected")
      got == want && got.nonEmpty
    }
    client.close()
    server.stop()
    Checks(results.size, results.count(!_))
  }
}

object Maintain {
  val WarmCycles = 4
  val WarmServeRounds = 8

  val Serves: Seq[(String, String)] = Seq(
    "getAggregates" ->
      """{"verb":"getAggregates","name":"mA","dims":["etype"],"sumOf":["v"]}""",
    "getRolling" ->
      """{"verb":"getRolling","name":"mB","dayDim":"d","windowDays":7,"exactDistinctOf":["u"],"sumOf":["v"]}""",
    "getRetention" ->
      """{"verb":"getRetention","name":"mB","dayDim":"d","bitmapId":"u","periodDays":7}""")

  /** The service-layer metrics, which the sweep does not exercise. */
  val noServiceLayer: Seq[(String, Double)] = Seq(
    "cube.service.fold_jobs" -> 0.0, "cube.service.write_amp" -> 0.0,
    "cube.service.rows_per_result" -> 0.0, "cube.admin.self_s" -> 0.0)

  private val sumV =
    sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v")

  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** One cube's change stream as `GenData stream` wrote it under
    * `dir`: `base`, then per batch its signed rows (`delta/bNN`), the live
    * rows after it (`source/bNN`, for the bitmap cube's fold) and its shape
    * (`shapes.txt`). */
  final class Stream(val name: String, dir: Path) {
    val basePath: String = dir.resolve("base").toString
    private val shapes = Files.readAllLines(dir.resolve("shapes.txt")).asScala
      .toSeq.filter(_.nonEmpty).map(_.split('\t')(0))
    private val batches = shapes.size
    private def batch(kind: String, b: Int) = dir.resolve(f"$kind/b$b%02d")
    private var folded = 0

    val config: String = if (name == "mA")
      """{"name":"mA","source":"events","dims":[{"kind":"field","id":"etype","path":"event_type"},{"kind":"time","id":"d","path":"ts","granularity":"day"}],"measures":[{"id":"v","path":"value"}]}"""
    else
      """{"name":"mB","source":"events","dims":[{"kind":"time","id":"d","path":"ts","granularity":"day"}],"bitmaps":[{"id":"u","path":"user_id"}],"measures":[{"id":"v","path":"value"}]}"""

    def hasNext: Boolean = folded < batches
    def nextOpName: String = s"updateAggregates:$name:${shapes(folded)}"
    def nextDeltaBytes: Long =
      Files.walk(batch("delta", folded)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum

    /** The next fold request; advances the stream. */
    def nextFold(): String = {
      val b = folded
      folded += 1
      val src = if (name == "mB")
        s""","sourceParquet":"${esc(batch("source", b).toString)}"""" else ""
      s"""{"verb":"updateAggregates","name":"$name","deltaParquet":"${
        esc(batch("delta", b).toString)}"$src}"""
    }

    /** The live rows after every fold made so far: the base plus the
      * signed rows of each folded batch, netted per distinct row. Derived
      * from the deltas, not from the generator's snapshots, and a row
      * deleted more often than inserted fails the check. */
    def netSource(spark: SparkSession): DataFrame = {
      val base = spark.read.parquet(basePath).withColumn("_sign", lit(1))
      val signed = if (folded == 0) base else base.unionByName(spark.read
        .parquet((0 until folded).map(batch("delta", _).toString): _*))
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
      val net = signed.groupBy(cols.map(col): _*).agg(sum("_sign").as("n"))
      require(net.filter(col("n") < 0 || col("n") > 1).isEmpty,
        s"$name: the stream nets a row to a count other than 0 or 1")
      net.filter(col("n") === 1).drop("n")
    }
  }

  /** One connection, one request in flight. */
  final class Client(port: Int) {
    private val sock = new Socket(java.net.InetAddress.getLoopbackAddress, port)
    private val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      sock.getOutputStream, StandardCharsets.UTF_8), true)
    private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      sock.getInputStream, StandardCharsets.UTF_8))
    def rpc(line: String): String = { out.println(line); in.readLine() }
    def ok(line: String): String = {
      val r = rpc(line)
      require(r != null && r.startsWith("""{"ok":true"""),
        s"admin request failed: ${line.take(200)} -> ${String.valueOf(r).take(300)}")
      r
    }
    def close(): Unit = sock.close()
  }
}

/** Just enough JSON for the admin wire's flat row objects. */
object Json {
  private val Obj = """\{[^{}\[\]]*\}""".r
  private val Field = """"([^"]+)":("(?:[^"\\]|\\.)*"|[^,}]+)""".r
  def objects(resp: String): Seq[String] = {
    val i = resp.indexOf("\"result\":[")
    if (i < 0) Nil else Obj.findAllIn(resp.substring(i)).toSeq
  }
  /** Field map with numbers in canonical form, so `12`, `12.0` and a
    * decimal `12.00` compare equal. */
  def normalize(obj: String): Map[String, String] =
    Field.findAllMatchIn(obj).map { m =>
      val v = m.group(2)
      m.group(1) -> (if (v.startsWith("\"")) v
        else try new java.math.BigDecimal(v).stripTrailingZeros.toPlainString
        catch { case _: NumberFormatException => v })
    }.toMap
}

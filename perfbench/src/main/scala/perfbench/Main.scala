package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it, makes the data and
  * launches it as
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sf dir> --work <scratch dir> --out <trace dir>
  *   --golden <golden.tsv> [--record]
  * }}}
  * and relays the last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`. The exit code is nonzero when an
  * output check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, out: Path, golden: Path,
      record: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("work")),
      Paths.get(need("out")), Paths.get(need("golden")), a.contains("--record"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The latency readings every workload reports, each built from
    * per-operation medians so that every sample counts and no reading
    * depends on how many passes fit the run. An operation is a declared
    * query, or an admin request kind on cube_maintain. `total_s` is the sum
    * over the operations of each one's median latency: one pass over the
    * panel (one cycle of every request kind) at typical speed.
    * `query_p50_s` and `query_p90_s` are quantiles over the reads' medians
    * (a read is a declared query, or a serve verb), and `ops_per_s` is
    * completed ops per second of client time. */
  def latencyMetrics(ops: Seq[Op], reads: Seq[Op]): Seq[(String, Double, String)] = {
    def medians(xs: Seq[Op]) = xs.filter(_.ok).groupBy(_.name).values
      .map(os => Stats.median(os.map(_.wall))).toSeq
    val perRead = medians(reads)
    val ok = ops.filter(_.ok)
    Seq(("total_s", medians(ops).sum, "s"),
      ("query_p50_s", Stats.median(perRead), "s"),
      ("query_p90_s", Stats.quantile(perRead, 0.9), "s"),
      ("ops_per_s", ok.size / math.max(1e-9, ok.map(_.wall).sum), "1/s"))
  }

  /** What a workload hands back: its ops in order, the e2e readings it
    * owns, and the outcome of its output checks. */
  final case class Outcome(ops: Seq[Op], attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], layer: Seq[(String, Double)])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // cube_maintain's change streams are its inputs, drawn from the seed;
    // they are written before the set-up clock starts
    if (args.workload == "cube_maintain")
      GenData.stream(args.work.resolve("stream"), args.seed)
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val exit = try {
      val wl: Workload = args.workload match {
        case "sweep" => new Sweep(spark, args)
        case "cube_maintain" => new Maintain(spark, args)
        case w => sys.error(s"unknown workload '$w'")
      }
      log("session started")
      wl.setup()
      log("setup done")
      val setupS = (System.nanoTime() - t0) / 1e9
      val out =
        if (!args.trace) wl.measure(args.seconds, None)
        else {
          // tracing overhead: the same loop traced, between two untraced
          // quarters, so that the JIT still warming up through the run
          // does not count as overhead
          val before = wl.measure(args.seconds / 4, None)
          val traced = wl.measure(args.seconds / 2, Some(new Tracer(spark)))
          val after = wl.measure(args.seconds / 4, None)
          def median(o: Outcome*) = Stats.median(o.flatMap(_.ops).filter(_.ok).map(_.wall))
          val all = Seq(before, traced, after)
          traced.copy(attempted = all.map(_.attempted).sum,
            failed = all.map(_.failed).sum, layer = traced.layer :+
              ("trace.overhead_s" -> (median(traced) - median(before, after))))
        }
      // every timed op's latency, in order, for looking at a run afterwards
      Files.createDirectories(args.out)
      Files.write(args.out.resolve(s"${args.workload}-s${args.seed}.ops.tsv"),
        out.ops.map(o => s"${o.id}\t${o.kind}\t${o.name}\t${o.wall}\t${o.stolen}")
          .asJava)
      log("timed phase done")
      val checks = wl.check()
      log("checks done")
      val heapMb = liveHeapMb()
      val storage = Storage.measure(wl.storageRoot)
      val attempted = out.attempted + checks.attempted
      val failed = out.failed + checks.failed
      val metrics: Seq[(String, Double, String)] =
        if (args.trace) (out.layer ++ storage.layer)
          .map { case (k, v) => (k, v, Units.of(k)) }
        else Seq(("setup_s", setupS, "s")) ++ out.metrics ++ Seq(
          ("storage_mb", storage.mb, "MB"), ("heap_live_mb", heapMb, "MB"))
      val json = metrics.map { case (k, v, u) =>
        s""""$k":{"value":${Stats.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
      val ok = failed == 0
      println(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$json}""")
      if (ok) 0 else 1
    } finally spark.stop()
    sys.exit(exit)
  }

  /** `graft.Bench`'s session shape: `local[nproc]`, `nproc` shuffle
    * partitions, Spark's defaults otherwise. */
  def session(work: Path): SparkSession = {
    val cpus = cores.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  /** Progress on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f $msg")

  /** Heap in use after a forced collection: the least of three readings
    * a moment apart, since Spark's context cleaner frees released
    * broadcast and shuffle state only after a collection has found it. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

/** A named workload: set-up (counted in `setup_s`), a closed-loop timed
  * phase, and output checks made after it. */
trait Workload {
  def setup(): Unit
  def measure(seconds: Double, tracer: Option[Tracer]): Main.Outcome
  def check(): Checks
  /** Where the engine persists state during this workload. */
  def storageRoot: Path
}

final case class Checks(attempted: Int, failed: Int)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Units {
  def of(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (Set("exec.slot_util", "exec.task_skew", "cube.service.write_amp",
        "cube.service.rows_per_result").contains(metric)) "ratio"
    else "count"
}

/** Bytes and files under a storage root. Hard links (publish-stable
  * snapshots share the head's files) count once. `versionsMb` is what
  * retained non-head versions hold: everything under a `<cube>.versions`
  * directory. */
final case class Storage(mb: Double, files: Int, versionsMb: Double) {
  def layer: Seq[(String, Double)] = Seq(
    "cube.storage.files" -> files.toDouble,
    "cube.storage.versions_mb" -> versionsMb)
}

object Storage {
  def measure(root: Path): Storage = {
    if (!Files.exists(root)) return Storage(0, 0, 0)
    val seen = mutable.Set.empty[AnyRef]
    var total, versions = 0L
    var files = 0
    Files.walk(root).iterator().asScala.foreach { p =>
      val a = Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      if (a.isRegularFile && seen.add(Option(a.fileKey).getOrElse(p))) {
        files += 1
        total += a.size
        if (root.relativize(p).iterator().asScala
            .exists(_.toString.endsWith(".versions")))
          versions += a.size
      }
    }
    val mb = 1024.0 * 1024.0
    Storage(total / mb, files, versions / mb)
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The declared-query sweep over the fixed [[Panels]]. Each timed op is
  * one declared query built through its `SparkEntry.queries` builder and
  * run as the full declared result through the `noop` sink (the
  * `graft.Bench` timed unit). Passes repeat over the panel, each in a
  * fresh seed-permuted order, until the run's seconds are spent; a pass is
  * never cut short. */
final class Sweep(spark: SparkSession, args: Main.Args) extends Workload {
  private val declared = graft.SparkEntry.queries
  private val rowsOnly = declared.keySet -- graft.SparkEntry.oracleSql.keySet
  private val cubeQueries = graft.cube.CubeQueries.defs.keySet
  val panel: Seq[String] = Panels.all
  require(panel.forall(declared.contains),
    s"panel names no declared query: ${panel.filterNot(declared.contains)}")
  val storageRoot: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  private val rng = new scala.util.Random(args.seed)
  private val golden = Golden.load(args.golden)
  private var checks = Checks(0, 0)

  def setup(): Unit = {
    // output check: every panel query runs once into a fingerprint, in
    // this run's order. Then one untimed pass through the timed unit fills
    // Spark's generated-class cache, as a `graft.Bench` pass finds it, and
    // lets the JIT compile the query paths.
    checks = fingerprint(rng.shuffle(panel))
    rng.shuffle(panel).foreach(name =>
      declared(name)(spark, args.data).write.format("noop").mode("overwrite")
        .save())
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Main.Outcome = {
    tracer.foreach(_.start())
    val classes0 = Tracer.compiledClasses
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      rng.shuffle(panel).foreach { name =>
        val id = ops.size
        val startMs = System.currentTimeMillis()
        val st = Steal.sample()
        val s = System.nanoTime()
        val c0 = if (tracer.isDefined) Tracer.compileNs else 0L
        var b = s
        val ok = try {
          val df = declared(name)(spark, args.data)
          b = System.nanoTime()
          // the built DataFrame's own phases (analysis; optimization and
          // rewrite-rule runs too where the builder forced a plan) reach no
          // listener, since no action runs on it
          tracer.foreach(_.record(df.queryExecution))
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
        }
        val e = System.nanoTime()
        val c = if (tracer.isDefined) Tracer.compileNs - c0 else 0L
        ops += Op(id, if (cubeQueries(name)) "cube" else "sql", name, startMs, s,
          b, e, c, ok, Steal.share(st, Steal.sample()))
      }
    }
    val classes = Tracer.compiledClasses - classes0
    val done = ops.toSeq
    val failed = done.count(!_.ok)
    val layer = tracer.map { tr =>
      tr.drain()
      val at = new Attribution(done, tr, Main.cores)
      LayerSummary(done, at, classes, Main.cores, args.out,
        s"${args.workload}-s${args.seed}") ++ Maintain.noServiceLayer
    }.getOrElse(Nil)
    Main.Outcome(done, done.size, failed,
      Main.latencyMetrics(done, done), layer)
  }

  def check(): Checks = checks

  /** Fingerprints each query's result (rows plus an order-independent
    * hash with `graft.Verify`'s discipline, taken straight from the result
    * rather than from a parquet dump) and compares it with the golden
    * record; rows-only queries compare rows.
    * With `--record` the fingerprints are written as the new golden. */
  private def fingerprint(names: Seq[String]): Checks = {
    val got = names.map { name =>
      Main.log(s"fingerprint $name")
      name -> (try Some(Golden.fingerprint(declared(name)(spark, args.data)))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        None
      })
    }
    if (args.record) Golden.write(args.golden,
      got.collect { case (n, Some(fp)) => n -> fp }, rowsOnly)
    val bad = got.filterNot { case (name, fp) =>
      (fp, golden.get(name)) match {
        case (Some(f), Some(g)) => f.rows == g.rows &&
          (rowsOnly(name) || f.hash == g.hash)
        case (Some(_), None) => args.record
        case _ => false
      }
    }
    bad.foreach { case (n, fp) => System.err.println(
      s"[perfbench] CHECK FAILED $n: got $fp, golden ${golden.get(n)}") }
    Checks(names.size, bad.size)
  }
}

final case class Fingerprint(rows: Long, hash: String)

/** The golden fingerprint file: `name<TAB>rows<TAB>hash`, with `*` as the
  * hash of rows-only queries (randomized or model-dependent results). */
object Golden {
  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.columns.toSeq.sorted
    val strs = cols.map(c => coalesce(col(c).cast("string"), lit("NULL")))
    val agg = df.select(xxhash64(strs: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("hs")).head()
    Fingerprint(agg.getLong(0), Option(agg.getDecimal(1))
      .map(_.toBigInteger.toString(16)).getOrElse("empty"))
  }

  def load(p: Path): Map[String, Fingerprint] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map {
        case Array(n, r, h) => n -> Fingerprint(r.toLong, h)
      }.toMap

  def write(p: Path, fps: Seq[(String, Fingerprint)], rowsOnly: Set[String]): Unit = {
    val merged = load(p) ++ fps.map { case (n, f) =>
      n -> (if (rowsOnly(n)) f.copy(hash = "*") else f) }
    Files.write(p, merged.toSeq.sortBy(_._1)
      .map { case (n, f) => s"$n\t${f.rows}\t${f.hash}" }.asJava)
  }
}

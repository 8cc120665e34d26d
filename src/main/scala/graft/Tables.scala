package graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table access for the driver-generated star schema.
  *
  * All declared queries read only `s"$sfDir/<table>.parquet"` (driver
  * contract, SURVEY.md §7.5). Reads are plain parquet scans so Catalyst
  * pushes filters and prunes columns down to the file source — at 100 TB
  * the scan cost is dominated by what reaches the parquet reader, so every
  * query should select/filter early and let pushdown do the rest.
  */
object Tables {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  /** DataFrame reuse per (session, path): the logical plan (and with it
    * the file listing + parquet footer/schema read) is built once per
    * table per run instead of once per query — a fixed-cost win across a
    * 60+-query Verify/Bench drive. The DATA is not `.cache()`d: every
    * query still scans parquet with its own pushed filters/pruning, so
    * plans are unchanged. */
  private val frames =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frames.getOrElseUpdate((spark, s"$sfDir/$name.parquet"),
      spark.read.parquet(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is schema-adaptive — the driver has regenerated the
    * dataset across rounds with different parquet timestamp physics, and
    * every query downstream expects a plain session-TZ TIMESTAMP:
    *  - TIMESTAMP(NANOS) (early rounds): Spark 4 refuses to read it
    *    natively, so read as a nanos long (legacy conf) and rebuild a
    *    microsecond timestamp (integer `div` — a double division would
    *    lose precision above 2^53 ns; truncation matches DuckDB ns→µs);
    *  - TIMESTAMP(MICROS) without isAdjustedToUTC (current): arrives as
    *    TIMESTAMP_NTZ, which `unix_micros`/watermarks reject — cast to
    *    TIMESTAMP. The session TZ is pinned UTC everywhere (Verify/
    *    Bench/specs), so the wall-clock values are identical to what
    *    DuckDB's naive read of the same file produces;
    *  - plain TIMESTAMP: as-is.
    * Dispatching on the footer schema keeps all events queries working
    * across data regenerations without touching the queries. */
  def events(s: SparkSession, d: String): DataFrame =
    frames.getOrElseUpdate((s, s"$d/events.parquet#ts"), {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = table(s, d, "events")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    })
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Parquet-footer row count, cached per path — driver-side METADATA
    * read only, no Spark job: row counts come straight from the file
    * footers (the same place a count(*) aggregate-pushdown reads them).
    * For two-pass operators that need |corpus| before planning (q84's
    * analytic sample threshold) this keeps the graded function from
    * running a pre-plan count job; at cluster scale footers are O(files)
    * driver metadata, exactly what a catalog would serve. */
  // path -> (data version, row count). Keying by path with the version
  // held in the VALUE means a rewritten dataset replaces its stale
  // entry instead of accumulating one per version, and two (stamp,
  // fileCount) pairs can never alias each other the way a concatenated
  // string key could ("…@1@23" vs "…@12@3").
  private val counts =
    scala.collection.concurrent.TrieMap.empty[String, ((Long, Int), Long)]

  /** SIZE-GATED scan spread (optimization round 18, guide §2.6): the
    * local test tables are single-file, SINGLE-ROW-GROUP parquet, so a
    * scan — and every map-side operator fused onto it (shingle/gram
    * explodes, per-row signatures, brute-force dot products, partial
    * aggregates) — runs in ONE task no matter how many cores the
    * session has; the heavy text/embedding pipelines were measured
    * single-threaded to their first exchange. When the frame's
    * optimizer size estimate says the input cannot fill the session's
    * cores (< ~4 MB/core — below that the scan gets at most a couple
    * of splits), one cheap hash repartition spreads the downstream
    * map work; past that size the source's own splits parallelize the
    * scan and this is the identity — so at any real scale the extra
    * exchange vanishes rather than re-shuffling a corpus (the
    * derive-from-input-size discipline, not a local[32] constant).
    * Hash on a provided key, never round-robin: round-robin pays a
    * sort-before-repartition INSIDE the single scan task and is
    * retry-sensitive. Callers apply it AFTER pushed filters/pruned
    * projections, so scan pushdown is untouched. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(p.toLong) * 4L * 1024 * 1024) df.repartition(p, key)
    else df
  }

  /** The Hadoop listing the footer reads share: `path`'s status and
    * every visible file under it, recursing into subdirectories
    * (partitioned datasets nest files under key=value dirs). Entries
    * Spark's file index skips are skipped at every level: names starting
    * `_` or `.` (which takes the `_metadata` summaries too) and in-flight
    * `._COPYING_` files. */
  private final case class Listing(conf: Configuration, fs: FileSystem,
      root: FileStatus, files: Array[FileStatus])

  private def listing(spark: SparkSession, path: String): Listing = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def collect(st: FileStatus): Array[FileStatus] = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_"))
        Array.empty
      else if (st.isDirectory) fs.listStatus(st.getPath).flatMap(collect)
      else Array(st)
    }
    val root = fs.getFileStatus(p)
    Listing(conf, fs, root,
      if (root.isDirectory) fs.listStatus(p).flatMap(collect) else Array(root))
  }

  private def withFooter[A](conf: Configuration, st: FileStatus)(
      f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try f(r) finally r.close()
  }

  def footerRowCount(spark: SparkSession, path: String): Long = {
    // key the cache on the newest mtime seen, so a dataset rewritten at
    // the same path is re-counted instead of served a stale total
    val l = listing(spark, path)
    val stamp =
      if (l.files.isEmpty) 0L else l.files.map(_.getModificationTime).max
    val version = (stamp, l.files.length)
    counts.get(path) match {
      case Some((`version`, n)) => n
      case _ =>
        val n = l.files.map(withFooter(l.conf, _)(_.getRecordCount)).sum
        counts.put(path, (version, n))
        n
    }
  }

  /** `spark.read.parquet(path)` without its schema-inference job. Without
    * schema merging, Spark infers a directory's schema from ONE footer,
    * the first data file's in path order, but reads it in a one-task job;
    * for a flat directory this reads that footer on the driver and hands
    * the schema to the reader, so the scan plans with no job at all.
    * Everything else takes the plain read, so its errors surface as
    * before: see [[footerSchema]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's inference would read for a flat parquet
    * directory: Spark's row-metadata key when the footer has one, else
    * the parquet schema converted under the session's conf (both are
    * what `ParquetFileFormat.readSchemaFromFooter` does inside the
    * inference job). None, for the plain read to handle, when `path` is
    * a single file, a partitioned, nested or empty directory, or holds a
    * `_metadata`/`_common_metadata` summary (inference prefers those);
    * when `spark.sql.parquet.mergeSchema` is on; or when listing or the
    * footer read fails. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val l = listing(spark, path)
      val dir = l.root.getPath
      val flat = l.root.isDirectory && l.files.nonEmpty &&
        l.files.forall(_.getPath.getParent == dir) &&
        !Seq("_metadata", "_common_metadata")
          .exists(n => l.fs.exists(new Path(dir, n)))
      if (!flat) None
      else {
        val first = l.files.minBy(_.getPath.toString)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, withFooter(l.conf, first)(_.getFooter)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    } catch { case NonFatal(_) => None }
}

package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.util.Try

import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Pins the driver-side footer reads: the footer-count cache's
  * versioning (the cache key is the path, the value carries the (max
  * mtime, file count) version, so a rewrite at the same path is
  * re-counted — and replaces the stale entry instead of accumulating one
  * entry per data version), and `Tables.parquet`'s schema, which must be
  * the one Spark's inference reads, whether it came from a footer or
  * from the plain-read fallback. */
class TablesSpec extends AnyFunSuite {
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

  test("footerRowCount tracks rewrites at the same path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 100).toDF("id").coalesce(2)
      .write.mode("overwrite").parquet(path)
    assert(Tables.footerRowCount(spark, path) == 100L)
    // cached: a second call with unchanged data serves the same count
    assert(Tables.footerRowCount(spark, path) == 100L)
    spark.range(0, 37).toDF("id").coalesce(2)
      .write.mode("overwrite").parquet(path)
    // force the version stamp past any fs mtime granularity — the two
    // writes above can land in the same clock tick with the same file
    // count, which is exactly the aliasing the versioned cache must see
    // through once the stamp differs
    val bump = System.currentTimeMillis() + 60000L
    new java.io.File(path).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(f => assert(f.setLastModified(bump)))
    assert(Tables.footerRowCount(spark, path) == 37L,
      "rewritten dataset served a stale cached count")
  }

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** `Tables.parquet`'s schema equals the inferred one; `footer` says
    * whether it must have come from a footer read or the fallback. */
  private def assertParity(path: String, footer: Boolean): Unit = {
    assert(Tables.footerSchema(spark, path).isDefined == footer,
      s"$path: expected the ${if (footer) "footer" else "fallback"} read")
    assert(Tables.parquet(spark, path).schema ==
      spark.read.parquet(path).schema, path)
  }

  /** One parquet file written without Spark (no row-metadata key). */
  private def writeExample(file: String, schema: String, n: Int): Unit = {
    val tpe = MessageTypeParser.parseMessageType(s"message t { $schema }")
    val groups = new SimpleGroupFactory(tpe)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(file)))
      .withType(tpe).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try (0 until n).foreach { i =>
      val g = groups.newGroup()
      tpe.getFields.forEach(f => f.getName match {
        case "id" => g.append("id", i.toLong)
        case "name" => g.append("name", s"n$i")
        case "ts" => g.append("ts", 1700000000000000L + i)
        case "lts" => g.append("lts", 1700000000000000L - i)
      })
      w.write(g)
    } finally w.close()
  }
  private val exampleSchema = "optional int64 id; " +
    "optional binary name (UTF8); " +
    "optional int64 ts (TIMESTAMP(MICROS,true)); " +
    "optional int64 lts (TIMESTAMP(MICROS,false));"

  test("Tables.parquet reads a cube head's schema from its footer") {
    val s = spark
    import s.implicits._
    val src = tmp("graft_tables_src") + "/src"
    (0 until 300).map(i => (Seq("click", "view")(i % 2),
      new Timestamp(1700006400000L + (i % 5) * 86400000L + i * 1000L),
      (i % 40).toLong, s"sku${i % 13}", (i % 23) / 4.0))
      .toDF("etype", "ts", "uid", "sku", "value").write.parquet(src)
    val cfg = CubeConfig("allfam", "events",
      Seq(FieldDim("etype", "etype"), TimeDim("day", "ts", "day")),
      measures = Seq(Measure("v", "value")),
      sketches = Seq(Measure("uh", "uid")),
      quantiles = Seq(Measure("vq", "value")),
      extremes = Seq(Measure("vx", "value")),
      freq = Seq(Measure("kf", "sku")),
      bitmaps = Seq(Measure("ub", "uid")),
      dictBitmaps = Seq(Measure("sb", "sku")),
      weighted = Seq(WeightedMeasure("wv", "uid", "value")))
    val store = tmp("graft_tables_store")
    val svc = new CubeService(spark, store)
    svc.createCube(cfg, spark.read.parquet(src))
    val head = spark.read.parquet(s"$store/allfam")
    Seq("v", "uh", "vq", "vx", "kf", "kf_cand", "ub", "sb", "wv")
      .foreach(c => assert(head.columns.exists(_.contains(c)), c))
    assertParity(s"$store/allfam", footer = true)
    assertParity(s"$store/allfam.dict/sb", footer = true)
  }

  test("Tables.parquet converts a footer without Spark's metadata key") {
    val dir = tmp("graft_tables_example") + "/t"
    Files.createDirectories(Paths.get(dir))
    // the first file in path order is the one inference reads, however
    // the files were written
    writeExample(s"$dir/part-1.parquet", "optional int64 id;", 10)
    writeExample(s"$dir/part-0.parquet", exampleSchema, 5)
    assertParity(dir, footer = true)
    assert(Tables.parquet(spark, dir).count() == 15L)
  }

  test("Tables.parquet falls back to the plain read where inference differs") {
    val s = spark
    import s.implicits._
    // a single-file path
    val single = tmp("graft_tables_single") + "/one.parquet"
    writeExample(single, exampleSchema, 3)
    assertParity(single, footer = false)
    // a partitioned directory: the partition column comes from the paths
    val parted = tmp("graft_tables_parted") + "/p"
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.partitionBy("k")
      .parquet(parted)
    assertParity(parted, footer = false)
    // a summary file: inference reads `_common_metadata` (then
    // `_metadata`) before any data file, so its schema wins
    Seq("_common_metadata", "_metadata").foreach { summary =>
      val dir = tmp("graft_tables_summary") + "/t"
      Files.createDirectories(Paths.get(dir))
      writeExample(s"$dir/part-0.parquet", "optional int64 id;", 2)
      writeExample(s"$dir/$summary", exampleSchema, 1)
      assertParity(dir, footer = false)
      assert(Tables.parquet(spark, dir).columns.contains("name"), summary)
    }
    // schema merging: the union of the files' schemas, not the first's
    val merged = tmp("graft_tables_merge") + "/t"
    Files.createDirectories(Paths.get(merged))
    writeExample(s"$merged/part-0.parquet", "optional int64 id;", 2)
    writeExample(s"$merged/part-1.parquet", exampleSchema, 2)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertParity(merged, footer = false)
      assert(Tables.parquet(spark, merged).columns.contains("name"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assertParity(merged, footer = true)
    // an empty directory and an unreadable footer: both reads fail alike
    val empty = tmp("graft_tables_empty")
    val corrupt = tmp("graft_tables_corrupt")
    Files.writeString(Paths.get(corrupt, "part-0.parquet"), "not parquet")
    Seq(empty, corrupt).foreach { dir =>
      assert(Tables.footerSchema(spark, dir).isEmpty, dir)
      // the failing job's own message carries stage and task numbers:
      // compare the error's class and its root cause
      def failure(read: => Any) = Try(read).failed.toOption.map { e =>
        val root = Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).toSeq.last
        (e.getClass, root.getClass, root.getMessage)
      }
      val plain = failure(spark.read.parquet(dir).collect())
      assert(plain.isDefined, dir)
      assert(failure(Tables.parquet(spark, dir).collect()) == plain, dir)
    }
  }
}

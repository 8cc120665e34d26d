package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the dataset-assembly operators — what the
  * oracle's hash equality cannot express: rate accuracy, bin bounds,
  * quota exactness. */
class SamplingSpec extends AnyFunSuite with graft.LiveSession {
  private val sfDir = "/root/testdata/sf0.01"

  test("stratified sample hits each stratum's rate within 10 points") {
    val docs = graft.Tables.documents(spark, sfDir)
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.stratifiedKeep(spark, docs).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.3,
      "fr" -> 0.2, "zh" -> 0.2)
    expected.foreach { case (lang, rate) =>
      val got = kept.getOrElse(lang, 0L).toDouble / total(lang)
      assert(math.abs(got - rate) < 0.10,
        f"$lang: kept $got%.2f of docs, target $rate%.2f")
    }
  }

  test("sequence packing: bins are contiguous and respect the greedy bound") {
    val bins = Sampling.q71SequencePack(spark, sfDir).collect()
    val byLang = bins.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      val ids = rows.map(_.getAs[Long]("bin")).sorted
      assert(ids.head == 0L, s"$lang: first bin is ${ids.head}")
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"$lang: bins not contiguous: ${ids.toSeq}")
      // greedy bound: a bin stops growing once the cumulative offset
      // crosses the budget, so its tokens < budget + its largest doc —
      // bounded above by budget + the stratum's max doc size
      val maxDoc = graft.Tables.documents(spark, sfDir)
        .filter(col("lang") === lang)
        .select(max(size(split(col("text"), " ")))).head().getInt(0)
      rows.dropRight(1).foreach { r => // last bin may be a short tail
        val t = r.getAs[Long]("bin_tokens")
        assert(t < 512L + maxDoc, s"$lang bin ${r.getAs[Long]("bin")}: $t")
        assert(t > 0L)
      }
    }
  }

  test("dataset mix: every source contributes exactly min(quota, |source|)") {
    val docs = graft.Tables.documents(spark, sfDir)
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sampling.q73DatasetMix(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_sel")).toMap
    perSource.foreach { case (src, n) =>
      val i = src.stripPrefix("src").toInt
      val quota = math.floor((if (i < 4) 0.10 else 0.0375) * 1000).toLong
      assert(got.getOrElse(src, 0L) == math.min(quota, n),
        s"$src: got ${got.getOrElse(src, 0L)}, quota $quota, available $n")
    }
  }

  test("threshold mix (q88) == window mix (q73) row-for-row") {
    // the sort-free threshold-selection path must reproduce the window
    // form's exact selection at every scale it is graded on
    for (dir <- Seq("/root/testdata/sf0.001", sfDir)) {
      val window = Sampling.q73DatasetMix(spark, dir).collect()
        .map(_.toString).toSeq
      val threshold = Sampling.q88ThresholdMix(spark, dir).collect()
        .map(_.toString).toSeq
      assert(window.nonEmpty)
      assert(threshold == window, s"$dir: threshold mix diverged")
    }
  }

  test("concurrent first calls build the q145 fixture once, whole") {
    // a fresh scale dir, so both calls below are first calls
    val sf = java.nio.file.Files.createTempDirectory("graft_fixture_sf")
      .toString
    val docs = graft.Tables.documents(spark, sfDir)
    docs.write.parquet(s"$sf/documents.parquet")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await(); Sampling.ensureCompactFixture(spark, sf)
          }
        }))
      start.countDown()
      val dirs = calls.map(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
      assert(dirs.distinct.size == 1, dirs)
      val frag = spark.read.parquet(s"${dirs.head}/frag")
      assert(frag.count() == docs.count())
      assert(frag.select("doc_id").distinct().count() == docs.count())
      // two concurrent OPTIMIZE rewrites of the shared <fixture>/opt
      // directory: each must finish and inventory every document
      val again = new java.util.concurrent.CountDownLatch(1)
      val optimizes = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
          def call(): Seq[org.apache.spark.sql.Row] = {
            again.await()
            Sampling.q145CompactOptimize(spark, sf).collect().toSeq
          }
        }))
      again.countDown()
      val inventories =
        optimizes.map(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
      assert(inventories.distinct.size == 1, inventories)
      assert(inventories.head.map(_.getLong(1)).sum == docs.count())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirs.head))
    } finally {
      pool.shutdown()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sf))
    }
  }
}

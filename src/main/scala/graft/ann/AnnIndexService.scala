package graft.ann

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.Similarity

/** A loaded persisted IVF index: the refined centroids (K rows) and the
  * clustered vector corpus (union of the index's append-only segments,
  * each parquet partitioned by `cent_id`). */
final case class AnnIndex(name: String, k: Int, lloydIters: Int,
    centroids: DataFrame, vectors: DataFrame)

/** Persisted IVF ANN index lifecycle — create / load / query / upsert /
  * streaming maintenance — through the same durable-publish discipline
  * as the cube service ([[graft.cube.CubeService]]): a real pipeline
  * builds the index ONCE and serves many query batches across
  * restarts, where the session-local centroid cache behind q51 dies
  * with the JVM.
  *
  * Storage layout under `storageDir`:
  * {{{
  * <name>.ann/MANIFEST      one line: current version number
  * <name>.ann/v<j>/centroids/   K-row parquet (cent_id, ce, cn)
  * <name>.ann/v<j>/segments     text: one live segment name per line
  * <name>.ann/v<j>/meta         "k=…\nlloydIters=…"
  * <name>.ann/v<j>/batch_id     replay guard (streaming upserts)
  * <name>.ann/v<j>/stream_id    stream identity the batch_id belongs to
  * <name>.ann/v<j>/tombstones/  delete sidecar: (vec_id, up_to_seg)
  * <name>.ann/seg<j>/           vector parquet PARTITIONED BY cent_id
  * }}}
  *
  * Scale design, deliberately log-structured:
  * - Segments are APPEND-ONLY: an upsert assigns the new vectors to
  *   their nearest PERSISTED centroid (one broadcast of K rows, map-only
  *   scoring) and writes one new segment — the existing corpus is never
  *   rewritten, so maintenance cost is ∝ |delta| at any index size.
  *   Versions are metadata: a new `segments` list + MANIFEST swap (the
  *   versioned-manifest pattern; centroids are K rows and are rewritten
  *   per version for self-containment — negligible against segments).
  * - Each segment is parquet `partitionBy("cent_id")` — the ON-DISK
  *   inverted file. A query batch probes nprobe clusters per query, the
  *   probed cluster ids are collected (bounded by |queries| × nprobe by
  *   construction — the query batch is the SMALL side) and pushed as a
  *   literal `IN` filter, so the scan reads ONLY the probed cluster
  *   directories: query cost ∝ probed-cluster volume, not corpus size,
  *   straight from disk with no shuffle of the big side.
  * - Deletes use a TOMBSTONE SIDECAR, never a segment rewrite: each
  *   version carries a small `(vec_id, up_to_seg)` parquet set meaning
  *   "this id's rows in segments numbered ≤ up_to_seg are dead". A
  *   delete stamps the CURRENT max segment number, so a later re-insert
  *   (which always lands in a HIGHER-numbered segment) is live again
  *   with no tombstone surgery, and an update (delete + insert in one
  *   change batch) serves only its new row. The mask is applied at load
  *   as one BROADCAST anti-join (the sidecar is delta-sized; segments
  *   stay immutable), so delete cost is ∝ |deletes| at any index size —
  *   the LSM delete-bitmap economics. [[compactIndex]] physically drops
  *   masked rows and clears the sidecar; run it when the sidecar, not
  *   the data, has grown into the read path.
  *
  * Streaming maintenance composes the change-stream seam
  * ([[graft.sources.MongoChangeStream]] wire format): each micro-batch
  * decodes to vectors, is assigned against the persisted centroids, and
  * publishes one segment + version. Exactly-once follows the join-MV
  * discipline: each version records the micro-batch id it folded plus
  * the stream identity (canonical changeDir) the id belongs to;
  * replayed ids from the same stream are skipped, a CHANGED identity
  * refuses to start unless explicitly re-homed (batch ids are
  * checkpoint-relative — resuming the guard against a new stream would
  * silently swallow its first batches). */
class AnnIndexService(spark: SparkSession, storageDir: String,
    retainAnnVersions: Int = 2) {
  // ≥2 is the deferred-GC floor (readers that predate the current
  // publish keep a live version); retention ABOVE 2 is the TIME-TRAVEL
  // window — the cube-service contract on the index lifecycle
  require(retainAnnVersions >= 2,
    s"retainAnnVersions must be >= 2, got $retainAnnVersions")
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storageDir))

  // cache stamped with the MANIFEST version it was loaded at: a second
  // service instance on the same storageDir (the restart/multi-reader
  // pattern) can publish past this instance's cache, and the
  // deferred-by-one segment GC makes a two-versions-stale cached plan
  // read deleted files — loadIndex re-reads the one-line MANIFEST
  // (cheap) and reloads when it moved
  private val live = TrieMap.empty[String, (Int, AnnIndex)]
  private val autoUpdates = TrieMap.empty[String, StreamingQuery]

  private def root(name: String) =
    java.nio.file.Paths.get(storageDir, s"$name.ann")

  private def version(name: String): Int = {
    val m = root(name).resolve("MANIFEST")
    if (m.toFile.exists()) java.nio.file.Files.readString(m).trim.toInt
    else -1
  }

  private def vdir(name: String, v: Int) = root(name).resolve(s"v$v")

  /** An explicit re-home writes the combined `replay_guard` file
    * ("<batch>\n<id>") ATOMICALLY into the current version dir; when
    * present it overrides the per-field files (publish writes into a
    * fresh version dir made visible only by the MANIFEST swap, so its
    * per-field writes need no in-place atomicity — the
    * join-MV store's resetStreamMeta discipline in CubeService). */
  private def guardOverride(name: String, v: Int): Option[(Long, Option[String])] = {
    val f = vdir(name, v).resolve("replay_guard")
    if (!f.toFile.exists()) None
    else {
      val lines = java.nio.file.Files.readString(f).linesIterator.toSeq
      Some((lines.head.trim.toLong, lines.lift(1).map(_.trim)))
    }
  }

  private def lastBatch(name: String): Long = {
    val v = version(name)
    if (v < 0) -1L
    else guardOverride(name, v).map(_._1).getOrElse {
      val f = vdir(name, v).resolve("batch_id")
      if (f.toFile.exists()) java.nio.file.Files.readString(f).trim.toLong
      else -1L
    }
  }

  private def streamId(name: String): Option[String] = {
    val v = version(name)
    if (v < 0) None
    else guardOverride(name, v) match {
      case Some((_, sid)) => sid
      case None =>
        val f = vdir(name, v).resolve("stream_id")
        if (f.toFile.exists())
          Some(java.nio.file.Files.readString(f).trim)
        else None
    }
  }

  private def segmentsOf(name: String, v: Int): Seq[String] =
    java.nio.file.Files.readString(vdir(name, v).resolve("segments"))
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  private def segSeq(seg: String): Int = seg.stripPrefix("seg").toInt

  /** The version's tombstone sidecar — empty frame when none exists. */
  private def tombstonesOf(name: String, v: Int): DataFrame = {
    val dir = vdir(name, v).resolve("tombstones")
    if (dir.toFile.exists() && v >= 0)
      spark.read.parquet(dir.toString)
    else {
      import spark.implicits._
      Seq.empty[(Long, Int)].toDF("vec_id", "up_to_seg")
    }
  }

  /** Public (spec-facing) view of the live sidecar. */
  def tombstones(name: String): DataFrame = {
    val v = version(name)
    require(v >= 0, s"ANN index '$name' does not exist under $storageDir")
    tombstonesOf(name, v)
  }

  private def metaOf(name: String, v: Int): (Int, Int) = {
    val m = java.nio.file.Files.readString(vdir(name, v).resolve("meta"))
      .linesIterator.map(_.split('=')).map(a => a(0) -> a(1).toInt).toMap
    (m("k"), m("lloydIters"))
  }

  /** Normalize a (vec_id, embedding) frame to the internal
    * (vec_id, embedding, nrm) shape. */
  private def withNorm(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
      Similarity.normExpr("embedding").as("nrm"))

  /** Publish the next version: segment data must already be on disk;
    * this writes the version dir (centroids + segment list + replay
    * metadata) and atomically swaps MANIFEST. Superseded version dirs
    * are cleaned DEFERRED BY ONE (the join-MV discipline — readers that
    * predate this publish still list the previous version's centroid
    * files). Segment directories unreferenced by BOTH retained versions
    * are GC'd here too — append-only folds never create those (every
    * old segment stays referenced), only [[compactIndex]] does, and its
    * superseded segments become collectible exactly one publish later,
    * when no retained version can still list them. */
  private def publish(name: String, v: Int, cents: DataFrame,
      segments: Seq[String], k: Int, lloydIters: Int,
      batchId: Option[Long], sid: Option[String],
      tombs: Option[DataFrame] = None): AnnIndex = {
    val lb = batchId.getOrElse(lastBatch(name))
    val s = sid.orElse(streamId(name))
    val dir = vdir(name, v)
    java.nio.file.Files.createDirectories(dir)
    cents.write.mode("overwrite").parquet(dir.resolve("centroids").toString)
    // the sidecar is version-complete: every publish writes the full
    // (delta-sized) set — explicit when the fold changed it, carried
    // forward from the previous version otherwise. Deduped to one row
    // per id (max up_to_seg wins — the widest mask subsumes the rest).
    val carried = tombs.getOrElse(
      if (v > 0) tombstonesOf(name, v - 1)
      else { import spark.implicits._
        Seq.empty[(Long, Int)].toDF("vec_id", "up_to_seg") })
    carried.groupBy(col("vec_id"))
      .agg(max(col("up_to_seg")).as("up_to_seg"))
      .write.mode("overwrite").parquet(dir.resolve("tombstones").toString)
    java.nio.file.Files.writeString(dir.resolve("segments"),
      segments.mkString("\n"))
    java.nio.file.Files.writeString(dir.resolve("meta"),
      s"k=$k\nlloydIters=$lloydIters")
    java.nio.file.Files.writeString(dir.resolve("batch_id"), lb.toString)
    s.foreach(x =>
      java.nio.file.Files.writeString(dir.resolve("stream_id"), x))
    val tmp = root(name).resolve("MANIFEST.tmp")
    java.nio.file.Files.writeString(tmp, v.toString)
    java.nio.file.Files.move(tmp, root(name).resolve("MANIFEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // GC version dirs one publish past the advertised window
    // ((v − retain, v] — [[listIndexVersions]]): the extra grace
    // version keeps an in-flight as-of read of the window's oldest
    // version alive through a concurrent publish (the cube-service
    // deferred-GC argument). Segments referenced by ANY kept version
    // stay; compaction's superseded segments become collectible only
    // when the last kept version listing them ages out.
    val keep = (v - retainAnnVersions to v).filter(_ >= 0).toSet
    Option(root(name).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("v") && f.isDirectory
        && !f.getName.drop(1).toIntOption.exists(keep.contains))
      .foreach(rm)
    val referenced = keep.toSeq
      .filter(x => vdir(name, x).resolve("segments").toFile.exists())
      .flatMap(x => segmentsOf(name, x)).toSet
    Option(root(name).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg")
        && !referenced.contains(f.getName))
      .foreach(rm)
    val loaded = load(name)
    live.put(name, (version(name), loaded))
    loaded
  }

  /** Build and persist version 0: seeded deterministic k-means over the
    * corpus (the q51 build, [[Similarity.buildCentroids]]), every
    * vector assigned to its nearest centroid, written as the first
    * segment partitioned by cluster. `vectors`: (vec_id, embedding). */
  def createIndex(name: String, vectors: DataFrame, k: Int = 16,
      lloydIters: Int = 2): AnnIndex = {
    require(version(name) < 0,
      s"ANN index '$name' already exists under $storageDir")
    val em = withNorm(vectors)
    val cents = Similarity.buildCentroids(em, k, lloydIters)
    val seg = "seg0"
    // overwrite (the compactIndex discipline): a crash between a
    // previous attempt's segment write and its publish leaves an
    // orphan directory here, and ErrorIfExists would wedge every
    // retry permanently
    Similarity.assignWithVec(em, cents)
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(root(name).resolve(seg).toString)
    publish(name, 0, cents, Seq(seg), k, lloydIters, None, None)
  }

  private def load(name: String): AnnIndex = {
    val v = version(name)
    require(v >= 0, s"ANN index '$name' does not exist under $storageDir")
    loadAt(name, v)
  }

  /** Materialize one persisted version's state — centroids + its own
    * segment list + its own tombstone sidecar. Shared by the head load
    * and the as-of read: a version IS a complete self-contained
    * (centroids, segments, tombstones) triple, so time travel falls
    * out of the existing layout with no extra storage. */
  private def loadAt(name: String, v: Int): AnnIndex = {
    val (k, iters) = metaOf(name, v)
    val cents = spark.read.parquet(vdir(name, v).resolve("centroids").toString)
    val raw = segmentsOf(name, v)
      .map(s => spark.read.parquet(root(name).resolve(s).toString)
        // partition-column values come back as inferred ints — restore
        // the long key the probes join on
        .withColumn("cent_id", col("cent_id").cast("long"))
        // segment sequence: the tombstone mask's time axis
        .withColumn("_seg", lit(segSeq(s))))
      .reduce(_.unionByName(_))
    // apply the delete mask: a tombstone (id, u) kills id's rows in
    // segments ≤ u. One broadcast anti-join — the sidecar is small by
    // construction (∝ deletes since last compaction), the corpus never
    // shuffles for it.
    val tombs = tombstonesOf(name, v)
    val vecs = raw.join(broadcast(tombs),
        raw("vec_id") === tombs("vec_id") &&
          raw("_seg") <= tombs("up_to_seg"),
        "left_anti")
      .drop("_seg")
    AnnIndex(name, k, iters, cents, vecs)
  }

  def loadIndex(name: String): AnnIndex = {
    val v = version(name)
    live.get(name) match {
      case Some((cachedV, idx)) if cachedV == v => idx
      case _ =>
        val idx = load(name)
        live.put(name, (v, idx))
        idx
    }
  }

  /** Serve a query batch from the persisted index: assign each query to
    * its nprobe nearest persisted centroids (broadcast of K rows), push
    * the probed cluster ids down as a literal partition filter (the
    * probe set is ≤ |queries| × nprobe — bounded because the query
    * batch is the small side by construction), score candidates with
    * the exact codegen'd cosine, keep the top `topK` per query.
    * `queries`: (query_id, embedding). Self-matches are excluded. */
  def queryIndex(name: String, queries: DataFrame, topK: Int = 5,
      nprobe: Int = 5): DataFrame =
    serveFrom(loadIndex(name), queries, topK, nprobe)

  /** Versions addressable by [[queryIndexAsOf]], oldest first — the
    * newest `retainAnnVersions` publishes including the head (fewer
    * while the index is young). One older version may briefly survive
    * on disk as the deferred-GC grace copy; it is deliberately NOT
    * advertised (it exists so a concurrent publish cannot delete files
    * under an in-flight as-of read of the window's edge). */
  def listIndexVersions(name: String): Seq[Int] = {
    val head = version(name)
    require(head >= 0, s"ANN index '$name' does not exist under $storageDir")
    Option(root(name).toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(f => if (f.getName.startsWith("v"))
        f.getName.drop(1).toIntOption else None)
      .filter(v => v > head - retainAnnVersions && v <= head)
      .sorted
  }

  /** TIME TRAVEL: serve a query batch from a RETAINED historical
    * version — the cube-service as-of contract on the ANN lifecycle
    * ("rerun yesterday's neighbor selection against yesterday's
    * index"). A version is a self-contained (centroids, segments,
    * tombstones) triple and segments are immutable, so the as-of serve
    * is the ordinary probe path over that version's state: vectors a
    * later fold added are invisible, vectors a later delete tombstoned
    * are alive again, and a version that had its own tombstones serves
    * masked exactly as it did at head. Refuses versions outside the
    * advertised window rather than answering from a half-GC'd dir. */
  def queryIndexAsOf(name: String, queries: DataFrame, version: Int,
      topK: Int = 5, nprobe: Int = 5): DataFrame = {
    val retained = listIndexVersions(name)
    require(retained.contains(version),
      s"ANN index '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise retainAnnVersions " +
        "at service construction to widen the time-travel window")
    serveFrom(loadAt(name, version), queries, topK, nprobe)
  }

  private def serveFrom(idx: AnnIndex, queries: DataFrame, topK: Int,
      nprobe: Int): DataFrame = {
    val q = withNorm(queries.select(col("query_id").as("vec_id"),
      col("embedding")))
    // EXHAUSTIVE probe (nprobe ≥ k — the q178/q193 exact-serve form):
    // every query probes every cluster, so the assignment is the full
    // query × cluster cross product BY DEFINITION — no centroid
    // scoring, no driver collect, no partition filter (all cluster
    // directories are read either way). Round 18: the general path
    // below ran a scoring window + collect per serve just to
    // reconstruct this constant set; q193's three as-of serves paid it
    // three times.
    if (nprobe >= idx.k) {
      val probes = q.select(col("vec_id").as("query_id"))
        .crossJoin(idx.centroids.select(col("cent_id")))
      return Similarity.ivfServeWithProbes(q, probes, idx.vectors, topK)
    }
    // the persisted path's one addition to the shared serve: push the
    // probed cluster ids down as a literal partition filter, so the
    // scan reads only the probed cluster directories. The assignment is
    // computed ONCE (this collect is the bounded |queries| × nprobe
    // probe set) and the SAME set feeds both the pushdown filter and
    // the serve's probe join — two separate assign() runs would only
    // agree by the grace of a deterministic tie-break.
    val probePairs = Similarity.assign(q, idx.centroids, keep = nprobe)
      .select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val probedIds = probePairs.map(_._2).distinct
    val cands = idx.vectors.filter(col("cent_id").isin(probedIds: _*))
    import spark.implicits._
    val probes = probePairs.toDF("query_id", "cent_id")
    Similarity.ivfServeWithProbes(q, probes, cands, topK)
  }

  /** Fold new vectors into the index: assign against the PERSISTED
    * centroids (maintenance never re-clusters — assignments stay
    * consistent with every earlier segment), write one new segment,
    * publish the next version. `newVectors`: (vec_id, embedding). */
  def upsertVectors(name: String, newVectors: DataFrame): AnnIndex = {
    require(!autoUpdates.get(name).exists(_.isActive),
      s"stop auto-update on '$name' before a manual upsert — " +
        "concurrent manifest publishes would race")
    fold(name, newVectors, None, None)
  }

  /** Choose the smallest `nprobe` meeting a recall target, measured on
    * a QUERY SAMPLE against exact ground truth. The ground truth is the
    * index's own serve with nprobe = k — probing every cluster makes
    * the IVF path an exact top-k over the (tombstone-masked) corpus,
    * the same argument that gives q178 its full oracle — so tuning
    * needs no external brute-force twin and prices at |sample| ×
    * |corpus| once plus |sample|-sized serves per candidate nprobe
    * (≤ k of them; k is small by construction). Returns
    * (nprobe, measured recall). At 100 TB this is the knob that trades
    * probed-cluster volume for recall, tuned from evidence instead of
    * guessed.
    *
    * DRIVER-MEMORY CONTRACT: the one-serve sweep collects at most
    * |sample| × k × topK candidate rows (4 scalars each) to the
    * driver — k-fold more than one serve's |sample| × topK. The
    * sample is the caller's statistical probe, NOT the corpus: keep
    * it in the 10²-10⁴ query range (the standard recall-estimation
    * size — sampling error shrinks as 1/√n, so 10⁴ already resolves
    * recall to ±1%). At the defaults (k ≤ 64, topK = 5) a 10⁴ sample
    * collects ≤ 3.2M rows ≈ 100 MB — bounded well under
    * spark.driver.maxResultSize; a caller who passes the full query
    * log instead of a sample is misusing the verb. */
  def tuneNprobe(name: String, sampleQueries: DataFrame, topK: Int = 5,
      targetRecall: Double = 0.95): (Int, Double) = {
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    // ONE-SERVE SWEEP (optimization round 18): the former loop ran a
    // full sample-sized serve per candidate width (binary search — 4-5
    // serves at k = 16, each its own corpus-candidate join + collect,
    // measured ~4.8 s at sf0.1). Every width's result is derivable
    // from ONE exhaustive pass instead: rank each query's clusters
    // once (crn = probe order, the assign tiebreak verbatim), score
    // all candidates with the serve's own cosine, keep the top `topK`
    // PER (query, cluster) — the width-np top-k is contained in the
    // union of its clusters' per-cluster top-ks — and collect those
    // |sample| × k × topK rows. The width-np result set is then the
    // driver-side top-k over rows with crn ≤ np under the serve's
    // exact ordering (cos desc, cand_id asc), so every recall equals
    // what a real serve at that width returns, and the binary search
    // runs over the collected rows at zero extra jobs.
    val idx = loadIndex(name)
    val k = idx.k
    val q = withNorm(sampleQueries
      .select(col("query_id").as("vec_id"), col("embedding")))
    val probes = graft.functions.Similarity
      .assignRanked(q, idx.centroids, keep = k)
      .select(col("vec_id").as("query_id"), col("cent_id"), col("crn"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("cent_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val rows = q
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
      .join(broadcast(probes), Seq("query_id"))
      .join(idx.vectors, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.Similarity
        .dotExpr("qe", "embedding") / (col("qn") * col("nrm")))
      .withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("vec_id"), col("cos"), col("crn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    def resultSet(np: Int): Set[(Long, Long)] = rows.iterator
      .filter(_._4 <= np).toSeq
      .groupBy(_._1)
      .iterator // NOT Map.flatMap — tuple results would re-key by qid
      .flatMap { case (qid, cs) =>
        cs.sortBy(c => (-c._3, c._2)).take(topK).map(c => (qid, c._2))
      }.toSet
    val exact = resultSet(k)
    if (exact.isEmpty) return (1, 1.0)
    val recallCache = scala.collection.mutable.Map(k -> 1.0)
    def recall(np: Int): Double = recallCache.getOrElseUpdate(np,
      resultSet(np).intersect(exact).size.toDouble / exact.size)
    // recall is MONOTONE in nprobe — a wider probe's candidate set is a
    // superset, and its top-k can only displace a true neighbor with a
    // higher-cosine vector that is itself in the true top-k — so the
    // minimal width falls out of a binary search over the one
    // collected candidate table.
    var lo = 1; var hi = k
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (recall(mid) >= targetRecall) hi = mid else lo = mid + 1
    }
    (lo, recall(lo))
  }

  /** Tombstone a set of vector ids (`ids`: one `vec_id` column). Marks
    * every existing row of those ids dead by stamping the CURRENT max
    * segment number — a later upsert of the same id lands in a higher
    * segment and is live again without touching the sidecar. Cost:
    * one delta-sized parquet write and a manifest swap; no segment is
    * read, let alone rewritten. */
  def deleteVectors(name: String, ids: DataFrame): AnnIndex = {
    require(!autoUpdates.get(name).exists(_.isActive),
      s"stop auto-update on '$name' before a manual delete — " +
        "concurrent manifest publishes would race")
    val v = version(name)
    require(v >= 0, s"ANN index '$name' does not exist under $storageDir")
    val idx = loadIndex(name)
    val maxSeq = segmentsOf(name, v).map(segSeq).max
    val newTombs = ids.select(col("vec_id").cast("long").as("vec_id"),
      lit(maxSeq).as("up_to_seg"))
    publish(name, v + 1, idx.centroids, segmentsOf(name, v),
      idx.k, idx.lloydIters, None, None,
      tombs = Some(tombstonesOf(name, v).unionByName(newTombs)))
  }

  /** The shared fold (manual verb + the stream's own foreachBatch —
    * which must NOT trip the concurrent-maintainer guard above).
    * `deleteIds` (vec_id) are tombstoned in the SAME publish, stamped
    * with the pre-fold max segment — so a change batch that updates a
    * vector (delete + insert of one id) masks every old row while its
    * new row, landing in the new higher-numbered segment, serves. */
  private def fold(name: String, newVectors: DataFrame,
      batchId: Option[Long], sid: Option[String],
      deleteIds: Option[DataFrame] = None): AnnIndex = {
    val v = version(name)
    val idx = loadIndex(name)
    val prevSegs = segmentsOf(name, v)
    val maxSeq = prevSegs.map(segSeq).max
    val tombs = deleteIds.map(ids =>
      tombstonesOf(name, v).unionByName(
        ids.select(col("vec_id").cast("long").as("vec_id"),
          lit(maxSeq).as("up_to_seg"))))
    val hasInserts = !newVectors.isEmpty
    val segs = if (hasInserts) {
      val seg = s"seg${v + 1}"
      // overwrite: a crash between a previous fold's segment write and
      // its publish (the streaming path replays the same batch id after
      // restart, since lastBatch never advanced) leaves an orphan at
      // this name — ErrorIfExists would fail the replay forever and no
      // publish would ever run to GC it
      Similarity.assignWithVec(withNorm(newVectors), idx.centroids)
        .write.mode("overwrite").partitionBy("cent_id")
        .parquet(root(name).resolve(seg).toString)
      prevSegs :+ seg
    } else prevSegs
    publish(name, v + 1, idx.centroids, segs,
      idx.k, idx.lloydIters, batchId, sid, tombs)
  }

  /** Merge every live segment into ONE new segment (still partitioned
    * by `cent_id`) and publish: the log-structured upsert path trades
    * write amplification for segment fan-out, and after many small
    * folds a query's probed-cluster scan opens |segments| × nprobe
    * directories of mostly-tiny files. Compaction restores the
    * one-segment layout at cost ∝ |corpus| — the classic LSM trade,
    * run when fan-out, not data, is the problem (same economics as the
    * table-side q145 compact-optimize). Results are unchanged by
    * construction: the same rows land in the same cent_id partitions,
    * only file layout moves. Superseded segments stay on disk until the
    * NEXT publish retires the last version referencing them (the
    * deferred-by-one GC in [[publish]]). */
  def compactIndex(name: String, recluster: Boolean = false): AnnIndex = {
    require(!autoUpdates.get(name).exists(_.isActive),
      s"stop auto-update on '$name' before compaction — " +
        "concurrent manifest publishes would race")
    val v = version(name)
    val idx = loadIndex(name)
    val noTombs = tombstonesOf(name, v).isEmpty
    if (!recluster && segmentsOf(name, v).size <= 1 && noTombs)
      idx // compact — no-op
    else {
      val seg = s"seg${v + 1}"
      // `recluster = true` is the missing lifecycle verb for DRIFT:
      // maintenance folds always assign against the CREATE-TIME
      // centroids (deliberate — assignments stay consistent with every
      // earlier segment), so after heavy distribution drift the fixed
      // partition degrades — drifted vectors pile into few clusters
      // (partition pruning stops paying) or straddle stale boundaries
      // (fixed-nprobe recall decays), and tuneNprobe can only
      // compensate by probing wider. Re-clustering re-runs the SAME
      // seeded Lloyd build ([[Similarity.buildCentroids]]) over the
      // surviving (tombstone-masked) corpus and re-assigns every row —
      // cost ∝ |corpus|, the price compaction already pays — after
      // which tuneNprobe re-tunes against the new partition. Over an
      // UNDRIFTED corpus the seeded build reproduces the create-time
      // centroids exactly, so results are bit-identical (pinned in
      // AnnIndexSpec). Old versions still serve their own centroids
      // via queryIndexAsOf — a version is a self-contained triple.
      val em = idx.vectors
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val cents =
        if (recluster) Similarity.buildCentroids(em, idx.k, idx.lloydIters)
        else idx.centroids
      // overwrite: a crashed earlier fold/compact may have left data at
      // this name without ever publishing it. idx.vectors is already
      // tombstone-masked, so compaction PHYSICALLY drops deleted rows —
      // and the sidecar resets to empty (nothing left to mask).
      val rows =
        if (recluster) Similarity.assignWithVec(em, cents)
        else idx.vectors
      rows.write.mode("overwrite").partitionBy("cent_id")
        .parquet(root(name).resolve(seg).toString)
      publish(name, v + 1, cents, Seq(seg), idx.k, idx.lloydIters,
        None, None, tombs = Some({ import spark.implicits._
          Seq.empty[(Long, Int)].toDF("vec_id", "up_to_seg") }))
    }
  }

  /** Continuous maintenance from a directory of change-event JSON lines:
    * inserts land as new segments, deletes and update pre-images as
    * tombstones, both in one consistent publish per micro-batch (see
    * the class doc). `docSchema` must describe (vec_id, embedding).
    * Replay and re-home semantics follow
    * [[graft.cube.CubeService.startJoinAutoUpdate]]. */
  def startAutoUpdate(name: String, changeDir: String,
      docSchema: StructType,
      resetBatchTracking: Boolean = false): StreamingQuery = {
    // validations precede ANY guard mutation, and the reset itself is
    // one atomic move — a failed or torn re-home must never leave the
    // guard destroyed or a batch id paired with the wrong stream
    // identity (either silently re-folds or skips real data; the
    // CubeService.startJoinAutoUpdate discipline)
    require(!autoUpdates.get(name).exists(_.isActive),
      s"ANN auto-update already running on '$name' — stop it first")
    require(new java.io.File(changeDir).isDirectory,
      s"changeDir '$changeDir' does not exist or is not a directory")
    loadIndex(name) // fail fast on an unknown index
    val identity = new java.io.File(changeDir).getCanonicalPath
    val recorded = streamId(name)
    // fire on MISMATCH — or on a MISSING identity while batches were
    // recorded (a legacy or torn state): an unverifiable stream is as
    // dangerous as a provably different one
    if ((lastBatch(name) >= 0 && recorded.forall(_ != identity)) ||
        recorded.exists(_ != identity)) {
      require(resetBatchTracking,
        s"ANN index '$name' recorded batches from stream " +
          s"'${recorded.getOrElse("<unrecorded>")}' but this start " +
          s"targets '$identity'; batch ids are checkpoint-relative — " +
          "pass resetBatchTracking = true to re-home (keeps segments, " +
          "folds from batch 0).")
      val ckpt = new java.io.File(s"$storageDir/$name.ann.checkpoint")
      require(!ckpt.exists(),
        s"checkpoint ${ckpt.getPath} belongs to the previous stream — " +
          s"delete it before re-homing '$name'.")
      val dir = vdir(name, version(name))
      val tmp = dir.resolve("replay_guard.tmp")
      java.nio.file.Files.writeString(tmp, s"-1\n$identity")
      java.nio.file.Files.move(tmp, dir.resolve("replay_guard"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(changeDir)
    val q = raw.writeStream
      .option("checkpointLocation", s"$storageDir/$name.ann.checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastBatch(name)) {
          val delta = graft.sources.MongoChangeStream.decode(batch, docSchema)
          // deletes/update-pre-images become tombstones in the SAME
          // publish as the batch's inserts: an update (delete + insert
          // of one id) masks the old rows while the new row, landing in
          // the new higher-numbered segment, serves
          val dels = delta.filter(col("_sign") < 0).select(col("vec_id"))
          val ins = delta.filter(col("_sign") > 0).drop("_sign")
          fold(name, ins, Some(batchId), Some(identity),
            deleteIds = if (dels.isEmpty) None else Some(dels))
          ()
        }
      }
      .start()
    autoUpdates.put(name, q)
    q
  }

  def stopAutoUpdate(name: String): Unit =
    autoUpdates.remove(name).foreach(_.stop())

  def listIndexes(): Seq[String] = {
    val d = new java.io.File(storageDir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.endsWith(".ann"))
      .map(_.getName.stripSuffix(".ann")).sorted
  }

  def deleteIndex(name: String): Unit = {
    stopAutoUpdate(name)
    live.remove(name)
    rm(root(name).toFile)
    rm(new java.io.File(s"$storageDir/$name.ann.checkpoint"))
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
    ()
  }
}

package graft.cube

import scala.collection.concurrent.TrieMap

import graft.Tables
import graft.streaming.StreamingCube
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}

/** The reference's admin API surface (R7), verb for verb, over the Spark
  * machinery — what an AMQP message handled there is a method call here
  * (SURVEY §2.1 R7: create/load/list/delete cubes, start/stop oplog
  * buffering, start/stop auto-update, manual update, getAggregates).
  *
  * | reference verb      | here                                       |
  * |---------------------|--------------------------------------------|
  * | createCube          | createCube (build + persist + register)    |
  * | loadCube            | loadCube (parquet + config JSON)           |
  * | listCubes           | listCubes                                  |
  * | deleteCube          | deleteCube (drops persistence + registry)  |
  * | start oplog buffer  | implicit: the streaming source buffers     |
  * | startAutoUpdate     | startAutoUpdate (streaming fold, ckpt)     |
  * | stopAutoUpdate      | stopAutoUpdate (query.stop; ckpt = resume) |
  * | updateAggregates    | updateAggregates (manual signed-delta fold)|
  * | getAggregates       | getAggregates (roll-up from the cube)      |
  *
  * One instance per storage root; thread-safe registry.
  */
final class CubeService(spark: SparkSession, storageDir: String,
    retainJmvVersions: Int = 2, retainCubeVersions: Int = 2) {
  // ≥2 is load-bearing, not a default: the deferred-by-one GC contract
  // (readers that predate the current publish keep a live version)
  // IS retention 2 — shrinking below it would delete files under
  // outstanding plans mid-job.
  require(retainJmvVersions >= 2,
    s"retainJmvVersions must be >= 2, got $retainJmvVersions")
  require(retainCubeVersions >= 2,
    s"retainCubeVersions must be >= 2, got $retainCubeVersions")
  private val live = TrieMap.empty[String, Cube]
  private val autoUpdates = TrieMap.empty[String, StreamingQuery]
  // serializes single-table version-manifest recovery/bump arithmetic
  // (publishes themselves are already mutually refused per cube; this
  // guards concurrent cold reads racing a publish's manifest bump)
  private val cubeVersionLock = new Object

  /** R1: full population from the source, persisted + registered.
    * The created state is VERSION 0 of the cube's time-travel history
    * (see [[getAggregatesAsOf]]); re-creating over an existing name
    * resets that history. */
  def createCube(config: CubeConfig, source: DataFrame): Cube = {
    val cube = CubeManager.create(config, source)
    CubeManager.save(cube, storageDir)
    rm(cvRoot(config.name).toFile)
    cvWriteManifest(config.name, 0)
    // register the MATERIALIZED form so queries scan the saved parquet
    // (stable(): serves survive a concurrent later publish)
    val loaded = stable(CubeManager.load(spark, storageDir, config.name))
    live.put(config.name, loaded)
    loaded
  }

  /** The reference's wire shape: createCube from a JSON config message
    * (same schema `CubeManager.save` persists — name/source/dims/
    * measures). */
  def createCube(configJson: String, source: DataFrame): Cube =
    createCube(CubeManager.configFromJson(configJson), source)

  def loadCube(name: String): Cube =
    live.getOrElseUpdate(name, {
      recoverSwap(name)
      stable(CubeManager.load(spark, storageDir, name))
    })

  /** Re-home a loaded head cube's frame onto a hard-link snapshot
    * ([[CubeCatalog.stableRead]]): a serve built from this cube and
    * executed across a concurrent publish reads exactly the version it
    * was built on, instead of failing on the renamed-away head files —
    * the same one-consistent-version discipline the optimizer
    * registrations carry. Snapshot generations GC deferred-by-one
    * load, so the frame a caller holds survives one superseding
    * publish (the jmv argument). */
  private def stable(c: Cube): Cube =
    c.copy(aggregates =
      CubeCatalog.stableRead(spark, s"$storageDir/${c.config.name}"))

  /** Crash recovery for [[updateAggregates]]'s two-rename publish: if
    * the process died between rename-aside and rename-in, the published
    * directory is missing and the previous version sits at `name.old` —
    * restore it before loading.
    *
    * Two concurrent cold `loadCube`s can both reach here
    * (TrieMap.getOrElseUpdate may evaluate the thunk twice); only one
    * ATOMIC_MOVE can win, so the loser treats "target now exists" as
    * success rather than surfacing NoSuchFileException. */
  private def recoverSwap(name: String): Unit = {
    val finalDir = java.nio.file.Paths.get(storageDir, name)
    val oldDir = java.nio.file.Paths.get(storageDir, s"$name.old")
    if (!finalDir.toFile.exists() && oldDir.toFile.exists()) {
      try {
        java.nio.file.Files.move(oldDir, finalDir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch {
        case e: java.io.IOException =>
          if (!finalDir.toFile.exists()) throw e // real failure, not a lost race
      }
    }
  }

  def listCubes(): Seq[String] = CubeManager.list(storageDir)

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
  }

  def deleteCube(name: String): Unit = {
    stopAutoUpdate(name)
    live.remove(name)
    CubeManager.delete(storageDir, name)
    // auxiliary state: the auto-update base snapshot + checkpoint, and
    // any leftover publish staging/aside dirs
    Seq(s"$name.base", s"$name.base.old", s"$name.base.staging",
        s"$name.checkpoint", s"$name.old", s"$name.staging",
        s"$name.versions", s"$name.snap", s"$name.dict")
      .foreach(sfx => rm(new java.io.File(s"$storageDir/$sfx")))
  }

  /** R3 manual trigger: fold a signed-delta batch (insert +1 / delete −1;
    * update = pair) into the persisted aggregates. Deltas without a
    * `_sign` column are treated as inserts.
    *
    * The fold's input plan READS the same parquet directory the result
    * must land in, so the update is staged to a temp sibling and
    * published with a TWO-RENAME swap: the previous version is renamed
    * ASIDE to `name.old` (not deleted), staging renames into place, and
    * only then is the old version removed. The unpublished window is
    * two atomic renames wide (vs. a full recursive delete), and a crash
    * inside it loses nothing — the prior version survives at `name.old`
    * and [[loadCube]] restores it ([[recoverSwap]]). Never an overwrite
    * of files still being read (a contract Spark's write staging does
    * not guarantee across versions). */
  def updateAggregates(name: String, deltas: DataFrame,
      source: Option[DataFrame] = None): Cube = {
    val cube0 = loadCube(name)
    val signed =
      if (deltas.columns.contains("_sign")) deltas
      else deltas.withColumn("_sign", lit(1))
    // Dictionary-bitmap cubes: persist the batch's unseen keys to the
    // dictionaries APPEND-ONLY *before* any fold runs. Append is the
    // crash-safe order — extra dict entries with no bits set are
    // harmless (the key reuses its id when it really arrives), whereas
    // bits referencing unpersisted ids would undercount after a crash.
    // The fold below then re-reads the extended dictionaries, finds no
    // unseen keys, and encodes through the same persisted map.
    // ANY active auto-update stream on this cube publishes concurrently
    // (complete-mode: base ⊕ state; dictionary cubes: per-batch folds) —
    // a manual fold would race those publishes. Stop, fold, restart.
    require(!autoUpdates.get(name).exists(_.isActive),
      s"stop auto-update on '$name' before a manual fold — concurrent " +
        "publishes would race")
    val cube = extendDicts(name, cube0, signed)
    // An auto-update lifecycle exists for this cube (base snapshot +
    // checkpoint): every micro-batch publishes base ⊕ stream-state, so
    // a manual fold that only touched the PUBLISHED aggregates would be
    // silently overwritten by the next micro-batch. Fold the same
    // signed batch into the base snapshot too (its own two-rename
    // swap), so the stream's next publish — and a stop/start resume —
    // carries the manual delta. Folding while the stream is RUNNING
    // would race its publishes and double-read the base mid-swap, so
    // that is refused outright (stop, fold, restart — the scaladoc'd
    // sequence, now enforced).
    val baseDir = java.nio.file.Paths.get(storageDir, s"$name.base")
    recoverBaseSwap(name)
    if (baseDir.toFile.exists()) {
      val baseCube =
        Cube(cube.config, Tables.parquet(spark, baseDir.toString),
          cube.hasDeletes, cube.dicts)
      val newBase = CubeManager.applyDeltas(baseCube, signed, source).aggregates
      val staging = java.nio.file.Paths.get(storageDir, s"$name.base.staging")
      newBase.write.mode("overwrite").parquet(staging.toString)
      val aside = java.nio.file.Paths.get(storageDir, s"$name.base.old")
      rm(aside.toFile)
      java.nio.file.Files.move(baseDir, aside,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(staging, baseDir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      rm(aside.toFile)
    }
    // `source` (the post-delta source state) makes min/max measures
    // delete-capable via targeted cell recompute — see
    // CubeManager.applyDeltas
    val updated = CubeManager.applyDeltas(cube, signed, source)
    // persist the maintenance-state bits (the hasDeletes sketch latch)
    // BEFORE publishing: a crash between the two leaves the latch set
    // with the old aggregates — conservative (sketch serves refused)
    // rather than silently wrong
    if (updated.hasDeletes != cube.hasDeletes)
      CubeManager.saveMeta(updated, storageDir)
    publish(name, updated.aggregates)
  }

  /** Persist a signed batch's UNSEEN dictionary keys append-only and
    * return the cube with the extended dictionaries loaded — the
    * crash-safe order both fold paths (manual + per-batch stream)
    * share: extra dict entries with no bits set are harmless (the key
    * reuses its id when it really arrives), whereas bits referencing
    * unpersisted ids would undercount after a crash. No-op for cubes
    * without dictionary bitmaps. */
  private def extendDicts(name: String, cube0: Cube,
      signed: DataFrame): Cube =
    if (cube0.config.dictBitmaps.isEmpty) cube0
    else {
      val newEntries = CubeManager.newDictEntries(cube0, signed)
      newEntries.foreach { case (id, df) =>
        if (!df.isEmpty)
          df.write.mode("append")
            .parquet(s"$storageDir/$name.dict/$id")
      }
      cube0.copy(dicts =
        CubeManager.loadDicts(spark, storageDir, cube0.config))
    }

  /** Last stream batch id folded into the cube's HEAD (−1 before any
    * stream fold): the dictionary-cube auto-update's replay guard,
    * committed atomically with the aggregates by [[publish]]. */
  private def streamLastBatch(name: String): Long = {
    val p = java.nio.file.Paths.get(storageDir, name, "_stream_meta.json")
    if (p.toFile.exists())
      """"lastBatch"\s*:\s*(-?\d+)""".r
        .findFirstMatchIn(java.nio.file.Files.readString(p))
        .map(_.group(1).toLong).getOrElse(-1L)
    else -1L
  }

  /** Crash recovery for the base-snapshot swap above — the
    * [[recoverSwap]] discipline applied to `name.base`: if the process
    * died between the two renames, the previous base sits at
    * `name.base.old` with nothing at `name.base`. */
  private def recoverBaseSwap(name: String): Unit = {
    val baseDir = java.nio.file.Paths.get(storageDir, s"$name.base")
    val aside = java.nio.file.Paths.get(storageDir, s"$name.base.old")
    if (!baseDir.toFile.exists() && aside.toFile.exists()) {
      java.nio.file.Files.move(aside, baseDir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
  }

  // ------------------------------------- single-table version history
  /** Versioned history for PLAIN cubes — the join-MV time-travel
    * contract generalized (same MANIFEST discipline, same retention
    * semantics): every [[publish]] ARCHIVES the swapped-aside previous
    * head as `<name>.versions/v<k>/` instead of deleting it, bumps the
    * one-line `MANIFEST` (the head's version number), and GCs archived
    * versions that fell out of the advertised window — deferred by one
    * version so an as-of read of the window's oldest version survives a
    * concurrent publish (the jmv deferred-GC argument). The head dir
    * itself is always the newest version; archived dirs hold the
    * aggregates parquet plus an underscore-prefixed `_meta.json`
    * (config + hasDeletes latch at archive time — underscore so Spark's
    * file index skips it). Versions are complete independent states
    * (the swap already materialized them), so retention × |cube| is the
    * whole storage bill — priced on the compacted cube, never the
    * source. */
  private def cvRoot(name: String) =
    java.nio.file.Paths.get(storageDir, s"$name.versions")

  private def cvWriteManifest(name: String, v: Int): Unit = {
    java.nio.file.Files.createDirectories(cvRoot(name))
    val tmp = cvRoot(name).resolve("MANIFEST.tmp")
    java.nio.file.Files.writeString(tmp, v.toString)
    java.nio.file.Files.move(tmp, cvRoot(name).resolve("MANIFEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def cvManifest(name: String): Int = {
    val m = cvRoot(name).resolve("MANIFEST")
    // cubes persisted before versioning existed (or written directly by
    // CubeManager.save) have no manifest: their head is version 0
    if (m.toFile.exists()) java.nio.file.Files.readString(m).trim.toInt
    else 0
  }

  private def cvArchived(name: String): Seq[Int] =
    Option(cvRoot(name).toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(f => if (f.getName.startsWith("v"))
        f.getName.drop(1).toIntOption else None)
      .sorted

  /** Crash recovery for the publish→archive→manifest sequence, run
    * before any version arithmetic. Consistent states satisfy the
    * invariant "archived versions are strictly below the manifest's
    * head version and `name.old` is absent"; the two crash windows
    * violate it recognizably:
    *  - head present + `name.old` present: died after the staging
    *    swap, before archiving — archive the aside as v<manifest> and
    *    bump (its `_meta.json` falls back to the current head meta:
    *    conservative for the hasDeletes latch, never permissive).
    *  - head present + `v<manifest>` archived: died between the
    *    archive move and the manifest bump — just bump.
    * A head that is MISSING is the pre-existing two-rename window:
    * [[recoverSwap]] rolls it back first (nothing was archived yet). */
  private def recoverCubeVersioning(name: String): Unit =
    cubeVersionLock.synchronized {
      recoverSwap(name)
      val finalDir = java.nio.file.Paths.get(storageDir, name)
      if (finalDir.toFile.exists()) {
        val m = cvManifest(name)
        val oldDir = java.nio.file.Paths.get(storageDir, s"$name.old")
        val vdir = cvRoot(name).resolve(s"v$m")
        if (oldDir.toFile.exists()) {
          if (!vdir.toFile.exists()) {
            val metaInOld = oldDir.resolve("_meta.json")
            val headMeta = java.nio.file.Paths.get(storageDir, s"$name.json")
            if (!metaInOld.toFile.exists() && headMeta.toFile.exists()) {
              java.nio.file.Files.copy(headMeta, metaInOld)
              ()
            }
            java.nio.file.Files.createDirectories(cvRoot(name))
            java.nio.file.Files.move(oldDir, vdir,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          } else rm(oldDir.toFile)
          cvWriteManifest(name, m + 1)
        } else if (vdir.toFile.exists()) {
          cvWriteManifest(name, m + 1)
        }
      }
    }

  /** Version number of the cube's current head (0 for a never-updated
    * or pre-versioning cube; +1 per publish — manual fold or streaming
    * micro-batch). */
  def currentCubeVersion(name: String): Int = {
    require(java.nio.file.Paths.get(storageDir, s"$name.json").toFile.exists()
        || java.nio.file.Paths.get(storageDir, name).toFile.exists()
        || java.nio.file.Paths.get(storageDir, s"$name.old").toFile.exists(),
      s"cube '$name' does not exist under $storageDir")
    recoverCubeVersioning(name)
    cvManifest(name)
  }

  /** Versions addressable by [[getAggregatesAsOf]], oldest first — the
    * newest `retainCubeVersions` publishes including the head (fewer
    * while the cube is young). One older version may briefly remain on
    * disk as the deferred-GC grace copy; it is deliberately NOT
    * advertised (it exists to keep a concurrent publish from deleting
    * files under an in-flight as-of read of the window's edge, not to
    * widen the window). */
  def listCubeVersions(name: String): Seq[Int] = {
    val head = currentCubeVersion(name)
    (cvArchived(name).filter(_ > head - retainCubeVersions)
      .filter(_ < head) :+ head).sorted
  }

  /** TIME TRAVEL for plain cubes: the [[getAggregates]] roll-up served
    * from a RETAINED historical version instead of the head — the
    * [[getJoinAggregatesAsOf]] contract on the single-table lifecycle.
    * Every retained version is the exact published fixpoint of its
    * fold prefix (the archive is the swapped-aside head itself, not a
    * copy), so as-of(v) equals what getAggregates returned while v was
    * head. Refuses versions outside the advertised window. The
    * archived `_meta.json` carries the version's own hasDeletes latch,
    * so sketch/extreme refusals apply per-version (a version archived
    * in the same publish that tripped the latch is conservatively
    * treated as latched). */
  /** The cube STATE at a retained version — the loading half of
    * [[getAggregatesAsOf]], exposed so as-of consumers beyond the
    * roll-up verb (the [[registerSourceAsOf]] optimizer pin, audits)
    * share one resolution path. Head version → the live registry;
    * archived version → the immutable `v<k>` directory with its own
    * archived `_meta.json` (per-version hasDeletes latch). */
  def cubeAt(name: String, version: Int): Cube = {
    val retained = listCubeVersions(name)
    require(retained.contains(version),
      s"cube '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise retainCubeVersions " +
        "at service construction to widen the time-travel window")
    if (version == cvManifest(name)) loadCube(name)
    else {
      val vdir = cvRoot(name).resolve(s"v$version")
      val metaFile = vdir.resolve("_meta.json")
      val json =
        if (metaFile.toFile.exists())
          java.nio.file.Files.readString(metaFile)
        else java.nio.file.Files.readString(
          java.nio.file.Paths.get(storageDir, s"$name.json"))
      val hasDeletes =
        """"hasDeletes":\s*true""".r.findFirstIn(json).isDefined
      val config = CubeManager.configFromJson(json)
      // Dictionaries load from the LIVE dict dir: dicts are append-only
      // (keys gain ids, never lose or change them), so the live dict is a
      // superset of the key domain any archived version's partials can
      // reference — dict-translating serves (leaderboards, visible-id
      // boards) on an archived version resolve every id it holds. Without
      // this, getTopSpendersAsOf on a dictBitmaps-keyed cube threw
      // NoSuchElementException at cube.dicts(d.id).
      Cube(config, Tables.parquet(spark, vdir.toString), hasDeletes,
        CubeManager.loadDicts(spark, storageDir, config))
    }
  }

  def getAggregatesAsOf(name: String, version: Int, dims: Seq[String],
      sumOf: Seq[String] = Nil, avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil, maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil): DataFrame =
    CubeManager.query(cubeAt(name, version), dims, lit(true), sumOf, avgOf,
      distinctOf, quantilesOf, minOf, maxOf, topkOf, exactDistinctOf)

  /** OPT-IN AS-OF ROUTING: register `sourcePath` to be served by the
    * optimizer from a RETAINED HISTORICAL version of this cube — the
    * time-travel verbs composed with [[CubeRewriteRule]], so "ask
    * yesterday's question through today's query" needs no API change on
    * the query side: any covered aggregate over the source routes to
    * version `version`'s cells. Deliberately answer-CHANGING relative
    * to the head (that is the point), hence its own verb rather than a
    * flag on `register`; the head itself serves via plain
    * registration, so `version` must be an ARCHIVED retained version.
    *
    * Pinning semantics: the registration is keyed to the version, not
    * the cube name, so a later publish's registry refresh (which swaps
    * name-matched registrations to the new head) never moves it. The
    * registration's hard-link snapshot pins the version's FILES too —
    * valid even after the version ages out of the retention window
    * (the snapshot holds the inodes; [[CubeCatalog.unregister]] or
    * [[deleteCube]] releases them). */
  def registerSourceAsOf(catalogKey: String, name: String, version: Int,
      sourcePath: String): Unit = {
    require(version != cvManifest(name),
      s"version $version is the current head of '$name' — register the " +
        "head with CubeCatalog.register; as-of pinning addresses " +
        "archived versions")
    val c = cubeAt(name, version)
    // rename the config so publish-time CubeCatalog.refresh (matched
    // by config name) can never swap this pin to the new head
    CubeCatalog.register(catalogKey,
      Cube(c.config.copy(name = s"${c.config.name}@v$version"),
        c.aggregates, c.hasDeletes),
      sourcePath)
  }

  /** AUDIT DIFF between two retained versions of a plain cube: what did
    * the folds between them change, per dim group? Serves the same
    * exact roll-up ([[getAggregatesAsOf]]) from both versions and
    * full-outer joins on the dims — one row per group present in
    * EITHER version, with `<m>_from` / `<m>_to` / `<m>_delta` for each
    * summed measure and `n_from` / `n_to` / `n_delta` row counts
    * (absent side = 0, the signed-delta identity: a group the fold
    * created diffs as +itself, one it emptied as −itself). Only the
    * EXACT families diff (sums + counts): sketch estimates and
    * extremes don't subtract. The join is null-safe on every dim so
    * null-valued dimension cells line up. Cost: two cube-sized scans +
    * one cube-keyed join — never the source; this is the
    * reproducibility workflow q174/q189 document ("diff two versions
    * to audit what a fold changed") as a verb instead of a recipe. */
  def diffAggregates(name: String, fromVersion: Int, toVersion: Int,
      dims: Seq[String], sumOf: Seq[String] = Nil): DataFrame =
    diffFrom(
      getAggregatesAsOf(name, fromVersion, dims, sumOf = sumOf),
      getAggregatesAsOf(name, toVersion, dims, sumOf = sumOf),
      dims, sumOf)

  /** [[diffAggregates]] for join MVs — same verb over
    * [[getJoinAggregatesAsOf]]'s retained (cube, lstate, rstate)
    * versions. */
  def diffJoinAggregates(name: String, fromVersion: Int, toVersion: Int,
      dims: Seq[String], sumOf: Seq[String] = Nil): DataFrame =
    diffFrom(
      getJoinAggregatesAsOf(name, fromVersion, dims, sumOf = sumOf),
      getJoinAggregatesAsOf(name, toVersion, dims, sumOf = sumOf),
      dims, sumOf)

  private def diffFrom(from: DataFrame, to: DataFrame,
      dims: Seq[String], sumOf: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "diff needs at least one dim to align on")
    val mcols = sumOf.map(m => s"sum_$m") :+ "n_rows"
    def side(df: DataFrame, sfx: String) =
      df.select(dims.map(col) ++
        mcols.map(c => col(c).as(s"${c}_$sfx")): _*)
    val a = side(from, "from")
    val b = side(to, "to")
    val cond = dims.map(d => a(d) <=> b(d)).reduce(_ && _)
    val joined = a.join(b, cond, "full_outer")
    val dimOut = dims.map(d => coalesce(a(d), b(d)).as(d))
    val measOut = mcols.flatMap { c =>
      val f = coalesce(a(s"${c}_from"), lit(0)).as(s"${c}_from")
      val t = coalesce(b(s"${c}_to"), lit(0)).as(s"${c}_to")
      val d = (coalesce(b(s"${c}_to"), lit(0)) -
        coalesce(a(s"${c}_from"), lit(0))).as(s"${c}_delta")
      Seq(f, t, d)
    }
    joined.select(dimOut ++ measOut: _*)
  }

  /** Two-rename publish of a new aggregates version (see
    * [[updateAggregates]]'s scaladoc for the crash-safety contract) and
    * registry refresh. The input plan must NOT read the publish target
    * through files about to be swapped out unless it was staged first —
    * both callers stage: updateAggregates writes to `name.staging`
    * before any rename, and the streaming publisher's input is state
    * plus the immutable `name.base` snapshot.
    *
    * The swapped-aside previous head is ARCHIVED as a retained
    * time-travel version rather than deleted — the delete became a
    * rename, so versioning costs the publish path nothing beyond the
    * `_meta.json` copy (see the version-history scaladoc above). */
  private def publish(name: String, aggregates: DataFrame,
      streamBatchId: Option[Long] = None): Cube = {
    recoverCubeVersioning(name)
    // head meta BEFORE the swap: the archived version's config +
    // hasDeletes latch. updateAggregates persists a newly-tripped
    // latch just before publishing, so the snapshot is conservative
    // for the version archived by that same publish.
    val headMeta = java.nio.file.Paths.get(storageDir, s"$name.json")
    val prevMeta =
      if (headMeta.toFile.exists())
        Some(java.nio.file.Files.readString(headMeta))
      else None
    val staging = java.nio.file.Paths.get(storageDir, s"$name.staging")
    aggregates.write.mode("overwrite").parquet(staging.toString)
    // the per-batch stream fold's replay guard rides INSIDE the head
    // dir (underscore-prefixed, so Spark's file index skips it): the
    // atomic head rename commits (aggregates, last folded batch id)
    // together — a crash between fold and marker is impossible, so a
    // foreachBatch replay skips exactly the batches the head already
    // contains. Publishes without their own id (manual folds, the
    // complete-mode loop) CARRY the previous head's marker forward —
    // the jmv discipline, where the manual fold preserves the guard.
    streamBatchId.map(id => s"""{"lastBatch":$id}""")
      .orElse {
        val p = java.nio.file.Paths.get(storageDir, name,
          "_stream_meta.json")
        if (p.toFile.exists())
          Some(java.nio.file.Files.readString(p))
        else None
      }
      .foreach { j =>
        java.nio.file.Files.writeString(
          staging.resolve("_stream_meta.json"), j)
      }
    val finalDir = java.nio.file.Paths.get(storageDir, name)
    val oldDir = java.nio.file.Paths.get(storageDir, s"$name.old")
    if (finalDir.toFile.exists())
      java.nio.file.Files.move(finalDir, oldDir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(staging, finalDir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    cubeVersionLock.synchronized {
      val m = cvManifest(name)
      if (oldDir.toFile.exists()) {
        prevMeta.foreach { j =>
          java.nio.file.Files.writeString(oldDir.resolve("_meta.json"), j)
        }
        java.nio.file.Files.createDirectories(cvRoot(name))
        val vdir = cvRoot(name).resolve(s"v$m")
        rm(vdir.toFile) // can only exist after a manual filesystem edit
        java.nio.file.Files.move(oldDir, vdir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      cvWriteManifest(name, m + 1)
      // GC deferred by one: the advertised window is
      // (head − retain, head]; one version below it survives this
      // publish so an in-flight as-of read of the window's old edge
      // never loses its files mid-job
      cvArchived(name).filter(_ <= m + 1 - retainCubeVersions - 1)
        .foreach(v => rm(cvRoot(name).resolve(s"v$v").toFile))
    }
    val reloaded = CubeManager.load(spark, storageDir, name)
    // serve cache gets the publish-stable form; the registration
    // refresh gets the RAW head cube — Registration takes its own
    // "route"-kind snapshot, and snapshotting a snapshot would nest
    // .snap roots inside GC-able generations
    val st = stable(reloaded)
    live.put(name, st)
    // routed queries must follow: a CubeCatalog registration of this
    // cube still lists the pre-publish parquet files (now renamed
    // away) — swap it for the reloaded version
    CubeCatalog.refresh(reloaded)
    st
  }

  /** R2/R3 steady state: continuous maintenance from a delta directory,
    * published DURABLY after every micro-batch — while the stream runs,
    * [[getAggregates]] and [[getRolling]] serve the maintained cube (the
    * reference's "queries read the aggregate collection the oplog loop
    * maintains" story, end to end through the service API).
    *
    * Mechanics: the pre-stream aggregates are snapshotted ONCE to
    * `name.base`; each micro-batch publishes base ⊕ (complete-mode
    * stream state) through the same two-rename swap manual updates use.
    * Since complete mode's state covers ALL stream data since the
    * checkpoint began, the published table is a pure function of
    * (base, stream-so-far): batch replays re-publish identical state
    * and a stop/start pair resumes from the checkpoint against the SAME
    * base — no delta is ever double-counted. The checkpoint and base
    * snapshot are paired; both survive restarts and both are removed by
    * [[deleteCube]].
    *
    * The file stream is insert-only (the R2 change-stream shape); for
    * deletes/updates, stop the stream and fold a signed batch through
    * [[updateAggregates]] — which folds the batch into the base
    * snapshot too, so a later restart's publishes (base ⊕ stream-state)
    * keep the manual delta. Running both concurrently is refused by
    * updateAggregates (their publishes would race). */
  def startAutoUpdate(name: String, deltaDir: String, schema: StructType): StreamingQuery = {
    // two streams on one cube would race their publishes (each writes
    // base ⊕ its OWN complete-mode state) — same refusal discipline as
    // the manual-fold-while-running guard
    require(!autoUpdates.get(name).exists(_.isActive),
      s"auto-update already running on '$name' — stop it first")
    val cube = loadCube(name)
    // DICTIONARY-bitmap cubes cannot ride the complete-mode streaming
    // aggregation (its state has nowhere to consult-and-extend the
    // persisted dictionaries mid-micro-batch), so they take the
    // foreachBatch PER-BATCH FOLD path instead — the
    // startJoinAutoUpdate discipline: per micro-batch, anti-join the
    // batch's unseen keys and append them to the dictionary DURABLY,
    // THEN fold through the same applyDeltas the manual path uses, and
    // publish one version per batch with the batch id committed inside
    // the head (replay guard — see [[publish]]/[[streamLastBatch]]).
    // The file stream is insert-only (the R2 change-stream shape), so
    // per-batch incremental folds compose associatively: streamed in N
    // batches == one manual fold == from-scratch (pinned in
    // CubeServiceSpec).
    if (cube.config.dictBitmaps.nonEmpty) {
      val raw = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(deltaDir)
      val q = raw.writeStream
        .option("checkpointLocation", s"$storageDir/$name.checkpoint")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > streamLastBatch(name)) {
            val signed = batch.withColumn("_sign", lit(1))
            val prev = loadCube(name)
            val extended = extendDicts(name, prev, signed)
            publish(name,
              CubeManager.applyDeltas(extended, signed, None).aggregates,
              streamBatchId = Some(batchId))
            ()
          }
        }
        .start()
      autoUpdates.put(name, q)
      return q
    }
    recoverBaseSwap(name)
    val baseDir = java.nio.file.Paths.get(storageDir, s"$name.base")
    if (!baseDir.toFile.exists())
      cube.aggregates.write.parquet(baseDir.toString)
    val base = Tables.parquet(spark, baseDir.toString)
    val q = StreamingCube.startPersist(spark, cube.config, deltaDir, schema,
      s"$storageDir/$name.checkpoint",
      batchState => {
        publish(name, CubeManager.mergePartials(cube.config, base, batchState))
        ()
      })
    autoUpdates.put(name, q)
    q
  }

  def stopAutoUpdate(name: String): Unit =
    autoUpdates.remove(name).foreach(_.stop())

  /** R6: roll-up query served from the cube — including the sketch
    * measures (HLL distinct counts, KLL percentiles), which roll up by
    * sketch union over the persisted partials exactly like the sums. */
  def getAggregates(
      name: String,
      dims: Seq[String],
      filter: Column = lit(true),
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      timeRollup: Seq[(String, String)] = Nil): DataFrame =
    CubeManager.query(loadCube(name), dims, filter, sumOf, avgOf,
      distinctOf, quantilesOf, minOf, maxOf, topkOf, exactDistinctOf,
      timeRollup)

  /** ROLLING-window serve from maintained daily partials — the
    * q138/q139/q141 pattern as a service verb: for every observed day,
    * answer distinct counts (HLL) and percentiles (KLL) over the
    * trailing `windowDays`-day window by unioning the per-day sketch partials
    * of day-granularity time dimension `dayDim`. Exact counts/ranks
    * cannot roll over a sliding window from pre-aggregated state;
    * sketches union, so the serve reads cube-sized data once (the
    * per-day pre-collapse over live cells) and the windowed stage is
    * |days|·windowDays one-row partials — never the source. Output:
    * `day` (days since 1970-01-01 of the dimension's calendar day) +
    * `n_distinct_<id>` / `p<pct>_<id>` / `min_<id>` / `max_<id>` /
    * `sum_<id>` columns, the [[getAggregates]] naming. Rolling min/max
    * ride the same serve: extremes re-aggregate across days exactly
    * (min of daily mins), so trailing-window extremes come from
    * |windowDays| one-row partials per endpoint too — and unlike the
    * sketch curves they are exact, though under the same insert-only
    * latch. Rolling SUMS (`sumOf`, plain measure ids) are the third
    * family: sums add across days, decimal-exact end to end, and —
    * uniquely — delete-proof, since the signed fold keeps net sums
    * exact where sketches and extremes latch. `exactDistinctOf`
    * (bitmap measure ids) is the EXACT sibling of `distinctOf`: bitmap
    * union is lossless, so the trailing-window distinct count from
    * OR-merged daily partials equals the from-scratch re-count — the
    * WAU curve at HLL cost with no estimate (dense-integer keys only,
    * the [[graft.functions.BitmapAgg]] boundary; insert-only latch
    * applies like the sketches). */
  def getRolling(
      name: String,
      dayDim: String,
      windowDays: Int = 7,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      segmentBy: Seq[String] = Nil,
      intersectOf: Seq[String] = Nil): DataFrame =
    rollingFrom(loadCube(name), name, dayDim, windowDays,
      distinctOf, quantilesOf, minOf, maxOf, sumOf, avgOf,
      exactDistinctOf, segmentBy, intersectOf)

  /** [[getRolling]] for join MVs — a join cube with a day-granularity
    * time dimension serves the same trailing-window curves from the
    * same maintained daily partials; the only difference is which
    * registry the cube loads from. */
  def getJoinRolling(
      name: String,
      dayDim: String,
      windowDays: Int = 7,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      segmentBy: Seq[String] = Nil,
      intersectOf: Seq[String] = Nil): DataFrame =
    rollingFrom(loadJoinCube(name).cube, name, dayDim, windowDays,
      distinctOf, quantilesOf, minOf, maxOf, sumOf, avgOf,
      exactDistinctOf, segmentBy, intersectOf)

  private def rollingFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      windowDays: Int,
      distinctOf: Seq[String],
      quantilesOf: Seq[(String, Double)],
      minOf: Seq[String],
      maxOf: Seq[String],
      sumOf: Seq[String],
      avgOf: Seq[String],
      exactDistinctOf: Seq[String] = Nil,
      segmentBy: Seq[String] = Nil,
      intersectOf: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(distinctOf.nonEmpty || quantilesOf.nonEmpty ||
      minOf.nonEmpty || maxOf.nonEmpty || sumOf.nonEmpty || avgOf.nonEmpty ||
      exactDistinctOf.nonEmpty || intersectOf.nonEmpty,
      "request at least one rolling measure (distinctOf / quantilesOf / " +
        "minOf / maxOf / sumOf / avgOf / exactDistinctOf / intersectOf)")
    // sketch and min/max partials of a delete-processed cube describe
    // EVER-INSERTED values (neither is invertible under deletes) —
    // refuse rather than serve silently-wrong curves. SUMS and AVGS
    // are exempt: the signed fold maintains exact net sums and row
    // counts per cell, so both stay exact through any delete history.
    // Bitmap partials share the insert-only latch (a set bit cannot be
    // un-set; delete-capable folds with the source at hand never latch,
    // so an unlatched cube's bitmaps are exact).
    require(!cube.hasDeletes || (distinctOf.isEmpty &&
        quantilesOf.isEmpty && minOf.isEmpty && maxOf.isEmpty &&
        exactDistinctOf.isEmpty && intersectOf.isEmpty),
      s"cube $name has folded deletes; its sketch/extreme partials are " +
        "insert-only and cannot serve rolling curves (rolling sums can)")
    distinctOf.foreach(id => require(cube.config.sketches.exists(_.id == id),
      s"$id is not an HLL sketch measure of cube $name"))
    (exactDistinctOf ++ intersectOf).foreach(id =>
      require(cube.config.allBitmaps.exists(_.id == id),
        s"$id is not a bitmap measure of cube $name"))
    quantilesOf.foreach { case (id, _) =>
      require(cube.config.quantiles.exists(_.id == id),
        s"$id is not a KLL quantile measure of cube $name")
    }
    (minOf ++ maxOf).foreach(id =>
      require(cube.config.extremes.exists(_.id == id),
        s"$id is not a min/max measure of cube $name"))
    (sumOf ++ avgOf).foreach(id =>
      require(cube.config.measures.exists(_.id == id),
        s"$id is not a summed measure of cube $name"))
    // SEGMENTED curves ("WAU per event type"): each segment column must
    // be a non-time dimension of the cube — the partials subdivide per
    // segment cell, so per-segment windows re-aggregate exactly like
    // the global ones; each segment's endpoints are ITS observed days.
    // "day"/"d" are the synthesized endpoint columns: a segment dim so
    // named would be silently overwritten by the explode, corrupting
    // the semi-join keys — refuse loudly instead.
    segmentBy.foreach { sd =>
      require(sd != "day" && sd != "d",
        s"segment id $sd collides with the rolling endpoint columns " +
          "(reserved names: day, d) — rename the dimension in the cube")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    // bitmap families of a SHARDED cube take the per-shard two-level
    // path below; everything else (and unsharded bitmaps) collapses
    // per day the standard way
    val sharded = cube.config.bitmapShardBits > 0 &&
      (exactDistinctOf.nonEmpty || intersectOf.nonEmpty)
    val bmOnSharedPath = if (sharded) Nil
      else (exactDistinctOf ++ intersectOf).distinct
    // collapse to ONE partial row per day first (other dimensions may
    // subdivide a day across many cells)
    val dailyAggs = distinctOf.distinct
      .map(id => hll_union_agg(col(id)).as(id)) ++
      // bitmap partials union LOSSLESSLY (the one distinct family that
      // re-aggregates exactly): one OR-merged bitmap per day, then
      // |windowDays| one-row unions per endpoint — same cost shape as
      // the sketch curves, but the answer EQUALS the from-scratch
      // re-count, so the curve is fully oracle-gradable
      // intersectOf shares exactDistinctOf's daily partial: the per-day
      // OR-merged bitmap — the two families diverge only at the
      // endpoint (union vs intersection across the window's days)
      bmOnSharedPath
        .map(id => graft.functions.Bitmap.unionAgg(col(id)).as(id)) ++
      quantilesOf.map(_._1).distinct.map(id =>
        graft.functions.Kll.mergeAgg(col(id)).as(id)) ++
      minOf.distinct.map(id => min(col(s"${id}_min")).as(s"${id}_min")) ++
      maxOf.distinct.map(id => max(col(s"${id}_max")).as(s"${id}_max")) ++
      // decimal all the way to the endpoint: rolling sums re-aggregate
      // EXACTLY (sums add across days), the one windowed family that is
      // both exact and delete-proof from partials
      (sumOf ++ avgOf).distinct.map(id =>
        sum(col(id)).cast(DecimalType(18, 2)).as(id)) ++
      (if (avgOf.isEmpty) Nil
       else Seq(sum(col(CubeManager.CountCol)).as(CubeManager.CountCol)))
    // calendar-day index via datediff, NOT unix_timestamp/86400: the
    // dimension cell is a LOCAL midnight, and in a non-UTC session the
    // epoch arithmetic merges the two days straddling a DST transition
    // (and truncates toward zero pre-1970); datediff is TZ-consistent
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long").as("d")
    // .distinct everywhere (not just min/max): duplicate requested ids
    // would alias two identical daily columns and make the endpoint's
    // by-name reference an AMBIGUOUS_REFERENCE error
    val endpointAggs = distinctOf.distinct.map(id =>
      hll_sketch_estimate(hll_union_agg(col(id))).as(s"n_distinct_$id")) ++
      (if (sharded) Nil
       else exactDistinctOf.distinct.map(id =>
        graft.functions.Bitmap.cardinality(
          graft.functions.Bitmap.unionAgg(col(id))).as(s"n_exact_$id"))) ++
      // the STICKINESS curve: ids present on EVERY observed day of the
      // trailing window (intersection is lossless like union, so the
      // count equals a from-scratch "active all window days" recompute;
      // an endpoint whose window observed fewer than windowDays days
      // intersects over the days that EXIST — the same endpoints-are-
      // observed-days convention every rolling family follows)
      (if (sharded) Nil
       else intersectOf.distinct.map(id =>
        graft.functions.Bitmap.cardinality(
          graft.functions.Bitmap.intersectAgg(col(id)))
          .as(s"n_everyday_$id"))) ++
      quantilesOf.distinct.map { case (id, q) =>
        graft.functions.Kll.quantile(
          graft.functions.Kll.mergeAgg(col(id)), q)
          .as(s"p${CubeManager.rankLabel(q)}_$id")
      } ++
      minOf.distinct.map(id => min(col(s"${id}_min")).as(s"min_$id")) ++
      maxOf.distinct.map(id => max(col(s"${id}_max")).as(s"max_$id")) ++
      sumOf.distinct.map(id => sum(col(id)).cast(DecimalType(18, 2))
        .cast("double").as(s"sum_$id")) ++
      // avg over the window = windowed sum / windowed row count — both
      // re-aggregate exactly from the daily partials (getAggregates'
      // avg_<id> = sum/_count identity, rolled)
      avgOf.distinct.map(id =>
        (sum(col(id)).cast(DecimalType(18, 2)).cast("double") /
          sum(col(CubeManager.CountCol))).as(s"avg_$id"))
    def standardFrame(): DataFrame = {
      val daily = cube.live
        .groupBy((segmentBy.map(col) :+ dayKey): _*)
        .agg(dailyAggs.head, dailyAggs.tail: _*)
      if (segmentBy.isEmpty)
        graft.functions.Rolling.endpoints(daily, windowDays)
          .agg(endpointAggs.head, endpointAggs.tail: _*)
      else {
        // the Rolling.endpoints shape per segment: explode each daily
        // partial to its trailing endpoints, restrict to the segment's
        // own observed days (broadcast — the (segment, day) dimension
        // is tiny at any scale), re-group per (segment, day)
        val days = daily
          .select((segmentBy.map(col) :+ col("d").as("day")): _*).distinct()
        daily
          .withColumn("day",
            explode(expr(s"sequence(d, d + ${windowDays - 1})")))
          .drop("d")
          .join(broadcast(days), segmentBy :+ "day", "left_semi")
          .groupBy((segmentBy.map(col) :+ col("day")): _*)
          .agg(endpointAggs.head, endpointAggs.tail: _*)
      }
    }
    val frame: DataFrame =
      if (!sharded) standardFrame()
      else {
        // SHARDED two-level bitmap serve (CubeConfig.bitmapShardBits):
        // daily partials stay per (day, shard) — blobs bounded by the
        // shard width through EVERY shuffle — each endpoint aggregates
        // per shard first (union/intersect across its window days, then
        // one cardinality), and the per-shard counts ADD back to the
        // exact answers because shards partition the id space. The
        // final per-endpoint row carries longs, never a merged blob;
        // parallelism is ∝ |shards| instead of one reducer row per
        // endpoint.
        val bmDailyAggs = (exactDistinctOf ++ intersectOf).distinct
          .map(id => graft.functions.Bitmap.unionAgg(col(id)).as(id))
        val dailyBm = cube.live
          .groupBy((segmentBy.map(col) :+ dayKey :+
            col(CubeManager.ShardCol)): _*)
          .agg(bmDailyAggs.head, bmDailyAggs.tail: _*)
        val days = dailyBm
          .select((segmentBy.map(col) :+ col("d").as("day")): _*).distinct()
        val explodedBm = dailyBm
          .withColumn("day",
            explode(expr(s"sequence(d, d + ${windowDays - 1})")))
          .drop("d")
          .join(broadcast(days), segmentBy :+ "day", "left_semi")
        val perShardAggs =
          exactDistinctOf.distinct.map(id =>
            graft.functions.Bitmap.cardinality(
              graft.functions.Bitmap.unionAgg(col(id))).as(s"__xc_$id")) ++
          intersectOf.distinct.map(id =>
            graft.functions.Bitmap.cardinality(
              graft.functions.Bitmap.intersectAgg(col(id)))
              .as(s"__ic_$id")) :+
          count(lit(1)).as("__ndays")
        val perShard = explodedBm
          .groupBy((segmentBy.map(col) ++
            Seq(col("day"), col(CubeManager.ShardCol))): _*)
          .agg(perShardAggs.head, perShardAggs.tail: _*)
        // the intersect gate: a shard with NO row for one of the
        // window's observed days intersects to EMPTY for that endpoint
        // — count each window's observed days and compare
        val obsCount = days
          .withColumnRenamed("day", "d")
          .withColumn("day",
            explode(expr(s"sequence(d, d + ${windowDays - 1})")))
          .drop("d")
          .join(broadcast(days), segmentBy :+ "day", "left_semi")
          .groupBy((segmentBy.map(col) :+ col("day")): _*)
          .agg(count(lit(1)).as("__nobs"))
        val bmEndpointAggs =
          exactDistinctOf.distinct.map(id =>
            sum(col(s"__xc_$id")).as(s"n_exact_$id")) ++
          intersectOf.distinct.map(id =>
            sum(when(col("__ndays") === col("__nobs"), col(s"__ic_$id"))
              .otherwise(0L)).as(s"n_everyday_$id"))
        val bmFrame = perShard
          .join(broadcast(obsCount), segmentBy :+ "day")
          .groupBy((segmentBy.map(col) :+ col("day")): _*)
          .agg(bmEndpointAggs.head, bmEndpointAggs.tail: _*)
        if (endpointAggs.isEmpty) bmFrame
        else standardFrame().join(bmFrame, segmentBy :+ "day")
      }
    // canonical column order (the sharded join appends its bitmap
    // columns last; callers reference by name, but the documented
    // order stays stable regardless of the serve path)
    val ordered: Seq[Column] =
      segmentBy.map(col) ++ Seq(col("day")) ++
        distinctOf.distinct.map(id => col(s"n_distinct_$id")) ++
        exactDistinctOf.distinct.map(id => col(s"n_exact_$id")) ++
        intersectOf.distinct.map(id => col(s"n_everyday_$id")) ++
        quantilesOf.distinct.map { case (id, q) =>
          col(s"p${CubeManager.rankLabel(q)}_$id") } ++
        minOf.distinct.map(id => col(s"min_$id")) ++
        maxOf.distinct.map(id => col(s"max_$id")) ++
        sumOf.distinct.map(id => col(s"sum_$id")) ++
        avgOf.distinct.map(id => col(s"avg_$id"))
    frame.select(ordered: _*)
      .orderBy((segmentBy.map(col) :+ col("day")): _*)
  }

  /** RETENTION/CHURN matrix served from maintained daily bitmap
    * partials — the set-algebra verb the union-only families can't
    * express: for every observed `periodDays`-aligned period p (period
    * = floor(days-since-epoch / periodDays), so `periodDays = 1` is
    * the daily curve, 7 the weekly one), emit
    *
    *  - `active`       = |ids seen in p|                (bitmap card)
    *  - `prev_active`  = |ids seen in p−1|   (null when p−1 unobserved)
    *  - `retained`     = |p ∩ p−1|  — came back
    *  - `churned`      = |p−1 \ p|  — left
    *  - `new_ids`      = |p \ p−1|  — first seen (w.r.t. the prior period)
    *
    * All five are EXACT: bitmap union is lossless, so each period's
    * bitmap equals the from-scratch id set, and the pairwise AND /
    * ANDNOT walks are set identities — the whole matrix sits on the
    * full oracle gate. Cost shape: one pass over cube-sized partials
    * to |periods| one-row bitmaps, then a lag over that TINY frame
    * (|periods| ≈ years × 365/periodDays — thousands of rows at any
    * corpus size, so the unpartitioned window in the global form is a
    * deliberate single-task step over cube-derived rows, never the
    * source; `segmentBy` partitions it per segment). Deletes latch
    * bitmaps like every sketch family — refused, same contract as
    * [[getRolling]]. */
  def getRetention(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    retentionFrom(loadCube(name), name, dayDim, bitmapId, periodDays,
      segmentBy)

  /** [[getRetention]] for join MVs. */
  def getJoinRetention(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    retentionFrom(loadJoinCube(name).cube, name, dayDim, bitmapId,
      periodDays, segmentBy)

  /** CALENDAR-period retention matrix — month/quarter/year cohorts
    * from the SAME day-dimmed bitmap cube. The period key is the
    * calendar bucket's integer ordinal (months/quarters since year 0,
    * or the year itself), so contiguity across a year boundary
    * (Dec → Jan) is exact adjacency and a skipped calendar bucket
    * reads as "previous unobserved" — semantics a fixed-width
    * `periodDays = 30` approximation cannot reproduce (real months
    * are 28-31 days; the drift compounds across years). Emits
    * `period_start` (yyyy-MM-dd of the bucket's first day) alongside
    * the integer index; both are deterministic functions of the day
    * dimension, so the matrix stays on the full oracle gate. */
  def getRetentionCalendar(
      name: String,
      dayDim: String,
      bitmapId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    retentionFrom(loadCube(name), name, dayDim, bitmapId, 1, segmentBy,
      Some(granularity))

  /** [[getRetentionCalendar]] for join MVs. */
  def getJoinRetentionCalendar(
      name: String,
      dayDim: String,
      bitmapId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    retentionFrom(loadJoinCube(name).cube, name, dayDim, bitmapId, 1,
      segmentBy, Some(granularity))

  private def retentionFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int,
      segmentBy: Seq[String],
      calendar: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve retention")
    // "period" is the synthesized per-period key (and "d"/"day" the
    // rolling analogues) — reserved, same rationale as rollingFrom
    segmentBy.foreach { sd =>
      require(sd != "period" && sd != "day" && sd != "d",
        s"segment id $sd collides with the retention matrix columns " +
          "(reserved names: period, day, d) — rename the dimension")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    calendar.foreach(g =>
      require(Seq("month", "quarter", "year").contains(g),
        s"calendar granularity must be month/quarter/year, got $g"))
    // days-since-epoch via datediff (TZ-consistent, see rollingFrom),
    // then FLOOR division to the period index — floor(d/p) in double is
    // exact for |d| < 2^52, eleven orders beyond any calendar day.
    // CALENDAR periods use the bucket's integer ordinal instead, so
    // the same lag-contiguity and shard-pairing arithmetic (period ± 1)
    // is exact across year boundaries
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val dayDate = col(dayDim).cast("date")
    val periodKey = (calendar match {
      case None => floor(dayKey.cast("double") / periodDays).cast("long")
      case Some("month") =>
        (year(dayDate) * 12 + month(dayDate) - 1).cast("long")
      case Some("quarter") =>
        (year(dayDate) * 4 + quarter(dayDate) - 1).cast("long")
      case _ => year(dayDate).cast("long")
    }).as("period")
    val B = graft.functions.Bitmap
    // index → first-day label, appended to the finished matrix
    def withPeriodStart(matrix: DataFrame): DataFrame = calendar match {
      case None => matrix
      case Some(g) =>
        val p = col("period")
        val start = g match {
          case "month" => make_date(floor(p / 12).cast("int"),
            pmod(p, lit(12)).cast("int") + 1, lit(1))
          case "quarter" => make_date(floor(p / 4).cast("int"),
            pmod(p, lit(4)).cast("int") * 3 + 1, lit(1))
          case _ => make_date(p.cast("int"), lit(1), lit(1))
        }
        matrix.withColumn("period_start",
          date_format(start, "yyyy-MM-dd"))
    }
    if (cube.config.bitmapShardBits == 0) {
      val perPeriod = cube.live
        .groupBy((segmentBy.map(col) :+ periodKey): _*)
        .agg(B.unionAgg(col(bitmapId)).as("bm"))
      val w = (if (segmentBy.isEmpty) Window.partitionBy()
               else Window.partitionBy(segmentBy.map(col): _*))
        .orderBy(col("period"))
      // lag yields the previous OBSERVED period — gate on contiguity so
      // a gap in the calendar reads as "p−1 unobserved" (nulls), never
      // as retention against some older period
      val contiguous = lag(col("period"), 1).over(w) === col("period") - 1
      val prevBm = when(contiguous, lag(col("bm"), 1).over(w))
      withPeriodStart(perPeriod
        .withColumn("prev_bm", prevBm)
        .select((segmentBy.map(col) ++ Seq(
          col("period"),
          B.cardinality(col("bm")).as("active"),
          B.cardinality(col("prev_bm")).as("prev_active"),
          B.andCardinality(col("bm"), col("prev_bm")).as("retained"),
          B.andNotCardinality(col("prev_bm"), col("bm")).as("churned"),
          B.andNotCardinality(col("bm"), col("prev_bm")).as("new_ids"))): _*)
        .orderBy((segmentBy.map(col) :+ col("period")): _*))
    } else {
      // SHARDED matrix (CubeConfig.bitmapShardBits): one bitmap per
      // (period, shard) — blobs bounded by the shard width — paired
      // with the SAME shard of the prior period by a full-outer join
      // (a shard present only in p−1 is pure churn; only in p, pure
      // new), per-shard AND/ANDNOT counts, then summed per period:
      // shards partition the id space, so the sums equal the unsharded
      // walks. The join also replaces the single-task lag window —
      // parallelism ∝ shards.
      val sc = CubeManager.ShardCol
      val perShard = cube.live
        .groupBy((segmentBy.map(col) :+ periodKey :+ col(sc)): _*)
        .agg(B.unionAgg(col(bitmapId)).as("bm"))
      // globally observed periods per segment — "p−1 unobserved" must
      // read from CALENDAR absence, not shard absence
      val obs = perShard
        .select((segmentBy.map(col) :+ col("period")): _*).distinct()
      val prev = perShard.select((segmentBy.map(col) ++ Seq(col(sc),
        (col("period") + 1).as("period"), col("bm").as("prev_bm"))): _*)
      val emptyBm = lit(Array[Byte](0, 0, 0, 0)) // codec: zero blocks
      val shardCells = perShard
        .join(prev, segmentBy ++ Seq(sc, "period"), "full_outer")
        .select((segmentBy.map(col) ++ Seq(
          col("period"),
          B.cardinality(coalesce(col("bm"), emptyBm)).as("__a"),
          B.cardinality(coalesce(col("prev_bm"), emptyBm)).as("__p"),
          B.andCardinality(coalesce(col("bm"), emptyBm),
            coalesce(col("prev_bm"), emptyBm)).as("__r"),
          B.andNotCardinality(coalesce(col("prev_bm"), emptyBm),
            coalesce(col("bm"), emptyBm)).as("__c"),
          B.andNotCardinality(coalesce(col("bm"), emptyBm),
            coalesce(col("prev_bm"), emptyBm)).as("__n"))): _*)
      val summed = shardCells
        .groupBy((segmentBy.map(col) :+ col("period")): _*)
        .agg(sum(col("__a")).as("__a"), sum(col("__p")).as("__p"),
          sum(col("__r")).as("__r"), sum(col("__c")).as("__c"),
          sum(col("__n")).as("__n"))
        // rows exist for p OBSERVED or p−1 observed (the full-outer
        // fan-up); the matrix reports observed periods only
        .join(obs, segmentBy :+ "period", "left_semi")
      // null out the prev-derived cells when p−1 is unobserved — the
      // unsharded walk's contiguity-gate semantics, reproduced exactly
      val prevObs = obs.select((segmentBy.map(col) :+
        (col("period") + 1).as("period")): _*)
        .withColumn("__prev_obs", lit(true))
      withPeriodStart(summed
        .join(prevObs, segmentBy :+ "period", "left")
        .select((segmentBy.map(col) ++ Seq(
          col("period"),
          col("__a").as("active"),
          when(col("__prev_obs"), col("__p")).as("prev_active"),
          when(col("__prev_obs"), col("__r")).as("retained"),
          when(col("__prev_obs"), col("__c")).as("churned"),
          when(col("__prev_obs"), col("__n")).as("new_ids"))): _*)
        .orderBy((segmentBy.map(col) :+ col("period")): _*))
    }
  }

  /** GROWTH-ACCOUNTING matrix — the four-way user-base decomposition
    * (the standard "growth accounting" chart) served exactly from the
    * same daily bitmap partials: for every observed period p,
    *
    *  - `active`      = |P_p|
    *  - `new_ids`     = |P_p \ prefixOR(P_{<p})|  — NEVER seen before
    *  - `resurrected` = |P_p ∩ prefixOR(P_{<p}) \ P_{p−1}| — seen
    *                    before, but not in the previous period
    *  - `retained`    = |P_p ∩ P_{p−1}|
    *  - `churned`     = |P_{p−1} \ P_p|
    *
    * The first four PARTITION the active set, so
    * `active = new_ids + resurrected + retained` holds on every row —
    * the invariant the quick-ratio ((new+resurrected)/churned) chart
    * is built on. This is what [[getRetention]] cannot say: its
    * `new_ids` conflates truly-new with resurrected (both are
    * "absent from p−1"); the prefix union separates them.
    *
    * GAP SEMANTICS differ from [[getRetention]] deliberately: an
    * unobserved p−1 reads as the EMPTY SET (retained = churned = 0,
    * everyone previously-seen resurrects), not as nulls — growth
    * accounting's row invariant needs total columns, and "nobody was
    * active last period" is a true statement about the data where
    * retention's matrix semantics ("retention against WHICH period?")
    * are genuinely undefined at a gap. Rows exist for observed
    * periods only, in both paths.
    *
    * Cost shape: one pass over cube-sized partials to |periods|
    * one-row bitmaps, a lag + running-union window over that TINY
    * frame (the unbounded-preceding frame is evaluated incrementally —
    * O(|periods|) merges), then five merge-walk cardinalities per row.
    * Sharded cubes ([[CubeConfig.bitmapShardBits]]) run the window per
    * (segment, shard) over the full-outer period pairing — blobs stay
    * bounded, counts ADD across shards (they partition the id space).
    * Deletes latch bitmaps — refused, the family contract. */
  def getGrowthAccounting(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    growthFrom(loadCube(name), name, dayDim, bitmapId, periodDays,
      segmentBy)

  /** [[getGrowthAccounting]] for join MVs. */
  def getJoinGrowthAccounting(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    growthFrom(loadJoinCube(name).cube, name, dayDim, bitmapId,
      periodDays, segmentBy)

  /** CALENDAR-period growth accounting — month/quarter/year buckets
    * by integer ordinal (the [[getRetentionCalendar]] discipline:
    * Dec → Jan is exact adjacency, skipped buckets read as empty
    * periods), with `period_start` labels. */
  def getGrowthAccountingCalendar(
      name: String,
      dayDim: String,
      bitmapId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    growthFrom(loadCube(name), name, dayDim, bitmapId, 1, segmentBy,
      Some(granularity))

  /** [[getGrowthAccountingCalendar]] for join MVs. */
  def getJoinGrowthAccountingCalendar(
      name: String,
      dayDim: String,
      bitmapId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    growthFrom(loadJoinCube(name).cube, name, dayDim, bitmapId, 1,
      segmentBy, Some(granularity))

  private def growthFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int,
      segmentBy: Seq[String],
      calendar: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve growth accounting")
    segmentBy.foreach { sd =>
      require(sd != "period" && sd != "day" && sd != "d",
        s"segment id $sd collides with the growth matrix columns " +
          "(reserved names: period, day, d) — rename the dimension")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    calendar.foreach(g =>
      require(Seq("month", "quarter", "year").contains(g),
        s"calendar granularity must be month/quarter/year, got $g"))
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val dayDate = col(dayDim).cast("date")
    val periodKey = (calendar match {
      case None => floor(dayKey.cast("double") / periodDays).cast("long")
      case Some("month") =>
        (year(dayDate) * 12 + month(dayDate) - 1).cast("long")
      case Some("quarter") =>
        (year(dayDate) * 4 + quarter(dayDate) - 1).cast("long")
      case _ => year(dayDate).cast("long")
    }).as("period")
    val B = graft.functions.Bitmap
    val emptyBm = lit(Array[Byte](0, 0, 0, 0)) // codec: zero blocks
    def withPeriodStart(matrix: DataFrame): DataFrame = calendar match {
      case None => matrix
      case Some(g) =>
        val p = col("period")
        val start = g match {
          case "month" => make_date(floor(p / 12).cast("int"),
            pmod(p, lit(12)).cast("int") + 1, lit(1))
          case "quarter" => make_date(floor(p / 4).cast("int"),
            pmod(p, lit(4)).cast("int") * 3 + 1, lit(1))
          case _ => make_date(p.cast("int"), lit(1), lit(1))
        }
        matrix.withColumn("period_start",
          date_format(start, "yyyy-MM-dd"))
    }
    // the four active-set cells from (bm, prev-effective, strict
    // prefix): new = bm \ prefix; retained = bm ∩ prev; resurrected =
    // the remainder of the partition (bm ∩ prefix \ prev), computed
    // arithmetically — the three sets are disjoint and exhaustive
    def cells(df: DataFrame, segOut: Seq[Column]): DataFrame = df
      .select((segOut ++ Seq(
        col("period"),
        B.cardinality(col("bm")).as("active"),
        B.andNotCardinality(col("bm"), col("prefix_bm")).as("new_ids"),
        B.andCardinality(col("bm"), col("prev_bm")).as("retained"),
        B.andNotCardinality(col("prev_bm"), col("bm")).as("churned"))): _*)
      .withColumn("resurrected",
        col("active") - col("new_ids") - col("retained"))
    if (cube.config.bitmapShardBits == 0) {
      val perPeriod = cube.live
        .groupBy((segmentBy.map(col) :+ periodKey): _*)
        .agg(B.unionAgg(col(bitmapId)).as("bm"))
      val w = (if (segmentBy.isEmpty) Window.partitionBy()
               else Window.partitionBy(segmentBy.map(col): _*))
        .orderBy(col("period"))
      // EMPTY-SET gap semantics (see the verb doc): the previous
      // period's bitmap applies only when that period is p−1 exactly
      val prevEff = coalesce(
        when(lag(col("period"), 1).over(w) === col("period") - 1,
          lag(col("bm"), 1).over(w)), emptyBm)
      val prefix = coalesce(
        B.unionAgg(col("bm"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), emptyBm)
      val frame = perPeriod
        .withColumn("prev_bm", prevEff)
        .withColumn("prefix_bm", prefix)
      withPeriodStart(cells(frame, segmentBy.map(col))
        .select((segmentBy.map(col) ++ Seq(col("period"), col("active"),
          col("new_ids"), col("resurrected"), col("retained"),
          col("churned"))): _*)
        .orderBy((segmentBy.map(col) :+ col("period")): _*))
    } else {
      // SHARDED matrix: per (segment, period, shard) bitmaps, the
      // previous period's SAME shard paired by a full-outer join (a
      // shard live only at p−1 is pure churn and needs its row), the
      // strict-prefix union windowed per (segment, shard) — running
      // unions over observed rows accumulate exactly that shard's
      // earlier ids, and null-bm rows from the pairing contribute
      // nothing. Counts then ADD per period; the matrix reports
      // globally observed periods only (the unsharded convention).
      val sc = CubeManager.ShardCol
      val perShard = cube.live
        .groupBy((segmentBy.map(col) :+ periodKey :+ col(sc)): _*)
        .agg(B.unionAgg(col(bitmapId)).as("bm0"))
      val obs = perShard
        .select((segmentBy.map(col) :+ col("period")): _*).distinct()
      val prev = perShard.select((segmentBy.map(col) ++ Seq(col(sc),
        (col("period") + 1).as("period"), col("bm0").as("prev0"))): _*)
      val paired = perShard
        .join(prev, segmentBy ++ Seq(sc, "period"), "full_outer")
        .select((segmentBy.map(col) ++ Seq(col(sc), col("period"),
          coalesce(col("bm0"), emptyBm).as("bm"),
          coalesce(col("prev0"), emptyBm).as("prev_bm"))): _*)
      val w = Window
        .partitionBy((segmentBy.map(col) :+ col(sc)): _*)
        .orderBy(col("period"))
      val frame = paired.withColumn("prefix_bm",
        coalesce(B.unionAgg(col("bm"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), emptyBm))
      val summed = cells(frame, segmentBy.map(col) :+ col(sc))
        .groupBy((segmentBy.map(col) :+ col("period")): _*)
        .agg(sum(col("active")).as("active"),
          sum(col("new_ids")).as("new_ids"),
          sum(col("resurrected")).as("resurrected"),
          sum(col("retained")).as("retained"),
          sum(col("churned")).as("churned"))
        .join(obs, segmentBy :+ "period", "left_semi")
      withPeriodStart(summed
        .select((segmentBy.map(col) ++ Seq(col("period"), col("active"),
          col("new_ids"), col("resurrected"), col("retained"),
          col("churned"))): _*)
        .orderBy((segmentBy.map(col) :+ col("period")): _*))
    }
  }

  /** CUMULATIVE ("to-date") curves served from maintained daily
    * partials — the growth-dashboard verb the trailing-window family
    * can't express: for every observed day, emit
    *
    *  - `cum_exact_<id>` = exact distinct ids seen on ANY day ≤ d
    *    (lifetime uniques) — the PREFIX-OR of the per-day bitmap
    *    partials, lossless like every bitmap re-aggregation, so the
    *    whole curve sits on the full oracle gate;
    *  - `new_exact_<id>` = ids FIRST seen on day d — the discrete
    *    derivative `cum[d] − cum[prev observed d]`, which from raw
    *    data needs a min-date-per-id pass but falls out of the prefix
    *    union for free;
    *  - `cum_sum_<id>`   = running total of a summed measure,
    *    decimal-exact and (uniquely) delete-proof — the signed fold
    *    keeps net sums exact, so cumulative revenue survives any
    *    delete history where the bitmap families latch.
    *
    * `resetBy` (month/quarter/year) restarts every curve at each
    * calendar-bucket boundary — the MTD/YTD form; `new_exact` then
    * means "first seen within the bucket". Cost shape: one pass over
    * cube-sized partials to |days| one-row partials, then a window
    * over that TINY frame; the growing prefix frame is evaluated
    * INCREMENTALLY (Spark's unbounded-preceding frame adds one row at
    * a time — O(|days|) bitmap merges total, never O(|days|²)). The
    * sharded twin ([[CubeConfig.bitmapShardBits]]) windows per shard
    * over a day×shard grid — blobs stay bounded through every step,
    * per-day cardinalities ADD across shards (they partition the id
    * space), and parallelism is ∝ |shards|. */
  def getCumulative(
      name: String,
      dayDim: String,
      sumOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      resetBy: Option[String] = None,
      segmentBy: Seq[String] = Nil): DataFrame =
    cumulativeFrom(loadCube(name), name, dayDim, sumOf, exactDistinctOf,
      resetBy, segmentBy)

  /** [[getCumulative]] for join MVs. */
  def getJoinCumulative(
      name: String,
      dayDim: String,
      sumOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      resetBy: Option[String] = None,
      segmentBy: Seq[String] = Nil): DataFrame =
    cumulativeFrom(loadJoinCube(name).cube, name, dayDim, sumOf,
      exactDistinctOf, resetBy, segmentBy)

  private def cumulativeFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      sumOf: Seq[String],
      exactDistinctOf: Seq[String],
      resetBy: Option[String],
      segmentBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(sumOf.nonEmpty || exactDistinctOf.nonEmpty,
      "request at least one cumulative measure (sumOf / exactDistinctOf)")
    // bitmaps latch under deletes (same contract as rolling/retention);
    // cumulative SUMS are exempt — net sums re-aggregate exactly
    require(!cube.hasDeletes || exactDistinctOf.isEmpty,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve cumulative distinct curves " +
        "(cumulative sums can)")
    exactDistinctOf.foreach(id =>
      require(cube.config.allBitmaps.exists(_.id == id),
        s"$id is not a bitmap measure of cube $name"))
    sumOf.foreach(id => require(cube.config.measures.exists(_.id == id),
      s"$id is not a summed measure of cube $name"))
    resetBy.foreach(g => require(Seq("month", "quarter", "year").contains(g),
      s"resetBy must be month/quarter/year, got $g"))
    segmentBy.foreach { sd =>
      require(sd != "day" && sd != "d",
        s"segment id $sd collides with the cumulative day column " +
          "(reserved names: day, d) — rename the dimension in the cube")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    val xd = exactDistinctOf.distinct
    val sm = sumOf.distinct
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long").as("d")
    // reset-bucket ordinal of an epoch-day column (integer bucket
    // index, the getRetentionCalendar discipline — Dec→Jan is exact
    // adjacency); no reset ⇒ one global bucket
    def bucketOf(day: Column): Column = {
      val dt = date_add(lit("1970-01-01").cast("date"), day.cast("int"))
      resetBy match {
        case None => lit(0L)
        case Some("month") => (year(dt) * 12 + month(dt) - 1).cast("long")
        case Some("quarter") => (year(dt) * 4 + quarter(dt) - 1).cast("long")
        case _ => year(dt).cast("long")
      }
    }
    val segCols = segmentBy.map(col)
    // running SUMS: daily decimal partials, then an incremental
    // unbounded-preceding window per (segment, reset bucket)
    val sumFrame: Option[DataFrame] = if (sm.isEmpty) None else Some {
      val aggs = sm.map(id =>
        sum(col(id)).cast(DecimalType(18, 2)).as(id))
      val daily = cube.live
        .groupBy((segCols :+ dayKey): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumnRenamed("d", "day")
        .withColumn("__bucket", bucketOf(col("day")))
      val w = Window
        .partitionBy((segCols :+ col("__bucket")): _*)
        .orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select((segCols ++ Seq(col("day")) ++ sm.map(id =>
        sum(col(id)).over(w).cast(DecimalType(18, 2)).cast("double")
          .as(s"cum_sum_$id"))): _*)
    }
    val B = graft.functions.Bitmap
    // exact lifetime distinct: prefix-OR of the daily bitmaps, then
    // cardinality per day; `new` = the per-day increment of that curve
    val bmFrame: Option[DataFrame] = if (xd.isEmpty) None else Some {
      val cumCards: DataFrame = if (cube.config.bitmapShardBits == 0) {
        val aggs = xd.map(id => B.unionAgg(col(id)).as(id))
        val daily = cube.live
          .groupBy((segCols :+ dayKey): _*)
          .agg(aggs.head, aggs.tail: _*)
          .withColumnRenamed("d", "day")
          .withColumn("__bucket", bucketOf(col("day")))
        val w = Window
          .partitionBy((segCols :+ col("__bucket")): _*)
          .orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.select((segCols ++ Seq(col("day")) ++ xd.map(id =>
          B.cardinality(B.unionAgg(col(id)).over(w))
            .as(s"cum_exact_$id"))): _*)
      } else {
        // SHARDED prefix: a shard silent on day d still carries its
        // prefix forward, so the per-shard windows run over the full
        // day×shard grid (absent partials coalesce to the empty
        // bitmap); per-day cardinalities then ADD back across shards
        val aggs = xd.map(id => B.unionAgg(col(id)).as(id))
        val dailySh = cube.live
          .groupBy((segCols :+ dayKey :+ col(CubeManager.ShardCol)): _*)
          .agg(aggs.head, aggs.tail: _*)
        val days = dailySh.select((segCols :+ col("d")): _*).distinct()
        val shards = dailySh
          .select((segCols :+ col(CubeManager.ShardCol)): _*).distinct()
        val grid =
          if (segmentBy.isEmpty) days.crossJoin(shards)
          else days.join(shards, segmentBy)
        val emptyBm = lit(Array[Byte](0, 0, 0, 0)) // codec: zero blocks
        val filled = grid
          .join(dailySh, segmentBy ++ Seq("d", CubeManager.ShardCol),
            "left")
          .select((segCols ++ Seq(col("d").as("day"),
            col(CubeManager.ShardCol)) ++
            xd.map(id => coalesce(col(id), emptyBm).as(id))): _*)
          .withColumn("__bucket", bucketOf(col("day")))
        val w = Window
          .partitionBy((segCols ++
            Seq(col(CubeManager.ShardCol), col("__bucket"))): _*)
          .orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val perShard = filled.select((segCols ++ Seq(col("day")) ++
          xd.map(id => B.cardinality(B.unionAgg(col(id)).over(w))
            .as(s"__x_$id"))): _*)
        val sums = xd.map(id => sum(col(s"__x_$id")).as(s"cum_exact_$id"))
        perShard.groupBy((segCols :+ col("day")): _*)
          .agg(sums.head, sums.tail: _*)
      }
      // the increment runs AFTER the shard sum — the grid aligns every
      // shard on every observed day, so the summed curve's discrete
      // derivative equals the union's
      val w2 = Window
        .partitionBy((segCols :+ col("__bucket")): _*)
        .orderBy(col("day"))
      cumCards
        .withColumn("__bucket", bucketOf(col("day")))
        .select((segCols ++ Seq(col("day")) ++
          xd.map(id => col(s"cum_exact_$id")) ++
          xd.map(id => (col(s"cum_exact_$id") -
            coalesce(lag(col(s"cum_exact_$id"), 1).over(w2), lit(0L)))
            .as(s"new_exact_$id"))): _*)
    }
    val joined = (bmFrame, sumFrame) match {
      case (Some(b), Some(s)) => b.join(s, segmentBy :+ "day")
      case (Some(b), None) => b
      case (None, Some(s)) => s
      case _ => throw new IllegalStateException("unreachable")
    }
    val ordered: Seq[Column] = segCols ++ Seq(col("day")) ++
      xd.map(id => col(s"cum_exact_$id")) ++
      xd.map(id => col(s"new_exact_$id")) ++
      sm.map(id => col(s"cum_sum_$id"))
    joined.select(ordered: _*)
      .orderBy((segCols :+ col("day")): _*)
  }

  /** ORDERED FUNNEL served from maintained daily bitmap partials — the
    * conversion dashboard ("view → click → purchase") as exact set
    * algebra over the cube: for every observed period p and step k,
    * `converted` = ids that completed steps 1..k IN ORDER by p (step
    * k's activity at some period q ≤ p with steps 1..k−1 already
    * complete by q; same-period completion counts — period granularity
    * cannot order within a period, which is the documented semantics
    * of every period-bucketed funnel).
    *
    * Mechanics: a CASCADE of prefix-unions. With B_k[q] the step-k
    * bitmap at period q (the OR of the step's cells — `stepDim` is a
    * dimension, so cells partition by step), the converted-by-k set is
    *
    *   C_1 = prefixOR(B_1);   C_k = prefixOR(B_k ∩ C_{k−1})
    *
    * — an induction that makes C_k[p] EXACTLY {id : t_k(id) ≤ p} for
    * the usual min-conversion-time recursion t_k = min q ≥ t_{k−1}
    * with step-k activity, so the whole matrix is oracle-gradable
    * against a raw recompute. Each step is ONE incremental window pass
    * over the |periods| frame (never the source); the sharded twin
    * runs the cascade per shard over the period×shard grid and sums
    * cardinalities back. Deletes latch bitmaps — refused, the
    * rolling/retention contract. */
  def getFunnel(
      name: String,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      segmentBy: Seq[String] = Nil,
      withinPeriods: Int = 0): DataFrame =
    funnelFrom(loadCube(name), name, dayDim, bitmapId, stepDim, steps,
      periodDays, segmentBy, withinPeriods)

  /** [[getFunnel]] for join MVs. */
  def getJoinFunnel(
      name: String,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      segmentBy: Seq[String] = Nil,
      withinPeriods: Int = 0): DataFrame =
    funnelFrom(loadJoinCube(name).cube, name, dayDim, bitmapId, stepDim,
      steps, periodDays, segmentBy, withinPeriods)

  /** TIME-TO-CONVERT histogram — "how long does the funnel take":
    * for every converted id, the lag `t_K − t_1` between its FIRST
    * step-1 period and its conversion period under [[getFunnel]]'s
    * unbounded min-chain semantics, returned as exact
    * `(lag_periods, converted)` rows (zero-count lags omitted — the
    * raw GROUP BY convention; Σ converted = the cascade's final
    * converted count). Served EXACTLY from per-period bitmap
    * partials: `F_p = B¹_p ∖ prefixOR(B¹_{<p})` (ids whose first
    * step-1 period is p) and `N_p = C_p ∖ C_{p−1}` (ids newly
    * converted at p — the cascade's converted-by set is monotone, so
    * the difference is exactly `t_K = p`), and each histogram cell is
    * `Σ_p |F_p ∩ N_{p+lag}|` — every converted id lands in exactly
    * one (F, N) pair, at its true lag. Cost shape: the funnel
    * cascade's one pass to |periods| frames, then
    * |periods| × maxLagPeriods one-row AND-cardinalities — never the
    * source (the raw twin is the min-join recursion PLUS a per-id
    * subtraction and a re-count). `maxLagPeriods` bounds the pair
    * fan-out (1..366, the [[getEngagement]] discipline): ids
    * converting slower than the bound are not counted — pick
    * `periodDays` so the observed span fits. Sharded cubes run F/N
    * per shard and SUM cell counts (shards partition the id space);
    * deletes latch — refused (funnelFrom's requires). */
  def getTimeToConvert(
      name: String,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      maxLagPeriods: Int = 366,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    timeToConvertFrom(loadCube(name), name, dayDim, bitmapId, stepDim,
      steps, periodDays, maxLagPeriods, segmentBy, calendar)

  /** [[getTimeToConvert]] for join MVs. */
  def getJoinTimeToConvert(
      name: String,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      maxLagPeriods: Int = 366,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    timeToConvertFrom(loadJoinCube(name).cube, name, dayDim, bitmapId,
      stepDim, steps, periodDays, maxLagPeriods, segmentBy, calendar)

  /** [[getJoinTimeToConvert]] over a retained version. */
  def getJoinTimeToConvertAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      maxLagPeriods: Int = 366,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    timeToConvertFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      stepDim, steps, periodDays, maxLagPeriods, segmentBy, calendar)

  /** [[getTimeToConvert]] over a retained version. */
  def getTimeToConvertAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      maxLagPeriods: Int = 366,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    timeToConvertFrom(cubeAt(name, version), name, dayDim, bitmapId,
      stepDim, steps, periodDays, maxLagPeriods, segmentBy, calendar)

  private def timeToConvertFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int,
      maxLagPeriods: Int,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(maxLagPeriods >= 1 && maxLagPeriods <= 366,
      s"maxLagPeriods must be in 1..366, got $maxLagPeriods (the " +
        "lag window is the user-facing histogram bound)")
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(steps.size >= 2 && steps.size <= 8,
      s"a funnel needs 2..8 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(
      cube.config.dims.exists(d =>
        d.id == stepDim && !d.isInstanceOf[TimeDim]),
      s"$stepDim is not a (non-time) dimension of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve conversion lags")
    // SEGMENTED lag histograms ("time to convert per country"): each
    // segment's chain runs over ITS events — the funnelFrom convention
    segmentBy.foreach { sd =>
      require(!Seq("lag_periods", "converted", "period", "day", "d")
          .contains(sd),
        s"segment id $sd collides with the output columns — rename " +
          "the dimension in the cube")
      require(sd != stepDim,
        s"segment id $sd is the step dimension itself")
      require(
        cube.config.dims.exists(d =>
          d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    calendar.foreach(g =>
      require(Seq("month", "quarter", "year").contains(g),
        s"calendar granularity must be month/quarter/year, got $g"))
    val B = graft.functions.Bitmap
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val dayDate = col(dayDim).cast("date")
    // calendar ordinals make the lag unit months/quarters/years —
    // ±1 adjacency exact across year boundaries (the
    // getRetentionCalendar bucket discipline)
    val periodKey = (calendar match {
      case None => floor(dayKey.cast("double") / periodDays).cast("long")
      case Some("month") =>
        (year(dayDate) * 12 + month(dayDate) - 1).cast("long")
      case Some("quarter") =>
        (year(dayDate) * 4 + quarter(dayDate) - 1).cast("long")
      case _ => year(dayDate).cast("long")
    }).as("period")
    val segCols = segmentBy.map(col)
    val sharded = cube.config.bitmapShardBits > 0
    val shardCols = if (sharded) Seq(col(CubeManager.ShardCol)) else Nil
    val stepAggs = steps.zipWithIndex.map { case (s, i) =>
      B.unionAgg(when(col(stepDim) === s, col(bitmapId))).as(s"__b$i") }
    val base = cube.live
      .filter(col(stepDim).isin(steps: _*))
      .groupBy((segCols ++ Seq(periodKey) ++ shardCols): _*)
      .agg(stepAggs.head, stepAggs.tail: _*)
    val periods = base.select((segCols :+ col("period")): _*).distinct()
    val grid =
      if (!sharded) periods
      else {
        val shards =
          base.select((segCols :+ col(CubeManager.ShardCol)): _*)
            .distinct()
        if (segmentBy.isEmpty) periods.crossJoin(shards)
        else periods.join(shards, segmentBy)
      }
    val keyCols = segmentBy ++ Seq("period") ++
      (if (sharded) Seq(CubeManager.ShardCol) else Nil)
    val emptyBm = lit(Array[Byte](0, 0, 0, 0)) // codec: zero blocks
    val partCols = segCols ++ shardCols
    val w = Window.partitionBy(partCols: _*).orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(partCols: _*).orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLag = Window.partitionBy(partCols: _*).orderBy(col("period"))
    var frame = grid.join(base, keyCols, "left")
    steps.zipWithIndex.foreach { case (_, i) =>
      val qual =
        if (i == 0) coalesce(col(s"__b$i"), emptyBm)
        else B.and(coalesce(col(s"__b$i"), emptyBm), col(s"__c${i - 1}"))
      frame = frame.withColumn(s"__c$i", B.unionAgg(qual).over(w))
    }
    val last = steps.size - 1
    frame = frame
      .withColumn("__f", B.andNot(coalesce(col("__b0"), emptyBm),
        coalesce(B.unionAgg(coalesce(col("__b0"), emptyBm)).over(wPrev),
          emptyBm)))
      .withColumn("__n", B.andNot(col(s"__c$last"),
        coalesce(lag(col(s"__c$last"), 1).over(wLag), emptyBm)))
    // EXPLODE-IDS LAG JOIN (optimization round 19 — the round-18
    // cohortFrom rationale applied to the lag grid): the former plan
    // BNLJ'd the |periods| one-row __f frame against the __n frame
    // (|periods| × maxLag blob pairs, one AND-cardinality each) inside
    // the single task the windows had funneled the frame to. Within a
    // (segment [, shard]) partition an id appears in AT MOST ONE __f
    // bitmap (its first step-1 period — __f is the prefix-ANDNOT
    // new-set) and AT MOST ONE __n bitmap (__c is monotone, so each id
    // converts exactly once), and shards partition the id space, so
    // Σ_{pairs} |F_pa ∩ N_pb| is exactly one row per (segment, id) in
    // the equi-join of the exploded id rows — an ordinary parallel
    // shuffle join, linear in the id count instead of quadratic in the
    // period count. The lag-window condition (0 ≤ pb − pa ≤ maxLag) and
    // the null-period behavior (a null pa/pb never satisfies the range
    // predicate) carry over verbatim; `converted` keeps the sum-typed
    // long the blob walk produced.
    val fIds = frame.select((segCols ++ Seq(col("period").as("__pa"),
      explode_outer(B.ids(col("__f"))).as("__id"))): _*)
      .filter(col("__id").isNotNull)
    val nIds = frame.select((segCols ++ Seq(col("period").as("__pb"),
      explode_outer(B.ids(col("__n"))).as("__id"))): _*)
      .filter(col("__id").isNotNull)
    fIds.join(nIds, segmentBy :+ "__id")
      .filter(col("__pb") >= col("__pa") &&
        col("__pb") <= col("__pa") + maxLagPeriods)
      .groupBy((segmentBy.map(col) :+
        (col("__pb") - col("__pa")).as("lag_periods")): _*)
      .agg(sum(lit(1L)).as("converted"))
      .filter(col("converted") >= 1)
      .orderBy((segmentBy.map(col) :+ col("lag_periods")): _*)
  }

  private def funnelFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int,
      segmentBy: Seq[String] = Nil,
      withinPeriods: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(steps.size >= 2 && steps.size <= 8,
      s"a funnel needs 2..8 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(
      cube.config.dims.exists(d =>
        d.id == stepDim && !d.isInstanceOf[TimeDim]),
      s"$stepDim is not a (non-time) dimension of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve funnel curves")
    // SEGMENTED funnels ("conversion per country"): each segment's
    // cascade runs over ITS observed periods — same convention as
    // every segmented cohort serve
    segmentBy.foreach { sd =>
      require(!Seq("period", "step", "step_ord", "day", "d").contains(sd),
        s"segment id $sd collides with the funnel output columns " +
          "(reserved: period, step, step_ord, day, d) — rename the " +
          "dimension in the cube")
      require(sd != stepDim,
        s"segment id $sd is the step dimension itself")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    val B = graft.functions.Bitmap
    val segCols = segmentBy.map(col)
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val periodKey = floor(dayKey.cast("double") / periodDays)
      .cast("long").as("period")
    val sharded = cube.config.bitmapShardBits > 0
    val shardCols = if (sharded) Seq(col(CubeManager.ShardCol)) else Nil
    // ONE pass over cube-sized partials: per (segment, period [,shard])
    // row, ONE bitmap column per step via conditional aggregation (the
    // aggregate skips the other steps' nulls; an all-null group yields
    // the EMPTY bitmap — exactly the absent-step semantics). The
    // per-step join-and-rescan form measured 3.1× under ×10 ids in
    // SCALING.md's harness (|steps|+2 cube scans); this shape is one
    // scan + one grid join regardless of step count.
    val stepAggs = steps.zipWithIndex.map { case (s, i) =>
      B.unionAgg(when(col(stepDim) === s, col(bitmapId))).as(s"__b$i") }
    val base = cube.live
      .filter(col(stepDim).isin(steps: _*))
      .groupBy((segCols ++ Seq(periodKey) ++ shardCols): _*)
      .agg(stepAggs.head, stepAggs.tail: _*)
    // the period domain: every period where ANY step was active (per
    // segment) — a step silent at p still carries its prefix forward
    val periods = base.select((segCols :+ col("period")): _*).distinct()
    val grid =
      if (!sharded) periods
      else {
        val shards =
          base.select((segCols :+ col(CubeManager.ShardCol)): _*).distinct()
        if (segmentBy.isEmpty) periods.crossJoin(shards)
        else periods.join(shards, segmentBy)
      }
    val keyCols = segmentBy ++ Seq("period") ++
      (if (sharded) Seq(CubeManager.ShardCol) else Nil)
    val emptyBm = lit(Array[Byte](0, 0, 0, 0)) // codec: zero blocks
    val w = Window
      .partitionBy((segCols ++ shardCols): _*)
      .orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // BOUNDED funnels (withinPeriods > 0): step k at q must follow a
    // step-(k−1) QUALIFICATION at some r ∈ [q − within, q] — the
    // ClickHouse-windowFunnel semantics (any chain with adjacent gaps
    // ≤ within counts, including re-qualification: a user whose first
    // step-1 is too old but who repeats it later re-enters). RANGE
    // frames on the period key make calendar gaps count against the
    // window (an unobserved period still ages the chain out)
    val rangeW =
      if (withinPeriods <= 0) w
      else Window
        .partitionBy((segCols ++ shardCols): _*)
        .orderBy(col("period"))
        .rangeBetween(-withinPeriods.toLong, Window.currentRow)
    // the cascade: intersect each step's bitmap with the previous
    // step's QUALIFIED set — the full prefix for unbounded funnels,
    // the trailing `within` range for bounded ones — then prefix-union
    // into the converted set; window passes chain over ONE sorted frame
    var frame = grid.join(base, keyCols, "left")
    steps.zipWithIndex.foreach { case (s, i) =>
      val qual =
        if (i == 0) coalesce(col(s"__b$i"), emptyBm)
        else B.and(coalesce(col(s"__b$i"), emptyBm),
          if (withinPeriods <= 0) col(s"__c${i - 1}")
          else B.unionAgg(col(s"__q${i - 1}")).over(rangeW))
      frame = frame.withColumn(s"__q$i", qual)
      frame = frame.withColumn(s"__c$i",
        B.unionAgg(col(s"__q$i")).over(w))
    }
    val rows = steps.zipWithIndex.map { case (s, i) =>
      frame.select((segCols ++ Seq(col("period"),
        lit(i + 1).as("step_ord"), lit(s).as("step"),
        B.cardinality(col(s"__c$i")).as("__n"))): _*)
    }.reduce(_ union _)
    val out =
      if (!sharded) rows.withColumnRenamed("__n", "converted")
      else rows
        .groupBy((segCols ++ Seq(col("period"), col("step_ord"),
          col("step"))): _*)
        .agg(sum(col("__n")).as("converted"))
    out.select((segCols ++ Seq(col("period"), col("step_ord"),
        col("step"), col("converted"))): _*)
      .orderBy((segCols ++ Seq(col("period"), col("step_ord"))): _*)
  }

  /** ENGAGEMENT-FREQUENCY histogram — the exact L7/L28 "power-user
    * curve": for every observed day d (the rolling-endpoint
    * convention), the distribution of how many of the trailing
    * window's observed days each active id was active —
    * `(day, days_active, users)` rows with
    * `Σ_k users(d, k) = |ids active in the window|` (the WAU/MAU
    * total [[getRolling]]'s `exactDistinctOf` serves, decomposed by
    * intensity; `days_active = windowDays` is [[getRolling]]'s
    * `intersectOf` stickiness count — both identities are pinned).
    * Served EXACTLY from the same daily bitmap partials via
    * [[graft.functions.BitmapKCountAgg]]: each endpoint aggregates
    * its ≤ windowDays one-row bitmaps into the occurrence-count
    * partition (order-independent, mergeable), and the histogram is
    * its per-bucket cardinalities. Rows with zero users are omitted
    * (the raw GROUP BY convention — an intensity nobody hit has no
    * row). Cost shape: one pass over cube-sized partials to per-day
    * bitmaps, the rolling ×windowDays endpoint fan-out, then one
    * O(windowDays²)-merge aggregate per endpoint — never the source
    * (the raw twin re-shuffles (endpoint, id, day) triples per
    * refresh). Sharded cubes run the aggregate per (endpoint, shard)
    * and SUM the per-bucket counts (shards partition the id space);
    * segments subdivide partials per segment cell with per-segment
    * endpoints, the [[getRolling]] convention. Deletes latch —
    * refused. */
  def getEngagement(
      name: String,
      dayDim: String,
      bitmapId: String,
      windowDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    engagementFrom(loadCube(name), name, dayDim, bitmapId, windowDays,
      segmentBy)

  /** [[getEngagement]] for join MVs. */
  def getJoinEngagement(
      name: String,
      dayDim: String,
      bitmapId: String,
      windowDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    engagementFrom(loadJoinCube(name).cube, name, dayDim, bitmapId,
      windowDays, segmentBy)

  private def engagementFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      windowDays: Int,
      segmentBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    // bounded fan-out, the getFunnel(steps ∈ 2..8) discipline: the
    // serve explodes each daily bitmap into windowDays endpoint rows
    // and BitmapKCountAgg's combine is O(windowDays²) merge-walks —
    // wire-exposed via AdminServer, so an unbounded window is a
    // request-sized blow-up. 366 covers every calendar-year window.
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays must be in 1..366, got $windowDays")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve engagement histograms")
    segmentBy.foreach { sd =>
      require(!Seq("day", "d", "days_active", "users").contains(sd),
        s"segment id $sd collides with the engagement output columns " +
          "(reserved: day, d, days_active, users) — rename the dimension")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    val B = graft.functions.Bitmap
    val sharded = cube.config.bitmapShardBits > 0
    val shardCols = if (sharded) Seq(col(CubeManager.ShardCol)) else Nil
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long").as("d")
    // one bitmap per (segment, day [, shard]) — blobs bounded by the
    // shard width through every step when sharded
    val daily = cube.live
      .groupBy((segmentBy.map(col) :+ dayKey) ++ shardCols: _*)
      .agg(B.unionAgg(col(bitmapId)).as("bm"))
    // the Rolling.endpoints shape (per segment when segmented):
    // explode each daily partial to its trailing endpoints, restrict
    // to observed days — tiny at any scale, hence broadcast
    val days = daily
      .select((segmentBy.map(col) :+ col("d").as("day")): _*).distinct()
    val exploded = daily
      .withColumn("day",
        explode(expr(s"sequence(d, d + ${windowDays - 1})")))
      .drop("d")
      .join(broadcast(days), segmentBy :+ "day", "left_semi")
    val perGroup = exploded
      .groupBy((segmentBy.map(col) :+ col("day")) ++ shardCols: _*)
      .agg(B.kCountAgg(col("bm"), windowDays).as("__k"))
    // the partition's buckets → (days_active, users) rows; the top
    // bucket cannot saturate (an id cannot be active on more days
    // than the window has)
    val hist = perGroup
      .select((segmentBy.map(col) ++ Seq(col("day")) ++ shardCols :+
        posexplode(col("__k"))): _*)
      .select((segmentBy.map(col) ++ Seq(col("day")) ++ shardCols ++ Seq(
        (col("pos") + 1).cast("long").as("days_active"),
        col("col").as("users"))): _*)
    val summed =
      if (!sharded) hist
      else hist
        .groupBy((segmentBy.map(col) ++
          Seq(col("day"), col("days_active"))): _*)
        .agg(sum(col("users")).as("users"))
    summed
      .filter(col("users") > 0)
      .select((segmentBy.map(col) ++ Seq(col("day"), col("days_active"),
        col("users"))): _*)
      .orderBy((segmentBy.map(col) ++
        Seq(col("day"), col("days_active"))): _*)
  }

  /** STICKINESS curve — the DAU/MAU-style ratio chart: per observed
    * endpoint day, the exact count of ids active in the trailing
    * `shortDays` window, in the trailing `longDays` window, and their
    * ratio. Both counts are [[getRolling]]'s exact bitmap unions over
    * the SAME maintained daily partials (one cube serves any window
    * pair), and both serves share the endpoint domain (the cube's
    * observed days), so the pairing join is a bijection over the
    * |days| frame — cube-sized work, never a source scan. The ratio is
    * ONE IEEE division of two exact longs (deterministic,
    * hash-gradable — no accumulation-order drift). Segments partition
    * both windows per segment; sharded cubes serve per (endpoint,
    * shard) inside the rolling core and the counts ADD before the
    * division. `longDays` caps at 366 — the serve explodes each daily
    * partial into `longDays` endpoint rows (the getEngagement
    * bounded-fan-out discipline). Related but distinct:
    * `getRolling(intersectOf)` counts ids active on EVERY window day;
    * this verb counts the actives-ratio of two windows. */
  def getStickiness(
      name: String,
      dayDim: String,
      bitmapId: String,
      shortDays: Int = 1,
      longDays: Int = 28,
      segmentBy: Seq[String] = Nil): DataFrame =
    stickinessFrom(loadCube(name), name, dayDim, bitmapId, shortDays,
      longDays, segmentBy)

  /** [[getStickiness]] for join MVs. */
  def getJoinStickiness(
      name: String,
      dayDim: String,
      bitmapId: String,
      shortDays: Int = 1,
      longDays: Int = 28,
      segmentBy: Seq[String] = Nil): DataFrame =
    stickinessFrom(loadJoinCube(name).cube, name, dayDim, bitmapId,
      shortDays, longDays, segmentBy)

  private def stickinessFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      shortDays: Int,
      longDays: Int,
      segmentBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(shortDays >= 1, s"shortDays must be >= 1, got $shortDays")
    require(longDays > shortDays,
      s"longDays ($longDays) must exceed shortDays ($shortDays) — " +
        "equal windows are a constant-1.0 chart")
    require(longDays <= 366,
      s"longDays must be <= 366, got $longDays (the serve explodes " +
        "each daily partial into longDays endpoint rows)")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    segmentBy.foreach { sd =>
      require(!Seq("day", "active_short", "active_long", "stickiness")
        .contains(sd),
        s"segment id $sd collides with the stickiness output columns " +
          "(reserved: day, active_short, active_long, stickiness) — " +
          "rename the dimension")
    }
    def curve(w: Int, out: String) =
      rollingFrom(cube, name, dayDim, w, Nil, Nil, Nil, Nil, Nil, Nil,
        exactDistinctOf = Seq(bitmapId), segmentBy = segmentBy)
        .select((segmentBy.map(col) ++ Seq(col("day"),
          col(s"n_exact_$bitmapId").as(out))): _*)
    curve(shortDays, "active_short")
      .join(curve(longDays, "active_long"), segmentBy :+ "day")
      .withColumn("stickiness",
        col("active_short") / col("active_long"))
      .select((segmentBy.map(col) ++ Seq(col("day"),
        col("active_short"), col("active_long"),
        col("stickiness"))): _*)
      .orderBy((segmentBy.map(col) :+ col("day")): _*)
  }

  /** EXACT audience-overlap matrix — for every pair of values of a
    * dimension, the set algebra of their id audiences: sizes, the
    * intersection, both exclusive remainders, and the Jaccard
    * similarity. The exact, hash-gradable twin of the HLL overlap
    * (q120): one bitmap per dimension value (cells of other
    * dimensions collapse into it), then a pairwise merge-walk per
    * (a < b) pair — |values|·(|values|−1)/2 one-row operations over
    * cube-derived bitmaps, never the source. `values` restricts the
    * matrix to a subset (the matrix is quadratic in |values| by
    * construction — the restriction is the scale knob, pairs of a
    * 10⁶-value dimension are a different workload). Sharded cubes
    * pair per (value, shard) and ADD the per-shard counts (shards
    * partition the id space). Deletes latch bitmaps — refused. */
  def getOverlapMatrix(
      name: String,
      dim: String,
      bitmapId: String,
      values: Seq[String] = Nil): DataFrame =
    overlapFrom(loadCube(name), name, dim, bitmapId, values)

  /** [[getOverlapMatrix]] for join MVs. */
  def getJoinOverlapMatrix(
      name: String,
      dim: String,
      bitmapId: String,
      values: Seq[String] = Nil): DataFrame =
    overlapFrom(loadJoinCube(name).cube, name, dim, bitmapId, values)

  private def overlapFrom(
      cube: Cube,
      name: String,
      dim: String,
      bitmapId: String,
      values: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(
      cube.config.dims.exists(d => d.id == dim && !d.isInstanceOf[TimeDim]),
      s"$dim is not a (non-time) dimension of cube $name")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve overlap matrices")
    val B = graft.functions.Bitmap
    val sharded = cube.config.bitmapShardBits > 0
    val shardCols = if (sharded) Seq(col(CubeManager.ShardCol)) else Nil
    val restricted =
      if (values.isEmpty) cube.live
      else cube.live.filter(col(dim).isin(values: _*))
    val per = restricted
      .groupBy((Seq(col(dim)) ++ shardCols): _*)
      .agg(B.unionAgg(col(bitmapId)).as("__bm"))
    // audience sizes per value: per-shard cardinalities ADD (shards
    // partition the id space); unsharded this is one row per value
    val sizes = per.groupBy(col(dim))
      .agg(sum(B.cardinality(col("__bm"))).as("__n"))
    // the ordered pair grid carries BOTH sizes — a pair with no joint
    // shard (possible under sharding) still appears, with overlap 0
    val grid = sizes.select(col(dim).as("a"), col("__n").as("__na"))
      .join(sizes.select(col(dim).as("b"), col("__n").as("__nb")),
        col("a") < col("b"))
    // overlaps: pair per (a < b [, same shard]) — the merge-walks stay
    // blob-bounded because each side is one shard's bitmap
    val la = per.select((Seq(col(dim).as("a"),
      col("__bm").as("__abm")) ++
      (if (sharded) Seq(col(CubeManager.ShardCol).as("__sha")) else Nil)): _*)
    val lb = per.select((Seq(col(dim).as("b"),
      col("__bm").as("__bbm")) ++
      (if (sharded) Seq(col(CubeManager.ShardCol).as("__shb")) else Nil)): _*)
    val cond =
      if (sharded) col("a") < col("b") && col("__sha") === col("__shb")
      else col("a") < col("b")
    val ov = la.join(lb, cond)
      .select(col("a"), col("b"),
        B.andCardinality(col("__abm"), col("__bbm")).as("__o"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("__o")).as("__ov"))
    grid.join(ov, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        coalesce(col("__ov"), lit(0L)).as("overlap"),
        (col("__na") - coalesce(col("__ov"), lit(0L))).as("only_a"),
        (col("__nb") - coalesce(col("__ov"), lit(0L))).as("only_b"),
        (coalesce(col("__ov"), lit(0L)).cast("double") /
          (col("__na") + col("__nb") - coalesce(col("__ov"), lit(0L))))
          .as("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** The COHORT RETENTION TRIANGLE — the classic cohort-analysis
    * heatmap: for every cohort period w (ids FIRST seen in w) and
    * offset k ≥ 0, how many of that cohort were active in period
    * w + k, plus the cohort's size. All exact from the same daily
    * bitmap partials: new_w = P_w \ prefixOR(P_{<w}) (a bytes-ANDNOT
    * against the lagged running union — [[graft.functions
    * .BitmapAndNotBytes]]), retained(w, k) = |new_w ∩ P_{w+k}|. Rows
    * follow the raw-join convention: only observed (cohort, offset)
    * cells with ≥ 1 retained id (offset 0 is always the full cohort).
    * Cost shape: one pass to |periods| one-row bitmaps, one window
    * pass for the new-sets, then a |periods|²/2 pair walk over
    * one-row frames — never the source (the raw twin joins the
    * first-seen frame back to every (id, period) pair). Sharded
    * cubes run the whole walk per shard and SUM the counts; segments
    * partition everything per segment cell. Deletes latch — refused. */
  def getCohortMatrix(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortFrom(loadCube(name), name, dayDim, bitmapId, periodDays,
      segmentBy)

  /** [[getCohortMatrix]] for join MVs. */
  def getJoinCohortMatrix(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortFrom(loadJoinCube(name).cube, name, dayDim, bitmapId,
      periodDays, segmentBy)

  /** CALENDAR-period cohort triangle — month/quarter/year cohorts
    * with offsets in REAL calendar buckets (the standard SaaS "cohort
    * month × months since" heatmap): the period key is the bucket's
    * integer ordinal (the [[getRetentionCalendar]] discipline), so
    * offset 1 from a December cohort is exactly January and a 28-day
    * February is one month like any other — semantics a fixed
    * `periodDays = 30` approximation drifts from across years. */
  def getCohortMatrixCalendar(
      name: String,
      dayDim: String,
      bitmapId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortFrom(loadCube(name), name, dayDim, bitmapId, 1, segmentBy,
      Some(granularity))

  /** [[getCohortMatrixCalendar]] for join MVs. */
  def getJoinCohortMatrixCalendar(
      name: String,
      dayDim: String,
      bitmapId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortFrom(loadJoinCube(name).cube, name, dayDim, bitmapId, 1,
      segmentBy, Some(granularity))

  private def cohortFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int,
      segmentBy: Seq[String],
      calendar: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(cube.config.allBitmaps.exists(_.id == bitmapId),
      s"$bitmapId is not a bitmap measure of cube $name")
    require(!cube.hasDeletes,
      s"cube $name has folded deletes; its bitmap partials are " +
        "insert-only and cannot serve cohort matrices")
    segmentBy.foreach { sd =>
      require(!Seq("cohort", "offset", "period", "day", "d").contains(sd),
        s"segment id $sd collides with the cohort output columns " +
          "(reserved: cohort, offset, period, day, d)")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    calendar.foreach(g =>
      require(Seq("month", "quarter", "year").contains(g),
        s"calendar granularity must be month/quarter/year, got $g"))
    val B = graft.functions.Bitmap
    val segCols = segmentBy.map(col)
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val dayDate = col(dayDim).cast("date")
    // calendar buckets key on the integer ordinal, so the offset
    // arithmetic (p2 − cohort) counts REAL calendar buckets
    val periodKey = (calendar match {
      case None => floor(dayKey.cast("double") / periodDays).cast("long")
      case Some("month") =>
        (year(dayDate) * 12 + month(dayDate) - 1).cast("long")
      case Some("quarter") =>
        (year(dayDate) * 4 + quarter(dayDate) - 1).cast("long")
      case _ => year(dayDate).cast("long")
    }).as("period")
    // EXPLODE-ENTRIES SERVE (optimization round 18): the former blob
    // algebra built |periods| one-row union bitmaps, ran a prefix-ANDNOT
    // window for the new-sets, then AND-counted |periods|²/2 (cohort,
    // period) blob pairs — and the window had funneled each (segment
    // [, shard]) group into a single task, so the whole quadratic walk
    // ran serially (measured 1.5-1.7 s/serve at sf0.1 local[32]). The
    // identical matrix falls out of plain aggregates over the exploded
    // (segment, period, id) activity rows: first-seen = min period per
    // id (exactly the prefix-ANDNOT fixpoint), each (cohort, offset)
    // cell = |{id : first = cohort, active at cohort + offset}|, and
    // the ≥ 1-retained row set emerges naturally (a cell only exists
    // when some cohort id was active there; offset 0 is the full
    // cohort). Cost is LINEAR in Σ|cell ids| — cube content, never the
    // source — instead of quadratic in the period count, every stage is
    // an ordinary shuffled aggregate (full parallelism, map-side
    // partials), and shard columns simply vanish (an id lives in
    // exactly one shard, so the per-shard walk + re-sum collapses into
    // the same group-bys). Output is row- and type-identical; the
    // oracle gate covers the equivalence.
    // MERGE-THEN-EXPLODE (optimization round 19, the cohortValueFrom
    // rationale): union the bitmaps per (segment, period [, shard])
    // first (ObjectHashAggregate, map-side partial blob unions), then
    // explode — the Generate runs parallel behind the exchange instead
    // of inside the single-file snapshot scan task, and the union
    // already dedupes, so the exploded rows ARE the distinct activity
    // set (ids are disjoint across shards) and the .distinct() shuffle
    // of exploded rows disappears.
    val shardCols =
      if (cube.config.bitmapShardBits > 0) Seq(col(CubeManager.ShardCol))
      else Nil
    val acts = cube.live
      .groupBy((segCols ++ Seq(periodKey) ++ shardCols): _*)
      .agg(B.unionAgg(col(bitmapId)).as("__bm"))
      .select((segCols ++ Seq(col("period"),
        explode_outer(B.ids(col("__bm"))).as("__id"))): _*)
      .filter(col("__id").isNotNull)
    // null-period fidelity: the old window ordered nulls FIRST, so an
    // id whose earliest activity fell in a null period landed in the
    // null new-set and never surfaced in any real cohort (the null
    // cohort row itself dropped at the >= pair condition). Reproduce:
    // any null-period activity excludes the id entirely.
    val first = acts
      .groupBy((segCols :+ col("__id")): _*)
      .agg(min(col("period")).as("cohort"),
        max(col("period").isNull).as("__hadNull"))
      .filter(!col("__hadNull") && col("cohort").isNotNull)
      .drop("__hadNull")
    val cells = acts.join(first, segmentBy :+ "__id")
      .groupBy((segCols ++ Seq(col("cohort"),
        (col("period") - col("cohort")).as("offset"))): _*)
      .agg(count(lit(1)).as("retained"))
    val sizes = first
      .groupBy((segCols :+ col("cohort")): _*)
      .agg(count(lit(1)).as("cohort_size"))
    cells.join(sizes, segmentBy :+ "cohort")
      .select((segCols ++ Seq(col("cohort"), col("offset"),
        col("cohort_size"), col("retained"))): _*)
      .orderBy((segCols ++ Seq(col("cohort"), col("offset"))): _*)
  }

  /** The COHORT VALUE matrix — revenue by cohort age (the LTV heatmap,
    * the ADDITIVE half of the growth dashboard [[getCohortMatrix]]'s
    * count-distinct triangle cannot express): for every cohort period
    * w (ids FIRST seen in w) and offset k ≥ 0,
    *
    *  - `cohort_size` = |new_w|
    *  - `active`      = |new_w ∩ present(W_{w+k})| — cohort ids active
    *                    at offset k
    *  - `value`       = Σ_{id ∈ new_w} weight_{w+k}(id) — what those
    *                    ids were worth in that period, EXACT (scaled-
    *                    long partials, [[graft.functions.WeightMap]])
    *
    * served entirely from maintained weight-map partials
    * ([[CubeConfig.weighted]]): per period the maps pointwise-ADD
    * (lossless), the first-seen sets come from the maps' own key
    * bitmaps (present = net count > 0) via the [[getCohortMatrix]]
    * prefix-ANDNOT walk, and each (cohort, offset) cell is one
    * merge-walk over two one-row blobs. Rows follow the raw-join
    * convention: observed (cohort, offset) cells with ≥ 1 active id.
    *
    * DELETE-CAPABLE WITHOUT SOURCE ACCESS — the family's
    * distinguishing power: weight maps net through signed folds like
    * the decimal sums (per-id counts and weights are invertible), so
    * this verb keeps serving exact values through any delta history
    * where every bitmap/sketch verb latches. No `hasDeletes` refusal.
    *
    * Cost shape: one pass over cube-sized partials to |periods|
    * one-row maps, one window pass for the first-seen sets, then a
    * |periods|²/2 pair walk — never the source (the raw twin joins a
    * per-id min-period frame back to every (id, period, value) group).
    * Sharded cubes ([[CubeConfig.bitmapShardBits]] over the weighted
    * id column) run the whole walk per shard and SUM counts and
    * values — shards partition the id space, so sums ADD and no
    * merged blob ever materializes; segments partition everything per
    * segment cell. */
  def getCohortValue(
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortValueFrom(loadCube(name), name, dayDim, weightedId, periodDays,
      segmentBy)

  /** [[getCohortValue]] for join MVs. */
  def getJoinCohortValue(
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortValueFrom(loadJoinCube(name).cube, name, dayDim, weightedId,
      periodDays, segmentBy)

  /** CALENDAR-period cohort value — month/quarter/year cohorts with
    * offsets in REAL calendar buckets (the standard SaaS "cohort month
    * × months since" LTV heatmap), the [[getCohortMatrixCalendar]]
    * ordinal discipline: offset 1 from a December cohort is exactly
    * January. */
  def getCohortValueCalendar(
      name: String,
      dayDim: String,
      weightedId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortValueFrom(loadCube(name), name, dayDim, weightedId, 1,
      segmentBy, Some(granularity))

  /** [[getCohortValueCalendar]] for join MVs. */
  def getJoinCohortValueCalendar(
      name: String,
      dayDim: String,
      weightedId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortValueFrom(loadJoinCube(name).cube, name, dayDim, weightedId, 1,
      segmentBy, Some(granularity))

  private def cohortValueFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int,
      segmentBy: Seq[String],
      calendar: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(cube.config.weighted.exists(_.id == weightedId),
      s"$weightedId is not a weighted measure of cube $name")
    // NO hasDeletes refusal: weight maps net signed folds exactly
    // (see CubeConfig.weighted) — the one per-id family that keeps
    // serving through deletes
    segmentBy.foreach { sd =>
      require(!Seq("cohort", "offset", "cohort_size", "active", "value",
          "period", "day", "d").contains(sd),
        s"segment id $sd collides with the cohort-value output columns " +
          "(reserved: cohort, offset, cohort_size, active, value, " +
          "period, day, d)")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    calendar.foreach(g =>
      require(Seq("month", "quarter", "year").contains(g),
        s"calendar granularity must be month/quarter/year, got $g"))
    val B = graft.functions.Bitmap
    val W = graft.functions.WeightMap
    val segCols = segmentBy.map(col)
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val dayDate = col(dayDim).cast("date")
    val periodKey = (calendar match {
      case None => floor(dayKey.cast("double") / periodDays).cast("long")
      case Some("month") =>
        (year(dayDate) * 12 + month(dayDate) - 1).cast("long")
      case Some("quarter") =>
        (year(dayDate) * 4 + quarter(dayDate) - 1).cast("long")
      case _ => year(dayDate).cast("long")
    }).as("period")
    // EXPLODE-ENTRIES SERVE (optimization round 18, the cohortFrom
    // rationale with values): the former plan merged |periods| one-row
    // weight maps, windowed a prefix-ANDNOT over their key bitmaps for
    // the first-seen sets, then ran countIn + sumIn merge-walks over
    // |periods|²/2 blob pairs inside the single task the window had
    // reduced the frame to (measured 1.8-4.0 s/serve at sf0.1
    // local[32] — the slowest serve family in the sweep). The identical
    // matrix falls out of plain aggregates over the exploded (segment,
    // period, id, cnt, w) entry rows: net per (segment, period, id)
    // first (pointwise map addition = the same signed sums), PRESENT =
    // net cnt > 0 (the WeightMapKeyBitmap rule, so delete histories net
    // identically), first-seen = min present period, each cell =
    // (count, Σ net scaled weight) of the cohort's ids present at that
    // offset — exact longs, order-independent. Linear in Σ|cell
    // entries| (cube content, never the source) instead of quadratic in
    // the period count, fully parallel, shard columns vanish (an id
    // lives in exactly one shard). Output row- and type-identical; the
    // oracle gate covers the equivalence, and the family stays
    // delete-capable for the same reason the maps are (signed nets).
    //
    // MERGE-THEN-EXPLODE (optimization round 19): exploding raw cell
    // entries put the Generate inside the SCAN stage — one task on the
    // single-file cube snapshot (Probe19: q293 warm ≈ 3.4x q281's) —
    // and shuffled every raw entry row to net it. Merging the maps per
    // (segment, period [, shard]) FIRST (ObjectHashAggregate —
    // map-side partial blob merges, the pointwise addition that IS the
    // net) moves the explode behind the exchange, where it runs
    // parallel across period groups, and its output needs no second
    // aggregate: a merged map's entries are already the net (cnt, w)
    // per id. Sharded cubes merge per shard (ids are disjoint across
    // shards, so per-shard entries are final and the shard column
    // drops at the explode) — the per-group blob buffer stays bounded
    // exactly as the shard mechanism intends.
    val shardCols =
      if (cube.config.bitmapShardBits > 0) Seq(col(CubeManager.ShardCol))
      else Nil
    val net = cube.live
      .groupBy((segCols ++ Seq(periodKey) ++ shardCols): _*)
      .agg(W.mergeAgg(col(weightedId)).as("__wm"))
      .select((segCols ++ Seq(col("period"),
        explode_outer(W.entries(col("__wm"))).as("__e"))): _*)
      .filter(col("__e").isNotNull && col("__e.cnt") > 0)
      .select((segCols ++ Seq(col("period"), col("__e.id").as("__id"),
        col("__e.w").as("__w"))): _*)
    // null-period fidelity — the cohortFrom rule: any null-period
    // presence excludes the id from every real cohort.
    val first = net
      .groupBy((segCols :+ col("__id")): _*)
      .agg(min(col("period")).as("cohort"),
        max(col("period").isNull).as("__hadNull"))
      .filter(!col("__hadNull") && col("cohort").isNotNull)
      .drop("__hadNull")
    val cells = net.join(first, segmentBy :+ "__id")
      .groupBy((segCols ++ Seq(col("cohort"),
        (col("period") - col("cohort")).as("offset"))): _*)
      .agg(count(lit(1)).as("__a"), sum(col("__w")).as("__v"))
    val sizes = first
      .groupBy((segCols :+ col("cohort")): _*)
      .agg(count(lit(1)).as("cohort_size"))
    val matrix = cells
      .join(sizes, segmentBy :+ "cohort")
      .select((segCols ++ Seq(col("cohort"), col("offset"),
        col("cohort_size"), col("__a").as("active"),
        W.toValue(col("__v")).as("value"))): _*)
      .orderBy((segCols ++ Seq(col("cohort"), col("offset"))): _*)
    calendar match {
      case None => matrix
      case Some(g) =>
        val p = col("cohort")
        val start = g match {
          case "month" => make_date(floor(p / 12).cast("int"),
            pmod(p, lit(12)).cast("int") + 1, lit(1))
          case "quarter" => make_date(floor(p / 4).cast("int"),
            pmod(p, lit(4)).cast("int") * 3 + 1, lit(1))
          case _ => make_date(p.cast("int"), lit(1), lit(1))
        }
        matrix.withColumn("cohort_start", date_format(start, "yyyy-MM-dd"))
    }
  }

  /** REVENUE GROWTH ACCOUNTING — the MRR-bridge waterfall, the chart
    * every subscription dashboard leads with, served exactly from
    * maintained weight-map partials: for every observed period p
    * (previous-period sets read as EMPTY at a calendar gap — the
    * [[getGrowthAccounting]] total-columns semantics),
    *
    *  - `revenue`           = Σ_{id ∈ P_p} w_p(id)
    *  - `prev_revenue`      = Σ_{id ∈ P_{p−1}} w_{p−1}(id)
    *  - `new_value`         = Σ over P_p \ prefixOR(P_{<p}) of w_p
    *  - `resurrected_value` = Σ over (P_p ∖ P_{p−1}) ∩ prefix of w_p
    *  - `expansion`         = Σ_{retained} max(0, w_p − w_{p−1})
    *  - `contraction`       = Σ_{retained} max(0, w_{p−1} − w_p)
    *  - `churned_value`     = Σ over P_{p−1} \ P_p of w_{p−1}
    *
    * with the bridge identity on EVERY row:
    *   revenue − prev_revenue =
    *     new_value + resurrected_value + expansion
    *     − contraction − churned_value
    * (P_p splits into new/resurrected/retained; P_{p−1} into retained
    * /churned; the retained Δ is exactly expansion − contraction).
    * All cells are EXACT scaled-long arithmetic — the per-id weights
    * no set-cardinality family can carry — and the weighted family's
    * sign-invertibility means the bridge keeps serving through any
    * delete history (no latch). Cost shape: one pass over cube-sized
    * partials to |periods| one-row maps, a lag + running-union window
    * over that tiny frame, then five merge-walks per row. Sharded
    * cubes window per (segment, shard) and SUM the cells back —
    * retained ids pair within their own shard, so expansion and
    * contraction add exactly like the counts. */
  def getValueGrowthAccounting(
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    valueGrowthFrom(loadCube(name), name, dayDim, weightedId,
      periodDays, segmentBy)

  /** [[getValueGrowthAccounting]] for join MVs. */
  def getJoinValueGrowthAccounting(
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    valueGrowthFrom(loadJoinCube(name).cube, name, dayDim, weightedId,
      periodDays, segmentBy)

  /** CALENDAR-period revenue growth accounting — month/quarter/year
    * bridges on integer ordinals (Dec → Jan exact adjacency). */
  def getValueGrowthAccountingCalendar(
      name: String,
      dayDim: String,
      weightedId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    valueGrowthFrom(loadCube(name), name, dayDim, weightedId, 1,
      segmentBy, Some(granularity))

  /** [[getValueGrowthAccountingCalendar]] for join MVs. */
  def getJoinValueGrowthAccountingCalendar(
      name: String,
      dayDim: String,
      weightedId: String,
      granularity: String = "month",
      segmentBy: Seq[String] = Nil): DataFrame =
    valueGrowthFrom(loadJoinCube(name).cube, name, dayDim, weightedId,
      1, segmentBy, Some(granularity))

  private def valueGrowthFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int,
      segmentBy: Seq[String],
      calendar: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(cube.config.weighted.exists(_.id == weightedId),
      s"$weightedId is not a weighted measure of cube $name")
    // NO hasDeletes refusal — weight maps net signed folds exactly
    segmentBy.foreach { sd =>
      require(sd != "period" && sd != "day" && sd != "d",
        s"segment id $sd collides with the bridge columns " +
          "(reserved names: period, day, d) — rename the dimension")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    calendar.foreach(g =>
      require(Seq("month", "quarter", "year").contains(g),
        s"calendar granularity must be month/quarter/year, got $g"))
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long")
    val dayDate = col(dayDim).cast("date")
    val periodKey = (calendar match {
      case None => floor(dayKey.cast("double") / periodDays).cast("long")
      case Some("month") =>
        (year(dayDate) * 12 + month(dayDate) - 1).cast("long")
      case Some("quarter") =>
        (year(dayDate) * 4 + quarter(dayDate) - 1).cast("long")
      case _ => year(dayDate).cast("long")
    }).as("period")
    val B = graft.functions.Bitmap
    val W = graft.functions.WeightMap
    // codec-empty blobs: a zero-entry weight map and a zero-block
    // bitmap share the byte form (n = 0)
    val emptyBlob = lit(Array[Byte](0, 0, 0, 0))
    def withPeriodStart(matrix: DataFrame): DataFrame = calendar match {
      case None => matrix
      case Some(g) =>
        val p = col("period")
        val start = g match {
          case "month" => make_date(floor(p / 12).cast("int"),
            pmod(p, lit(12)).cast("int") + 1, lit(1))
          case "quarter" => make_date(floor(p / 4).cast("int"),
            pmod(p, lit(4)).cast("int") * 3 + 1, lit(1))
          case _ => make_date(p.cast("int"), lit(1), lit(1))
        }
        matrix.withColumn("period_start",
          date_format(start, "yyyy-MM-dd"))
    }
    // the bridge cells as SCALED LONGS per row (converted to values
    // only after any cross-shard summing, so shard sums stay exact)
    def cells(df: DataFrame, segOut: Seq[Column]): DataFrame = df
      .withColumn("__kbm", W.keyBitmap(col("wm")))
      .withColumn("__pkbm", W.keyBitmap(col("prev_wm")))
      .withColumn("__delta", W.deltaSums(col("wm"), col("prev_wm")))
      .select((segOut ++ Seq(
        col("period"),
        W.sumIn(col("__kbm"), col("wm")).as("__rev"),
        W.sumIn(col("__pkbm"), col("prev_wm")).as("__prev"),
        W.sumIn(B.andNot(col("__kbm"), col("prefix_bm")), col("wm"))
          .as("__new"),
        W.sumIn(B.and(B.andNot(col("__kbm"), col("__pkbm")),
          col("prefix_bm")), col("wm")).as("__res"),
        col("__delta").getItem(0).as("__exp"),
        col("__delta").getItem(1).as("__con"),
        W.sumIn(B.andNot(col("__pkbm"), col("__kbm")), col("prev_wm"))
          .as("__chu"))): _*)
    def finish(df: DataFrame): DataFrame =
      withPeriodStart(df.select((segmentBy.map(col) ++ Seq(
        col("period"),
        W.toValue(col("__rev")).as("revenue"),
        W.toValue(col("__prev")).as("prev_revenue"),
        W.toValue(col("__new")).as("new_value"),
        W.toValue(col("__res")).as("resurrected_value"),
        W.toValue(col("__exp")).as("expansion"),
        W.toValue(col("__con")).as("contraction"),
        W.toValue(col("__chu")).as("churned_value"))): _*)
        .orderBy((segmentBy.map(col) :+ col("period")): _*))
    if (cube.config.bitmapShardBits == 0) {
      val perPeriod = cube.live
        .groupBy((segmentBy.map(col) :+ periodKey): _*)
        .agg(W.mergeAgg(col(weightedId)).as("wm"))
      val w = (if (segmentBy.isEmpty) Window.partitionBy()
               else Window.partitionBy(segmentBy.map(col): _*))
        .orderBy(col("period"))
      // EMPTY-set gap semantics: the previous map applies only when
      // that period is p−1 exactly
      val prevEff = coalesce(
        when(lag(col("period"), 1).over(w) === col("period") - 1,
          lag(col("wm"), 1).over(w)), emptyBlob)
      val prefix = coalesce(
        B.unionAgg(W.keyBitmap(col("wm")))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), emptyBlob)
      val frame = perPeriod
        .withColumn("prev_wm", prevEff)
        .withColumn("prefix_bm", prefix)
      finish(cells(frame, segmentBy.map(col)))
    } else {
      // SHARDED bridge: per (segment, period, shard) maps, the
      // previous period's SAME shard paired by a full-outer join, the
      // strict-prefix key union windowed per (segment, shard); cells
      // stay scaled longs per shard and SUM per period — retained ids
      // pair within their own shard, so every bridge column adds
      val sc = CubeManager.ShardCol
      val perShard = cube.live
        .groupBy((segmentBy.map(col) :+ periodKey :+ col(sc)): _*)
        .agg(W.mergeAgg(col(weightedId)).as("wm0"))
      val obs = perShard
        .select((segmentBy.map(col) :+ col("period")): _*).distinct()
      val prev = perShard.select((segmentBy.map(col) ++ Seq(col(sc),
        (col("period") + 1).as("period"), col("wm0").as("prev0"))): _*)
      val paired = perShard
        .join(prev, segmentBy ++ Seq(sc, "period"), "full_outer")
        .select((segmentBy.map(col) ++ Seq(col(sc), col("period"),
          coalesce(col("wm0"), emptyBlob).as("wm"),
          coalesce(col("prev0"), emptyBlob).as("prev_wm"))): _*)
      val w = Window
        .partitionBy((segmentBy.map(col) :+ col(sc)): _*)
        .orderBy(col("period"))
      val frame = paired.withColumn("prefix_bm",
        coalesce(B.unionAgg(W.keyBitmap(col("wm")))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), emptyBlob))
      val summed = cells(frame, segmentBy.map(col) :+ col(sc))
        .groupBy((segmentBy.map(col) :+ col("period")): _*)
        .agg(sum(col("__rev")).as("__rev"),
          sum(col("__prev")).as("__prev"),
          sum(col("__new")).as("__new"),
          sum(col("__res")).as("__res"),
          sum(col("__exp")).as("__exp"),
          sum(col("__con")).as("__con"),
          sum(col("__chu")).as("__chu"))
        .join(obs, segmentBy :+ "period", "left_semi")
      finish(summed)
    }
  }

  /** EXACT per-entity leaderboard — "top spenders per period" served
    * from maintained weight-map partials with NO sketch: the map
    * carries every present id's exact net value, so the top-k is the
    * TRUE one (where CMS heavy hitters estimate, this family ranks
    * exactly — the value sibling of the freq measures, possible
    * because the id space is the weighted family's dense-integer
    * domain). Deterministic order: value desc, id asc — the
    * `ROW_NUMBER() OVER (ORDER BY v DESC, id)` oracle's own
    * tiebreak, so the whole leaderboard hash-matches. Output: one row
    * per (period, rank ≤ k) with the id and its exact value.
    *
    * Cost shape: one pass over cube-sized partials to |periods|
    * one-row maps, a bounded O(|map|·k) selection per row, then a
    * posexplode to |periods|·k rows. Sharded cubes select top-k PER
    * SHARD first (shards partition the id space, so the global top-k
    * is contained in the union of per-shard top-ks) and re-rank the
    * ≤ |shards|·k survivors per period — no merged blob ever
    * materializes. Deletes net exactly (the weighted family's
    * sign-invertibility): a refunded customer drops down or off the
    * board, matching a from-scratch recompute. */
  def getTopSpenders(
      name: String,
      dayDim: String,
      weightedId: String,
      k: Int = 10,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    topSpendersFrom(loadCube(name), name, dayDim, weightedId, k,
      periodDays, segmentBy)

  /** [[getTopSpenders]] for join MVs. */
  def getJoinTopSpenders(
      name: String,
      dayDim: String,
      weightedId: String,
      k: Int = 10,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    topSpendersFrom(loadJoinCube(name).cube, name, dayDim, weightedId,
      k, periodDays, segmentBy)

  /** [[getTopSpenders]] over a retained version. */
  def getTopSpendersAsOf(
      name: String,
      version: Int,
      dayDim: String,
      weightedId: String,
      k: Int = 10,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    topSpendersFrom(cubeAt(name, version), name, dayDim, weightedId, k,
      periodDays, segmentBy)

  private def topSpendersFrom(
      cube: Cube,
      name: String,
      dayDim: String,
      weightedId: String,
      k: Int,
      periodDays: Int,
      segmentBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(k >= 1 && k <= 100,
      s"k=$k out of range (1..100 — the leaderboard fan-out bound)")
    require(cube.config.dims.exists {
        case TimeDim(id, _, g) => id == dayDim && g == "day"
        case _ => false
      }, s"$dayDim must be a day-granularity time dimension of cube $name")
    require(cube.config.weighted.exists(_.id == weightedId),
      s"$weightedId is not a weighted measure of cube $name")
    segmentBy.foreach { sd =>
      require(!Seq("period", "rank", "id", "value", "day", "d")
          .contains(sd),
        s"segment id $sd collides with the leaderboard columns " +
          "(reserved: period, rank, id, value, day, d)")
      require(
        cube.config.dims.exists(d => d.id == sd && !d.isInstanceOf[TimeDim]),
        s"$sd is not a (non-time) dimension of cube $name")
    }
    val W = graft.functions.WeightMap
    val segCols = segmentBy.map(col)
    val periodKey = floor(
      datediff(col(dayDim).cast("date"), lit("1970-01-01"))
        .cast("long").cast("double") / periodDays).cast("long")
      .as("period")
    val sharded = cube.config.bitmapShardBits > 0
    val shardCols = if (sharded) Seq(col(CubeManager.ShardCol)) else Nil
    // per-(segment [, shard]) top-k candidates, exploded
    val per = cube.live
      .groupBy((segCols ++ Seq(periodKey) ++ shardCols): _*)
      .agg(W.mergeAgg(col(weightedId)).as("__wm"))
      .select((segCols ++ Seq(col("period"),
        explode(W.topK(col("__wm"), k)).as("__e"))): _*)
      .select((segCols ++ Seq(col("period"),
        col("__e.id").as("id"), col("__e.w").as("__w"))): _*)
    // a dict-encoded weighted measure's candidates carry DENSE
    // DICTIONARY ids — translate back to the original keys through
    // the maintained (append-only) dictionary BEFORE ranking, so ties
    // break on the key the caller sees (the per-blob selection kept
    // every boundary tie, so the correct member is always present).
    // The join is broadcast-dict-sized over the candidate rows.
    val wm = cube.config.weighted.find(_.id == weightedId).get
    val candidates =
      cube.config.dictBitmaps.find(_.path == wm.idPath) match {
        case Some(d) =>
          val dict = cube.dicts(d.id)
            .select(col("__id"), col("__key"))
          per.join(broadcast(dict), per("id") === dict("__id"))
            .drop("id", "__id")
            .withColumnRenamed("__key", "id")
        case None => per
      }
    // re-rank over ≤ (|shards|·k + ties) candidate rows per
    // (segment, period): value desc, then the VISIBLE id asc — the
    // ROW_NUMBER oracle's own tiebreak
    val w = Window
      .partitionBy((segCols :+ col("period")): _*)
      .orderBy(col("__w").desc, col("id").asc)
    candidates
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select((segCols ++ Seq(col("period"), col("rank"), col("id"),
        W.toValue(col("__w")).as("value"))): _*)
      .orderBy((segCols ++ Seq(col("period"), col("rank"))): _*)
  }

  // -------------------------------------------- cohort verbs × time travel
  /** The COHORT verb family over a RETAINED HISTORICAL version — "what
    * did the WAU / retention / lifetime / funnel dashboard say as of
    * version k", the audit-and-reproduce story ([[getAggregatesAsOf]])
    * extended to every set-algebra serve. Mechanics are identical to
    * the head serves: [[cubeAt]] resolves the archived version's cells
    * (its own `_meta.json` delete latch included) and the shared
    * `*From` cores run unchanged — so an as-of curve equals what the
    * head verb WOULD have served at that publish, bit for bit
    * (CubeServiceSpec pins it against a captured pre-fold serve). */
  def getRollingAsOf(
      name: String,
      version: Int,
      dayDim: String,
      windowDays: Int = 7,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      segmentBy: Seq[String] = Nil,
      intersectOf: Seq[String] = Nil): DataFrame =
    rollingFrom(cubeAt(name, version), name, dayDim, windowDays,
      distinctOf, quantilesOf, minOf, maxOf, sumOf, avgOf,
      exactDistinctOf, segmentBy, intersectOf)

  /** [[getRetention]] over a retained version; `calendar` selects the
    * [[getRetentionCalendar]] form. */
  def getRetentionAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    retentionFrom(cubeAt(name, version), name, dayDim, bitmapId,
      periodDays, segmentBy, calendar)

  /** [[getCumulative]] over a retained version. */
  def getCumulativeAsOf(
      name: String,
      version: Int,
      dayDim: String,
      sumOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      resetBy: Option[String] = None,
      segmentBy: Seq[String] = Nil): DataFrame =
    cumulativeFrom(cubeAt(name, version), name, dayDim, sumOf,
      exactDistinctOf, resetBy, segmentBy)

  /** [[getOverlapMatrix]] over a retained version. */
  def getOverlapMatrixAsOf(
      name: String,
      version: Int,
      dim: String,
      bitmapId: String,
      values: Seq[String] = Nil): DataFrame =
    overlapFrom(cubeAt(name, version), name, dim, bitmapId, values)

  /** [[getCohortMatrix]] over a retained version; `calendar` selects
    * the [[getCohortMatrixCalendar]] form. */
  def getCohortMatrixAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    cohortFrom(cubeAt(name, version), name, dayDim, bitmapId, periodDays,
      segmentBy, calendar)

  /** [[getCohortValue]] over a retained version; `calendar` selects
    * the [[getCohortValueCalendar]] form. */
  def getCohortValueAsOf(
      name: String,
      version: Int,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    cohortValueFrom(cubeAt(name, version), name, dayDim, weightedId,
      periodDays, segmentBy, calendar)

  /** [[getValueGrowthAccounting]] over a retained version; `calendar`
    * selects the calendar-ordinal form. */
  def getValueGrowthAccountingAsOf(
      name: String,
      version: Int,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    valueGrowthFrom(cubeAt(name, version), name, dayDim, weightedId,
      periodDays, segmentBy, calendar)

  /** [[getFunnel]] over a retained version. */
  def getFunnelAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      segmentBy: Seq[String] = Nil,
      withinPeriods: Int = 0): DataFrame =
    funnelFrom(cubeAt(name, version), name, dayDim, bitmapId, stepDim,
      steps, periodDays, segmentBy, withinPeriods)

  /** [[getEngagement]] over a retained version. */
  def getEngagementAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      windowDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    engagementFrom(cubeAt(name, version), name, dayDim, bitmapId,
      windowDays, segmentBy)

  /** [[getStickiness]] over a retained version. */
  def getStickinessAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      shortDays: Int = 1,
      longDays: Int = 28,
      segmentBy: Seq[String] = Nil): DataFrame =
    stickinessFrom(cubeAt(name, version), name, dayDim, bitmapId,
      shortDays, longDays, segmentBy)

  /** [[getGrowthAccounting]] over a retained version; `calendar`
    * selects the [[getGrowthAccountingCalendar]] form. */
  def getGrowthAccountingAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    growthFrom(cubeAt(name, version), name, dayDim, bitmapId, periodDays,
      segmentBy, calendar)

  // ----------------------------------- join-MV cohort verbs, as-of
  /** The join-MV cube aggregates at a RETAINED version — the cohort
    * verbs' as-of entry point. Sound for join MVs exactly as for plain
    * cubes: a version dir is ONE complete consistent (cube, left
    * state, right state) triple written by a single fold and immutable
    * thereafter, and the cohort serves read ONLY its cube aggregates —
    * the three-frame consistency worry applies to FOLDS (which read
    * side states), never to serves. Same retained-window refusal as
    * [[getJoinAggregatesAsOf]]. */
  private def jmvCubeAt(name: String, version: Int): Cube = {
    val retained = listJoinCubeVersions(name)
    require(retained.contains(version),
      s"join MV '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise retainJmvVersions " +
        "at service construction to widen the time-travel window")
    jmvLoadAt(name, version).cube
  }

  /** [[getJoinRolling]] over a retained version. */
  def getJoinRollingAsOf(
      name: String,
      version: Int,
      dayDim: String,
      windowDays: Int = 7,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      segmentBy: Seq[String] = Nil,
      intersectOf: Seq[String] = Nil): DataFrame =
    rollingFrom(jmvCubeAt(name, version), name, dayDim, windowDays,
      distinctOf, quantilesOf, minOf, maxOf, sumOf, avgOf,
      exactDistinctOf, segmentBy, intersectOf)

  /** [[getJoinRetention]] over a retained version; `calendar` selects
    * the [[getJoinRetentionCalendar]] form. */
  def getJoinRetentionAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    retentionFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      periodDays, segmentBy, calendar)

  /** [[getJoinCumulative]] over a retained version. */
  def getJoinCumulativeAsOf(
      name: String,
      version: Int,
      dayDim: String,
      sumOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      resetBy: Option[String] = None,
      segmentBy: Seq[String] = Nil): DataFrame =
    cumulativeFrom(jmvCubeAt(name, version), name, dayDim, sumOf,
      exactDistinctOf, resetBy, segmentBy)

  /** [[getJoinOverlapMatrix]] over a retained version. */
  def getJoinOverlapMatrixAsOf(
      name: String,
      version: Int,
      dim: String,
      bitmapId: String,
      values: Seq[String] = Nil): DataFrame =
    overlapFrom(jmvCubeAt(name, version), name, dim, bitmapId, values)

  /** [[getJoinCohortMatrix]] over a retained version; `calendar`
    * selects the [[getJoinCohortMatrixCalendar]] form. */
  def getJoinCohortMatrixAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    cohortFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      periodDays, segmentBy, calendar)

  /** [[getJoinCohortValue]] over a retained version. */
  def getJoinCohortValueAsOf(
      name: String,
      version: Int,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    cohortValueFrom(jmvCubeAt(name, version), name, dayDim, weightedId,
      periodDays, segmentBy, calendar)

  /** [[getJoinValueGrowthAccounting]] over a retained version. */
  def getJoinValueGrowthAccountingAsOf(
      name: String,
      version: Int,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    valueGrowthFrom(jmvCubeAt(name, version), name, dayDim, weightedId,
      periodDays, segmentBy, calendar)

  /** [[getJoinFunnel]] over a retained version. */
  def getJoinFunnelAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      stepDim: String,
      steps: Seq[String],
      periodDays: Int = 1,
      segmentBy: Seq[String] = Nil,
      withinPeriods: Int = 0): DataFrame =
    funnelFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      stepDim, steps, periodDays, segmentBy, withinPeriods)

  /** [[getJoinEngagement]] over a retained version. */
  def getJoinEngagementAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      windowDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    engagementFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      windowDays, segmentBy)

  /** [[getJoinStickiness]] over a retained version. */
  def getJoinStickinessAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      shortDays: Int = 1,
      longDays: Int = 28,
      segmentBy: Seq[String] = Nil): DataFrame =
    stickinessFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      shortDays, longDays, segmentBy)

  /** [[getJoinGrowthAccounting]] over a retained version; `calendar`
    * selects the [[getJoinGrowthAccountingCalendar]] form. */
  def getJoinGrowthAccountingAsOf(
      name: String,
      version: Int,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil,
      calendar: Option[String] = None): DataFrame =
    growthFrom(jmvCubeAt(name, version), name, dayDim, bitmapId,
      periodDays, segmentBy, calendar)

  // ----------------------------------------------------------- join MVs
  /** Durable incrementally maintained JOIN MVs ([[JoinCubeManager]]).
    * A join MV persists THREE coupled pieces — the cube aggregates and
    * both compacted side states — which must never be observed at
    * mixed versions (states one fold ahead of the cube double-applies
    * the next delta). Single-directory two-rename swaps can't cover
    * three directories, so join MVs use the versioned-manifest pattern:
    * every fold writes a complete new version under `<name>.jmv/v<k>/`
    * and then atomically replaces the one-line `MANIFEST` file pointing
    * at it. Readers resolve MANIFEST → version dir; a crash mid-write
    * leaves a half-written `v<k+1>` that no manifest references (junk,
    * cleaned next publish) and the previous version fully live. */
  private val joinLive = TrieMap.empty[String, JoinCube]
  private val joinAutoUpdates = TrieMap.empty[String, StreamingQuery]

  private def jmvRoot(name: String) =
    java.nio.file.Paths.get(storageDir, s"$name.jmv")

  private def jmvVersion(name: String): Int = {
    val m = jmvRoot(name).resolve("MANIFEST")
    if (m.toFile.exists()) java.nio.file.Files.readString(m).trim.toInt
    else -1
  }

  /** Highest streaming micro-batch id folded into the CURRENT version
    * (−1 when none ever was). Carried forward by manual folds and read
    * by [[startJoinAutoUpdate]]'s replay guard: foreachBatch re-delivers
    * the last batch after a crash between publish and checkpoint commit,
    * and a fold is NOT idempotent (unlike the single-table cube's
    * complete-mode publish), so replayed ids are skipped. */
  /** A reset writes the combined `replay_guard` file ("<batch>\n<id>")
    * ATOMICALLY into the current version dir; when present it overrides
    * the per-field files (publish never writes it — a fresh version dir
    * only becomes visible via the MANIFEST swap, so its per-field
    * writes need no in-place atomicity). */
  private def jmvGuardOverride(name: String, v: Int): Option[(Long, Option[String])] = {
    val f = jmvRoot(name).resolve(s"v$v").resolve("replay_guard")
    if (!f.toFile.exists()) None
    else {
      val lines = java.nio.file.Files.readString(f).linesIterator.toSeq
      Some((lines.head.trim.toLong, lines.lift(1).map(_.trim)))
    }
  }

  private def jmvLastBatch(name: String): Long = {
    val v = jmvVersion(name)
    if (v < 0) -1L
    else jmvGuardOverride(name, v).map(_._1).getOrElse {
      val f = jmvRoot(name).resolve(s"v$v").resolve("batch_id")
      if (f.toFile.exists())
        java.nio.file.Files.readString(f).trim.toLong
      else -1L
    }
  }

  /** Stream identity (canonical changeDir + side) the recorded batch_id
    * belongs to. Batch ids are CHECKPOINT-RELATIVE, not globally
    * monotone: a different change directory (or side) restarts them at
    * 0, so a recorded id is only a valid replay guard against the same
    * stream. None for MVs published before identities were recorded or
    * never maintained by a stream. */
  private def jmvStreamId(name: String): Option[String] = {
    val v = jmvVersion(name)
    if (v < 0) None
    else jmvGuardOverride(name, v) match {
      case Some((_, sid)) => sid
      case None =>
        val f = jmvRoot(name).resolve(s"v$v").resolve("stream_id")
        if (f.toFile.exists())
          Some(java.nio.file.Files.readString(f).trim)
        else None
    }
  }

  /** Overwrite the CURRENT version's replay-guard metadata in place
    * (no new version — the cube/state frames are untouched). Used when
    * the caller explicitly re-homes the MV onto a new change stream.
    * ONE atomic write (tmp + ATOMIC_MOVE of the combined file, the
    * MANIFEST discipline): two separate field writes could tear on a
    * crash, leaving a batch id paired with the wrong stream identity —
    * and either torn pairing silently re-folds or skips real data. */
  private def jmvResetStreamMeta(name: String, sid: String): Unit = {
    val vdir = jmvRoot(name).resolve(s"v${jmvVersion(name)}")
    val tmp = vdir.resolve("replay_guard.tmp")
    java.nio.file.Files.writeString(tmp, s"-1\n$sid")
    java.nio.file.Files.move(tmp, vdir.resolve("replay_guard"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def jmvPublish(name: String, jc: JoinCube, version: Int,
      batchId: Option[Long] = None,
      streamId: Option[String] = None): JoinCube = {
    // resolve the carried-forward batch id + stream identity BEFORE the
    // manifest moves (manual folds carry both so a later stream resume
    // still recognizes which stream the recorded id belongs to)
    val lastBatch = batchId.getOrElse(jmvLastBatch(name))
    val sid = streamId.orElse(jmvStreamId(name))
    val vdir = jmvRoot(name).resolve(s"v$version")
    java.nio.file.Files.createDirectories(vdir)
    CubeManager.save(jc.cube, vdir.toString)
    // no .json suffix: CubeManager.list treats *.json as cube configs
    java.nio.file.Files.writeString(vdir.resolve("join_keys"),
      s"""{"leftKey":"${jc.config.leftKey}","rightKey":"${jc.config.rightKey}"}""")
    java.nio.file.Files.writeString(vdir.resolve("batch_id"),
      lastBatch.toString)
    sid.foreach(s =>
      java.nio.file.Files.writeString(vdir.resolve("stream_id"), s))
    jc.left.write.mode("overwrite").parquet(vdir.resolve("lstate").toString)
    jc.right.write.mode("overwrite").parquet(vdir.resolve("rstate").toString)
    val tmp = jmvRoot(name).resolve("MANIFEST.tmp")
    java.nio.file.Files.writeString(tmp, version.toString)
    java.nio.file.Files.move(tmp, jmvRoot(name).resolve("MANIFEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // clean superseded versions, DEFERRED BY ONE EXTRA publish beyond
    // the advertised window: outstanding readers (a caller-held
    // JoinCube, a routed plan built against the previous registration,
    // or an in-flight getJoinAggregatesAsOf of the window's OLDEST
    // advertised version) still list that version's parquet files —
    // deleting it at swap time would fail those reads with
    // FileNotFoundException mid-job. The advertised TIME-TRAVEL window
    // ([[listJoinCubeVersions]]) is the newest `retainJmvVersions`
    // versions; one more survives on disk as the grace copy, so even
    // an as-of read of the window's old edge racing one fold keeps its
    // files alive (head readers were already covered by retention ≥ 2).
    // Every retained version is a complete consistent (cube, lstate,
    // rstate) triple — the audit/reproducibility handle ("rerun
    // yesterday's selection against yesterday's MV") at a storage cost
    // of `(retain+1) × |MV|`, which at 100 TB is priced per MV, not
    // per source (side states are narrow projections).
    Option(jmvRoot(name).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("v")
        && f.getName.drop(1).toIntOption
          .exists(_ <= version - retainJmvVersions - 1))
      .foreach(rm)
    val loaded = jmvLoad(name)
    joinLive.put(name, loaded)
    // routed queries must follow the manifest: re-memoize any catalog
    // registration of this join MV against the new version dir
    CubeCatalog.refreshJoin(loaded)
    loaded
  }

  private def jmvLoad(name: String): JoinCube = {
    val v = jmvVersion(name)
    require(v >= 0, s"join MV '$name' does not exist under $storageDir")
    jmvLoadAt(name, v)
  }

  private def jmvLoadAt(name: String, v: Int): JoinCube = {
    val vdir = jmvRoot(name).resolve(s"v$v")
    val keys = java.nio.file.Files.readString(vdir.resolve("join_keys"))
    def key(k: String) = s""""$k":"([^"]*)"""".r.findFirstMatchIn(keys)
      .map(_.group(1)).getOrElse(sys.error(s"bad join_keys for $name"))
    // the cube is persisted under the MV's own name (createJoinCube
    // keys the MV by config.cube.name)
    val cube = CubeManager.load(spark, vdir.toString, name)
    JoinCube(JoinCubeConfig(cube.config, key("leftKey"), key("rightKey")),
      cube,
      Tables.parquet(spark, vdir.resolve("lstate").toString),
      Tables.parquet(spark, vdir.resolve("rstate").toString))
  }

  /** Create + persist a join MV (version 0). Sides should arrive as
    * narrow projections — join key + referenced columns only.
    *
    * Refuses a name whose `.jmv` root already carries a MANIFEST:
    * re-creating would republish v0 and swap the MANIFEST back to 0
    * while the previous incarnation's higher version dirs survive on
    * disk — `listJoinCubeVersions`'s retention window (versions >
    * head − retainJmvVersions) would then advertise the OLD MV's
    * v1/v2 as retained, and `getJoinAggregatesAsOf` would serve the
    * prior MV's data. */
  def createJoinCube(config: JoinCubeConfig, left: DataFrame,
      right: DataFrame): JoinCube = {
    require(jmvVersion(config.cube.name) < 0,
      s"join MV '${config.cube.name}' already exists under $storageDir " +
        s"(head version ${jmvVersion(config.cube.name)}); re-creating " +
        "would leave the old incarnation's version dirs advertised as " +
        "retained time-travel versions — fold with " +
        "updateJoinAggregates, or pick a new name / storage root")
    jmvPublish(config.cube.name,
      JoinCubeManager.create(config, left, right), 0)
  }

  def loadJoinCube(name: String): JoinCube =
    joinLive.getOrElseUpdate(name, jmvLoad(name))

  /** Fold signed deltas to either side (frames with the side schema +
    * `_sign`; ±k = multiplicity) and publish the next version. The fold
    * reads the persisted previous version, so the input plan never
    * races the publish. */
  def updateJoinAggregates(name: String, leftDelta: DataFrame,
      rightDelta: DataFrame): JoinCube = {
    require(!joinAutoUpdates.get(name).exists(_.isActive),
      s"stop join auto-update on '$name' before a manual fold — " +
        "concurrent manifest publishes would race")
    val prev = loadJoinCube(name)
    jmvPublish(name,
      JoinCubeManager.applyDeltas(prev, leftDelta, rightDelta),
      jmvVersion(name) + 1)
  }

  /** R2+R3 composed for join MVs, streaming: continuous maintenance of
    * ONE side from a directory of MongoDB change-event JSON lines (the
    * [[graft.sources.MongoChangeStream]] wire format — inserts, updates
    * and deletes with pre-images). Every micro-batch decodes to a signed
    * side delta, folds through the delta-join rule against the persisted
    * previous version, and publishes ALL THREE frames (cube + both side
    * states) as the next versioned-manifest version — the q147 durable
    * micro-batch discipline extended to the three-directory MV, so a
    * restart mid-stream recovers a CONSISTENT (cube, lstate, rstate)
    * triple and resumes from the checkpoint.
    *
    * Exactly-once: the file-source checkpoint only re-delivers the last
    * batch after a crash inside the publish→commit window; each version
    * records the micro-batch id it folded, and a replayed id is skipped
    * (the fold, unlike complete-mode single-table publishes, is not
    * idempotent). Manual folds while the stream runs are refused, and
    * manual folds after a stop carry the last folded id forward so a
    * later resume still recognizes a replay.
    *
    * Batch ids are CHECKPOINT-RELATIVE, so the recorded id is only a
    * valid guard against the SAME stream: each version also records the
    * stream identity (canonical changeDir + side). Starting against a
    * DIFFERENT identity while a recorded id exists is refused — with a
    * fresh checkpoint the new stream's ids restart at 0 and the first
    * `lastBatch + 1` batches of genuinely new data would be silently
    * skipped (data loss, no error). Pass `resetBatchTracking = true`
    * (with the old checkpoint deleted) to explicitly re-home the MV
    * onto the new stream; its already-folded state is kept and every
    * batch of the new stream folds from id 0. */
  def startJoinAutoUpdate(name: String, changeDir: String,
      docSchema: StructType, side: String,
      resetBatchTracking: Boolean = false): StreamingQuery = {
    require(side == "left" || side == "right",
      s"side must be 'left' or 'right', got '$side'")
    // ALL validations precede ANY mutation: a reset followed by a
    // failed require would irreversibly destroy the replay guard — the
    // user abandons the re-home, restarts against the old stream, and
    // with the guard gone every historical batch re-folds into the
    // non-idempotent fold (silent double-counting).
    require(!joinAutoUpdates.get(name).exists(_.isActive),
      s"join auto-update already running on '$name' — stop it first")
    require(new java.io.File(changeDir).isDirectory,
      s"changeDir '$changeDir' does not exist or is not a directory")
    val existing = loadJoinCube(name) // fail fast on an unknown MV
    val stateCols = (if (side == "left") existing.left else existing.right)
      .columns.filterNot(_ == "_mult").toSet
    require(docSchema.fieldNames.toSet == stateCols,
      s"change-stream document schema ${docSchema.fieldNames.toSet} must " +
        s"match the $side side state's columns $stateCols")
    val identity =
      new java.io.File(changeDir).getCanonicalPath + "|" + side
    val recorded = jmvStreamId(name)
    // the guard fires whenever the recorded identity MISMATCHES — or
    // is MISSING while batches were recorded (an MV published before
    // identities existed, or a torn legacy state): an unverifiable
    // stream is as dangerous as a provably different one, because a
    // fresh checkpoint restarts ids at 0 and `batchId > lastBatch`
    // silently swallows the new stream's first batches
    if ((jmvLastBatch(name) >= 0 && recorded.forall(_ != identity)) ||
        recorded.exists(_ != identity)) {
      require(resetBatchTracking,
        s"join MV '$name' recorded batches from stream " +
          s"'${recorded.getOrElse("<unrecorded>")}' but this start " +
          s"targets '$identity'; batch ids are checkpoint-relative, so " +
          "resuming the guard against a different (or unverifiable) " +
          "stream would silently skip its first batches. Pass " +
          "resetBatchTracking = true to re-home the MV onto this " +
          "stream (keeps folded state, folds from batch 0).")
      val ckpt = new java.io.File(s"$storageDir/$name.jmv.checkpoint")
      require(!ckpt.exists(),
        s"checkpoint ${ckpt.getPath} belongs to the previous stream — " +
          s"delete it before re-homing '$name' (resuming a file-source " +
          "checkpoint against a different directory is undefined).")
      jmvResetStreamMeta(name, identity)
    }
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(changeDir)
    val q = raw.writeStream
      .option("checkpointLocation", s"$storageDir/$name.jmv.checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > jmvLastBatch(name)) {
          val delta = graft.sources.MongoChangeStream.decode(batch, docSchema)
            .withColumn("_sign", col("_sign").cast("long"))
          val prev = loadJoinCube(name)
          jmvPublish(name,
            JoinCubeManager.applySideDeltas(prev, delta, side),
            jmvVersion(name) + 1, Some(batchId), Some(identity))
          ()
        }
      }
      .start()
    joinAutoUpdates.put(name, q)
    q
  }

  def stopJoinAutoUpdate(name: String): Unit =
    joinAutoUpdates.remove(name).foreach(_.stop())

  // ------------------------------------------------------------------
  // CHAINED (3+ relation) join MVs — the versioned-manifest publish
  // pattern applied to a cube + n compacted relation states
  // ([[ChainCubeManager]]): every fold writes a complete new version
  // under `<name>.cmv/v<k>/` (cube, edge list, state0..stateN, replay
  // guard) and atomically swaps the MANIFEST, with the same
  // retention/grace window as join MVs.
  private val chainLive = TrieMap.empty[String, ChainCube]
  private val chainAutoUpdates = TrieMap.empty[String, StreamingQuery]

  private def cmvRoot(name: String) =
    java.nio.file.Paths.get(storageDir, s"$name.cmv")

  private def cmvVersion(name: String): Int = {
    val m = cmvRoot(name).resolve("MANIFEST")
    if (m.toFile.exists()) java.nio.file.Files.readString(m).trim.toInt
    else -1
  }

  /** A re-home writes the combined `replay_guard` file ("<batch>\n<id>")
    * ATOMICALLY into the current version dir; when present it overrides
    * the per-field files — the [[jmvGuardOverride]] discipline (publish
    * never writes it; a fresh version dir only becomes visible via the
    * MANIFEST swap, so its per-field writes need no in-place atomicity). */
  private def cmvGuardOverride(name: String,
      v: Int): Option[(Long, Option[String])] = {
    val f = cmvRoot(name).resolve(s"v$v").resolve("replay_guard")
    if (!f.toFile.exists()) None
    else {
      val lines = java.nio.file.Files.readString(f).linesIterator.toSeq
      Some((lines.head.trim.toLong, lines.lift(1).map(_.trim)))
    }
  }

  private def cmvLastBatch(name: String): Long = {
    val v = cmvVersion(name)
    if (v < 0) -1L
    else cmvGuardOverride(name, v).map(_._1).getOrElse {
      val f = cmvRoot(name).resolve(s"v$v").resolve("batch_id")
      if (f.toFile.exists())
        java.nio.file.Files.readString(f).trim.toLong
      else -1L
    }
  }

  private def cmvStreamId(name: String): Option[String] = {
    val v = cmvVersion(name)
    if (v < 0) None
    else cmvGuardOverride(name, v) match {
      case Some((_, sid)) => sid
      case None =>
        val f = cmvRoot(name).resolve(s"v$v").resolve("stream_id")
        if (f.toFile.exists())
          Some(java.nio.file.Files.readString(f).trim)
        else None
    }
  }

  private def cmvPublish(name: String, cc: ChainCube, version: Int,
      batchId: Option[Long] = None,
      streamId: Option[String] = None): ChainCube = {
    val lastBatch = batchId.getOrElse(cmvLastBatch(name))
    val sid = streamId.orElse(cmvStreamId(name))
    val vdir = cmvRoot(name).resolve(s"v$version")
    java.nio.file.Files.createDirectories(vdir)
    CubeManager.save(cc.cube, vdir.toString)
    // no .json suffix: CubeManager.list treats *.json as cube configs
    java.nio.file.Files.writeString(vdir.resolve("chain_edges"),
      cc.config.edges.map { case (l, r) => s"$l=$r" }.mkString("\n"))
    java.nio.file.Files.writeString(vdir.resolve("batch_id"),
      lastBatch.toString)
    sid.foreach(s =>
      java.nio.file.Files.writeString(vdir.resolve("stream_id"), s))
    cc.states.zipWithIndex.foreach { case (s, i) =>
      s.write.mode("overwrite").parquet(vdir.resolve(s"state$i").toString)
    }
    val tmp = cmvRoot(name).resolve("MANIFEST.tmp")
    java.nio.file.Files.writeString(tmp, version.toString)
    java.nio.file.Files.move(tmp, cmvRoot(name).resolve("MANIFEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // same deferred cleanup as join MVs: one version beyond the
    // advertised window survives as the grace copy for in-flight
    // readers of the previous registration
    Option(cmvRoot(name).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("v")
        && f.getName.drop(1).toIntOption
          .exists(_ <= version - retainJmvVersions - 1))
      .foreach(rm)
    val loaded = cmvLoad(name)
    chainLive.put(name, loaded)
    // routed queries must follow the manifest to the new version dir
    CubeCatalog.refreshChain(loaded)
    loaded
  }

  private def cmvLoad(name: String): ChainCube = {
    val v = cmvVersion(name)
    require(v >= 0, s"chain MV '$name' does not exist under $storageDir")
    cmvLoadAt(name, v)
  }

  private def cmvLoadAt(name: String, v: Int): ChainCube = {
    val vdir = cmvRoot(name).resolve(s"v$v")
    val edges = java.nio.file.Files.readString(vdir.resolve("chain_edges"))
      .linesIterator.toSeq.filter(_.nonEmpty).map { l =>
        val kv = l.split("=", 2); (kv(0), kv(1))
      }
    val cube = CubeManager.load(spark, vdir.toString, name)
    val states = (0 to edges.size).map(i =>
      Tables.parquet(spark, vdir.resolve(s"state$i").toString))
    ChainCube(ChainCubeConfig(cube.config, edges), cube, states)
  }

  /** Retained chain-MV versions — the advertised TIME-TRAVEL window
    * (the [[listJoinCubeVersions]] discipline: the newest
    * `retainJmvVersions`, one more surviving un-advertised on disk as
    * the deferred-GC grace copy). */
  def listChainCubeVersions(name: String): Seq[Int] = {
    val head = cmvVersion(name)
    require(head >= 0,
      s"chain MV '$name' does not exist under $storageDir")
    Option(cmvRoot(name).toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(f => if (f.getName.startsWith("v"))
        f.getName.drop(1).toIntOption else None)
      .filter(_ > head - retainJmvVersions)
      .sorted
  }

  /** TIME TRAVEL: the [[getChainAggregates]] roll-up served from a
    * RETAINED historical version instead of the manifest head — safe
    * against a concurrent fold for the same reason the join-MV as-of
    * is (GC defers one publish past the advertised window). */
  def getChainAggregatesAsOf(name: String, version: Int,
      dims: Seq[String],
      sumOf: Seq[String] = Nil, avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil, maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil): DataFrame = {
    val retained = listChainCubeVersions(name)
    require(retained.contains(version),
      s"chain MV '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise " +
        "retainJmvVersions at service construction to widen the " +
        "time-travel window")
    CubeManager.query(cmvLoadAt(name, version).cube, dims, lit(true),
      sumOf, avgOf, distinctOf, quantilesOf, minOf, maxOf, topkOf,
      exactDistinctOf)
  }

  /** [[registerJoinSourceAsOf]] for CHAIN MVs: register the relation
    * paths to be served by the optimizer from a RETAINED historical
    * version of this chain MV — "ask yesterday's question through
    * today's query" for the 3+-table star, with no API change on the
    * query side: any covered aggregate over the registered inner
    * equi-join TREE routes to version `version`'s cells (the
    * flatten-and-match vocabulary, [[CubeRewriteRule]]). Version dirs
    * are immutable (the manifest discipline), so no snapshot is
    * needed; the pin is version-keyed — a later fold's registry
    * refresh (matched by config name) cannot move it to the head.
    * Validity follows the version's retention: the advertised window
    * plus one grace publish (widen `retainJmvVersions` for
    * longer-lived pins — like join MVs, cmv GC deletes the version
    * dir itself). Deliberately answer-CHANGING relative to the head
    * (that is the point), hence its own verb. */
  def registerChainSourceAsOf(catalogKey: String, name: String,
      version: Int, paths: Seq[String]): Unit = {
    val retained = listChainCubeVersions(name)
    require(retained.contains(version),
      s"chain MV '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise " +
        "retainJmvVersions at service construction to widen the " +
        "time-travel window")
    require(version != cmvVersion(name),
      s"version $version is the current head of '$name' — register " +
        "the head with CubeCatalog.registerChain; as-of pinning " +
        "addresses archived versions")
    val cc = cmvLoadAt(name, version)
    CubeCatalog.registerChain(catalogKey,
      cc.copy(cube = cc.cube.copy(
        config = cc.cube.config.copy(name = s"$name@v$version"))),
      paths)
  }

  /** Create + persist a chain MV (version 0). Relations should arrive
    * as narrow projections — edge keys + referenced columns only.
    *
    * Refuses a name whose `.cmv` root already carries a MANIFEST — the
    * [[createJoinCube]] stale-version-dir hazard: republishing v0
    * leaves the old incarnation's v1/v2 advertised as retained and
    * `getChainAggregatesAsOf` would serve the prior MV's data. */
  def createChainCube(config: ChainCubeConfig,
      rels: Seq[DataFrame]): ChainCube = {
    require(cmvVersion(config.cube.name) < 0,
      s"chain MV '${config.cube.name}' already exists under " +
        s"$storageDir (head version ${cmvVersion(config.cube.name)}); " +
        "re-creating would leave the old incarnation's version dirs " +
        "advertised as retained time-travel versions — fold with " +
        "updateChainAggregates, or pick a new name / storage root")
    cmvPublish(config.cube.name, ChainCubeManager.create(config, rels), 0)
  }

  def loadChainCube(name: String): ChainCube =
    chainLive.getOrElseUpdate(name, cmvLoad(name))

  /** Fold signed deltas to any subset of relations (`(index, frame)`
    * pairs — frames with the relation schema + `_sign`; ±k =
    * multiplicity) and publish the next version. */
  def updateChainAggregates(name: String,
      deltas: Seq[(Int, DataFrame)]): ChainCube = {
    require(!chainAutoUpdates.get(name).exists(_.isActive),
      s"stop chain auto-update on '$name' before a manual fold — " +
        "concurrent manifest publishes would race")
    val prev = loadChainCube(name)
    cmvPublish(name, ChainCubeManager.applyDeltas(prev, deltas),
      cmvVersion(name) + 1)
  }

  /** Continuous maintenance of ONE relation of the chain from a
    * directory of MongoDB change-event JSON lines — the
    * [[startJoinAutoUpdate]] discipline (replay-idempotent via the
    * recorded batch id + stream identity; batch ids are
    * checkpoint-relative, so a different stream requires an explicit
    * re-home) applied to a chain slot. */
  def startChainAutoUpdate(name: String, changeDir: String,
      docSchema: StructType, relation: Int,
      resetBatchTracking: Boolean = false): StreamingQuery = {
    require(!chainAutoUpdates.get(name).exists(_.isActive),
      s"chain auto-update already running on '$name' — stop it first")
    require(new java.io.File(changeDir).isDirectory,
      s"changeDir '$changeDir' does not exist or is not a directory")
    val existing = loadChainCube(name) // fail fast on an unknown MV
    require(relation >= 0 && relation < existing.states.size,
      s"relation $relation out of range 0..${existing.states.size - 1}")
    val stateCols = existing.states(relation)
      .columns.filterNot(_ == "_mult").toSet
    require(docSchema.fieldNames.toSet == stateCols,
      s"change-stream document schema ${docSchema.fieldNames.toSet} " +
        s"must match relation $relation's state columns $stateCols")
    val identity =
      new java.io.File(changeDir).getCanonicalPath + "|" + relation
    val recorded = cmvStreamId(name)
    if ((cmvLastBatch(name) >= 0 && recorded.forall(_ != identity)) ||
        recorded.exists(_ != identity)) {
      require(resetBatchTracking,
        s"chain MV '$name' recorded batches from stream " +
          s"'${recorded.getOrElse("<unrecorded>")}' but this start " +
          s"targets '$identity'; batch ids are checkpoint-relative — " +
          "pass resetBatchTracking = true to re-home the MV onto this " +
          "stream (keeps folded state, folds from batch 0).")
      val ckpt = new java.io.File(s"$storageDir/$name.cmv.checkpoint")
      require(!ckpt.exists(),
        s"checkpoint ${ckpt.getPath} belongs to the previous stream — " +
          s"delete it before re-homing '$name'.")
      val v = cmvVersion(name)
      val tmp = cmvRoot(name).resolve(s"v$v").resolve("replay_guard.tmp")
      java.nio.file.Files.writeString(tmp, s"-1\n$identity")
      java.nio.file.Files.move(tmp,
        cmvRoot(name).resolve(s"v$v").resolve("replay_guard"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(changeDir)
    val q = raw.writeStream
      .option("checkpointLocation", s"$storageDir/$name.cmv.checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > cmvLastBatch(name)) {
          val delta = graft.sources.MongoChangeStream
            .decode(batch, docSchema)
            .withColumn("_sign", col("_sign").cast("long"))
          val prev = loadChainCube(name)
          cmvPublish(name,
            ChainCubeManager.applySideDeltas(prev, delta, relation),
            cmvVersion(name) + 1, Some(batchId), Some(identity))
          ()
        }
      }
      .start()
    chainAutoUpdates.put(name, q)
    q
  }

  def stopChainAutoUpdate(name: String): Unit =
    chainAutoUpdates.remove(name).foreach(_.stop())

  /** Roll-up served from the maintained chain MV — the full
    * [[getAggregates]] measure surface over the 3+-table join's cells
    * (delete-capable: the fold reconstructs the joined source from
    * the relation states for targeted recompute). */
  def getChainAggregates(name: String, dims: Seq[String],
      filter: Column = lit(true),
      sumOf: Seq[String] = Nil, avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil, maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil): DataFrame =
    CubeManager.query(loadChainCube(name).cube, dims, filter, sumOf,
      avgOf, distinctOf, quantilesOf, minOf, maxOf, topkOf,
      exactDistinctOf)

  /** [[getRolling]] for chain MVs — a chained cube with a
    * day-granularity time dimension serves the same trailing-window
    * curves from the same maintained daily partials. */
  def getChainRolling(
      name: String,
      dayDim: String,
      windowDays: Int = 7,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      segmentBy: Seq[String] = Nil,
      intersectOf: Seq[String] = Nil): DataFrame =
    rollingFrom(loadChainCube(name).cube, name, dayDim, windowDays,
      distinctOf, quantilesOf, minOf, maxOf, sumOf, avgOf,
      exactDistinctOf, segmentBy, intersectOf)

  /** [[getCohortMatrix]] for chain MVs. */
  def getChainCohortMatrix(
      name: String,
      dayDim: String,
      bitmapId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortFrom(loadChainCube(name).cube, name, dayDim, bitmapId,
      periodDays, segmentBy)

  /** [[getCohortValue]] for chain MVs — the weight-map partials ride
    * the composed delta-join fold like every other measure family
    * (multiplicity signs accumulate natively), so the maintained
    * chain serves the LTV matrix with no fact join at read time. */
  def getChainCohortValue(
      name: String,
      dayDim: String,
      weightedId: String,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    cohortValueFrom(loadChainCube(name).cube, name, dayDim, weightedId,
      periodDays, segmentBy)

  /** [[getTopSpenders]] for chain MVs. */
  def getChainTopSpenders(
      name: String,
      dayDim: String,
      weightedId: String,
      k: Int = 10,
      periodDays: Int = 7,
      segmentBy: Seq[String] = Nil): DataFrame =
    topSpendersFrom(loadChainCube(name).cube, name, dayDim, weightedId,
      k, periodDays, segmentBy)

  /** Roll-up served from the maintained join MV — the full
    * [[getAggregates]] measure surface (sums/avgs, HLL distincts, KLL
    * quantiles, extremes, CMS top-k): a join cube's cells hold the same
    * partial families a single-table cube's do, maintained through the
    * delta-join fold (delete-capable — the fold reconstructs the joined
    * source from the side states for the targeted recompute). */
  def getJoinAggregates(name: String, dims: Seq[String],
      filter: Column = lit(true),
      sumOf: Seq[String] = Nil, avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil, maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil): DataFrame =
    CubeManager.query(loadJoinCube(name).cube, dims, filter, sumOf, avgOf,
      distinctOf, quantilesOf, minOf, maxOf, topkOf, exactDistinctOf)

  /** Version of the join MV the MANIFEST currently points at (one
    * version per fold — a version number doubles as a fold count). */
  def currentJoinCubeVersion(name: String): Int = {
    val v = jmvVersion(name)
    require(v >= 0, s"join MV '$name' does not exist under $storageDir")
    v
  }

  /** Addressable versions, oldest first — the TIME-TRAVEL window: the
    * newest `retainJmvVersions` publishes (fewer while the MV is
    * young). Each is a complete consistent triple; anything older was
    * GC'd by a later publish — except one grace version that may
    * briefly remain on disk below the window (deferred GC, see
    * [[jmvPublish]]) and is deliberately NOT advertised: it exists so
    * a concurrent fold cannot delete files under an in-flight as-of
    * read of the window's edge, not to widen the window. */
  def listJoinCubeVersions(name: String): Seq[Int] = {
    val head = jmvVersion(name)
    require(head >= 0,
      s"join MV '$name' does not exist under $storageDir")
    Option(jmvRoot(name).toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(f => if (f.getName.startsWith("v"))
        f.getName.drop(1).toIntOption else None)
      .filter(_ > head - retainJmvVersions)
      .sorted
  }

  /** TIME TRAVEL: the [[getJoinAggregates]] roll-up served from a
    * RETAINED historical version instead of the manifest head. The
    * as-of read never touches the head's registration or caches — and
    * a concurrent fold publishing v<k+1> while an as-of query of ANY
    * advertised version runs (including the window's oldest) is safe
    * because GC is deferred one publish past the advertised window:
    * the publish demotes the oldest advertised version to the
    * un-advertised grace copy rather than deleting it, so the in-flight
    * read's files stay alive. Refuses versions outside the advertised
    * window rather than answering from the grace copy (whose files the
    * NEXT publish does delete). */
  def getJoinAggregatesAsOf(name: String, version: Int, dims: Seq[String],
      sumOf: Seq[String] = Nil, avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil, maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil): DataFrame = {
    val retained = listJoinCubeVersions(name)
    require(retained.contains(version),
      s"join MV '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise retainJmvVersions " +
        "at service construction to widen the time-travel window")
    CubeManager.query(jmvLoadAt(name, version).cube, dims, lit(true),
      sumOf, avgOf, distinctOf, quantilesOf, minOf, maxOf, topkOf,
      exactDistinctOf)
  }

  /** [[registerSourceAsOf]] for JOIN MVs: register the two source
    * paths to be served by the optimizer from a RETAINED historical
    * version of this join MV. Version dirs are immutable (the manifest
    * discipline), so no snapshot is needed; the pin is version-keyed —
    * a later fold's registry refresh (matched by config name) cannot
    * move it to the head. Validity follows the version's retention:
    * the advertised window plus one grace publish (widen
    * `retainJmvVersions` for longer-lived pins — unlike the
    * single-table pin, jmv GC deletes the version dir itself). */
  def registerJoinSourceAsOf(catalogKey: String, name: String,
      version: Int, leftPath: String, rightPath: String): Unit = {
    val retained = listJoinCubeVersions(name)
    require(retained.contains(version),
      s"join MV '$name' version $version is not retained " +
        s"(window: ${retained.mkString(", ")}); raise retainJmvVersions " +
        "at service construction to widen the time-travel window")
    require(version != jmvVersion(name),
      s"version $version is the current head of '$name' — register the " +
        "head with CubeCatalog.registerJoin; as-of pinning addresses " +
        "archived versions")
    val jc = jmvLoadAt(name, version)
    CubeCatalog.registerJoin(catalogKey,
      jc.copy(cube = jc.cube.copy(
        config = jc.cube.config.copy(name = s"${name}@v$version"))),
      leftPath, rightPath)
  }

  def listJoinCubes(): Seq[String] = {
    val d = new java.io.File(storageDir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.endsWith(".jmv"))
      .map(_.getName.stripSuffix(".jmv")).sorted
  }

  def deleteJoinCube(name: String): Unit = {
    stopJoinAutoUpdate(name)
    joinLive.remove(name)
    rm(jmvRoot(name).toFile)
    rm(new java.io.File(s"$storageDir/$name.jmv.checkpoint"))
  }
}

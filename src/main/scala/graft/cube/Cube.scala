package graft.cube

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The reference's core capability re-expressed Spark-first: incrementally
  * maintained pre-aggregated OLAP cubes (materialized views) over a
  * source table, with roll-up queries served from the cube instead of the
  * source (kshpin/mongo-olap's cube create / incremental update /
  * getAggregates lifecycle — SURVEY.md §2.1 R1/R3/R6; the reference tree
  * itself is empty on this machine, see SURVEY.md §0, so semantics follow
  * the reconstructed spec there).
  *
  * Design for scale:
  * - The cube is a grouped aggregate ∝ |distinct dim tuples|, not |source|.
  *   Queries against it touch cube-sized data — the classic MV win.
  * - Incremental refresh folds only the delta batch plus the existing
  *   cube partials: cost ∝ |delta| + |cube|, never re-reading the source.
  *   Both sides of the fold are partial aggregates, so the union
  *   re-aggregation shuffles only cube-sized data on the dimension key.
  * - Measures accumulate as exact DECIMAL(18,2) partials: associative and
  *   order-independent, so map-side partial aggregation, AQE re-planning,
  *   and repeated delta folds can never drift the totals.
  * - Deletes/updates are signed deltas (insert:+1, delete:−1,
  *   update:−old,+new) — the streaming Update-mode equivalent runs in
  *   graft.streaming.StreamingCube on the same plan.
  *
  * Source seam: the reference ingests MongoDB change streams. The
  * network client can't exist in this zero-egress build, but the wire
  * format can — graft.sources.MongoChangeStream decodes change-event
  * JSON (with pre/post images) into exactly the signed-delta frame
  * [[CubeManager.applyDeltas]] consumes, batch or streaming; parquet
  * `events` / delta directories stand in for the cursor's transport.
  */
sealed trait Dimension {
  def id: String
  def expr: Column
}

/** Plain field dimension; `path` may be a dotted nested path (`a.b.c`). */
final case class FieldDim(id: String, path: String) extends Dimension {
  def expr: Column = col(path).as(id)
}

/** Dimension defined by an arbitrary SQL expression — the escape hatch
  * for MongoDB-style dynamic documents where the grouping key lives
  * behind a computation (e.g. `get_json_object(props, '$.k')` over a
  * schemaless JSON column). */
final case class ExprDim(id: String, sql: String) extends Dimension {
  def expr: Column = org.apache.spark.sql.functions.expr(sql).as(id)
}

/** Date dimension bucketed to a granularity (year/month/day/hour/minute). */
final case class TimeDim(id: String, path: String, granularity: String)
    extends Dimension {
  require(Set("year", "quarter", "month", "week", "day", "hour", "minute")
    .contains(granularity), s"unsupported granularity: $granularity")
  def expr: Column = date_trunc(granularity, col(path)).as(id)
}

/** Accumulated measure. `sum` is the only stored accumulator besides the
  * implicit row count; `avg` is derived at query time as sum/count —
  * exactly the reference's model. */
final case class Measure(id: String, path: String)

/** PER-ID additive measure ([[CubeConfig.weighted]]): the cell's rows
  * fold into a weight-map partial (id → net row count, net scaled
  * weight — [[graft.functions.WeightMapBuildAgg]]), keyed by the
  * `idPath` column with `weightPath` as the summed value. Integral
  * ids encode directly; a NON-integral id requires a `dictBitmaps`
  * measure over the same column and rides its dense dictionary ids
  * (`CubeManager.weightedIdCol` — string-keyed LTV stays exact).
  * This is the bitmap family with VALUES: it answers "how much were
  * these ids worth in this cell", which powers the cohort-value /
  * revenue-bridge / leaderboard verbs (LTV by cohort age, the MRR
  * waterfall, exact top spenders) no count-distinct partial can
  * express. Pointwise addition is sign-invertible, so unlike every
  * other per-id family the weighted partials are DELETE-CAPABLE
  * without source access and never trip the `hasDeletes` latch. */
final case class WeightedMeasure(id: String, idPath: String,
    weightPath: String)

/** `sketches` are DISTINCT-COUNT measures stored as mergeable HLL
  * sketches (datasketches binary) alongside the decimal sums: plain
  * count-distinct cannot live in a pre-aggregated cube (distincts don't
  * add across partials), sketch union can. Sketches are INSERT-ONLY:
  * a deletion cannot remove an id from an HLL, so folds ignore
  * negative-sign rows and the stored sketch is an upper bound of the
  * live distinct set after deletes (exact while no delete has touched
  * the group — the standard sketch-measure contract).
  *
  * `quantiles` are DISTRIBUTION measures stored as mergeable KLL
  * doubles sketches ([[graft.functions.Kll]]) under the same contract:
  * rank queries don't add across cells, sketch union does, and folds
  * are insert-only. Rolling a cube up to any dimension subset can then
  * serve percentiles from maintained partials instead of re-scanning
  * the source.
  *
  * `extremes` are MIN/MAX measures stored as two partial columns per
  * entry (`<id>_min`, `<id>_max`, the source column's own type): min of
  * mins / max of maxes re-aggregate exactly across cells and dimension
  * subsets — unlike sums they are EXACT, not estimates, so routed
  * min/max answers hash-match a from-scratch recompute. They share the
  * sketches' insert-only contract (a delete cannot un-see the extreme
  * it may have removed): folds ignore negative-sign rows and the first
  * folded delete trips the same persisted `hasDeletes` latch, after
  * which min/max serves and routing refuse while the invertible
  * sum/count measures keep working.
  *
  * `freq` are FREQUENT-ITEM (heavy-hitter) measures stored as two
  * columns per entry: `<id>` — a Count-Min counter array (d×w longs,
  * [[graft.functions.CountMinSketchAgg]]) and `<id>_cand` — the cell's
  * top-[[CubeManager.FreqCand]] candidate keys. Per-key counts don't
  * survive pre-aggregation (the key domain is unbounded), but CMS
  * counters ADD — and unlike HLL/KLL the merge is LOSSLESS (sum of
  * part-counters == counters of the whole), so rolled-up estimates
  * carry the single-sketch error bound at any dimension subset. The
  * candidate union across cells is the standard mergeable-top-k
  * heuristic (q131's documented margin); estimates for every served
  * key are exact CMS reads of the merged counters. Insert-only under
  * the same `hasDeletes` latch as the other sketch families.
  *
  * `bitmaps` are EXACT distinct-count measures over dense BIGINT key
  * columns, stored as (block → 64-bit word) bitmap partials
  * ([[graft.functions.BitmapAgg]]): bitmap union is lossless, so rolled
  * cardinalities equal a from-scratch COUNT(DISTINCT) exactly — the
  * capability the HLL family approximates, available whenever the key
  * space is dense-integer (ids; sparse/UUID spaces dictionary-encode
  * first or stay on HLL — per-cell state is ∝ touched id blocks).
  * Deletes share the sketch contract (a set bit cannot be un-set), but
  * through the generic targeted recompute the family is delete-capable
  * with the post-delta source at hand, after which serves are again
  * hash-exact. */
final case class CubeConfig(
    name: String,
    source: String, // table name within the sfDir, e.g. "events"
    dims: Seq[Dimension],
    measures: Seq[Measure],
    sketches: Seq[Measure] = Nil,
    quantiles: Seq[Measure] = Nil,
    extremes: Seq[Measure] = Nil,
    freq: Seq[Measure] = Nil,
    bitmaps: Seq[Measure] = Nil,
    dictBitmaps: Seq[Measure] = Nil,
    bitmapShardBits: Int = 0,
    weighted: Seq[WeightedMeasure] = Nil) {
  /** `bitmapShardBits > 0` SHARDS the bitmap partials by id block
    * range: cells additionally subdivide by `__bshard = id >> bits`, so
    * one cell's bitmap covers at most 2^bits consecutive ids — the
    * per-row blob is bounded by 4 + 16·(2^bits/64 + 1) bytes no matter
    * how many ids a day sees. Shard rows are just FINER cells: every
    * partial family re-aggregates across them unchanged, and the
    * bitmap serves regain exactly the unsharded answers (shards
    * partition the id space, so cardinalities ADD). getRolling /
    * getRetention additionally exploit the layout with per-shard
    * two-level aggregation — bounded blobs through every shuffle,
    * parallelism ∝ shards instead of one reducer row per endpoint. */
  def dimCols: Seq[Column] = dims.map(_.expr) ++ shardCol
  def dimNames: Seq[String] = dims.map(_.id) ++
    shardCol.map(_ => CubeManager.ShardCol)
  private[cube] def shardCol: Option[Column] =
    if (bitmapShardBits <= 0) None
    else {
      // the shard key column: the single bitmap measure's id space, or
      // — for a bitmap-free weighted cube — the shared weighted id
      // column (create validates the single-id-family rule either way)
      val idc = allBitmaps.headOption match {
        case Some(m) =>
          // a dictionary bitmap shards on the DENSE DICT ID (the column
          // the bitmap actually encodes — dict ids are maximally dense,
          // so the shard layout is optimal for exactly this case); the
          // id column exists on build-side frames after withDictIds
          if (dictBitmaps.exists(_.id == m.id))
            org.apache.spark.sql.functions.col(s"__dictid_${m.id}")
          else org.apache.spark.sql.functions.col(m.path).cast("long")
        case None =>
          org.apache.spark.sql.functions.col(weighted.head.idPath)
            .cast("long")
      }
      Some(org.apache.spark.sql.functions
        .shiftright(idc, bitmapShardBits).as(CubeManager.ShardCol))
    }
  /** Every bitmap-partial measure the cube maintains — plain (dense
    * integral keys, bits of the value itself) and dictionary-encoded
    * (non-integral keys, bits of the maintained dense id). Their
    * PARTIALS are identical (same codec, same lossless union), so
    * every serve/merge/fold path past the build step treats the two
    * lists as one. */
  def allBitmaps: Seq[Measure] = bitmaps ++ dictBitmaps
}

/** A materialized cube: dimension columns + one DECIMAL sum per measure +
  * a `_count` row count.
  *
  * `aggregates` is the cube's STATE and may contain negative-`_count`
  * tombstone rows after an over-deletion (more deletes than prior
  * inserts folded for a group) — kept so that a later insert nets
  * against the debt exactly as a from-scratch signed recompute would.
  * `live` is the queryable view: groups with a positive row count.
  *
  * `hasDeletes` records whether any delete (`_sign < 0`) has ever been
  * folded while the cube maintains sketch/quantile measures. Sketches
  * are insert-only (a delete is not invertible in an HLL/KLL), so once
  * set the sketch partials describe EVER-INSERTED values, not current
  * state — [[CubeRewriteRule]] refuses approx-distinct routing and
  * `CubeService.getRolling` refuses sketch serves for such cubes (the
  * exact sum/count measures stay correct and keep serving). Persisted
  * with the config by [[CubeManager.save]]/[[CubeManager.saveMeta]]. */
final case class Cube(config: CubeConfig, aggregates: DataFrame,
    hasDeletes: Boolean = false,
    dicts: Map[String, DataFrame] = Map.empty) {
  def live: DataFrame =
    aggregates.filter(org.apache.spark.sql.functions.col(CubeManager.CountCol) > 0)
}

object CubeManager {
  val CountCol = "_count"
  /** Hidden shard dimension column of a `bitmapShardBits`-sharded cube
    * (see [[CubeConfig.dimCols]]). */
  val ShardCol = "__bshard"
  /** lgConfigK of every HLL sketch measure the engine maintains (the
    * hll_sketch_agg default, made explicit so consumers — notably
    * CubeRewriteRule's precision gate — derive their error bound from
    * the SAME constant the sketches are built with). Standard error
    * ≈ 1.04/√2^lgK ≈ 1.6%. */
  val SketchLgK = 12
  /** Standard error of the maintained sketches at [[SketchLgK]]. */
  def sketchError: Double = 1.04 / math.sqrt(1 << SketchLgK)

  /** Candidate keys kept per cell for each `freq` measure: bounds the
    * per-cell state (the counters are already fixed-size) and the
    * serve-time candidate union at |cells| × FreqCand. */
  val FreqCand = 32

  /** Column-label fragment for a requested rank: the rank's canonical
    * decimal form, so distinct ranks always get distinct columns (a
    * rounded "%02d" label would collide 0.995 with 0.999, and two
    * same-named aggregate columns make every downstream by-name
    * reference ambiguous). Shared by [[query]] and
    * `CubeService.getRolling` so the two verbs stay name-compatible. */
  def rankLabel(q: Double): String = java.math.BigDecimal.valueOf(q)
    .multiply(java.math.BigDecimal.valueOf(100L))
    .stripTrailingZeros.toPlainString.replace(".", "_")
  private val Dec = DecimalType(18, 2)

  /** Bitmap measures are exact ONLY over integral key spaces: the
    * partials store ids as bits of CAST(path AS BIGINT), and for a
    * DOUBLE or STRING column that cast is lossy (1.5 and 1.7 collapse
    * to one bit; '01' and '1' collide; uncastable strings drop to
    * null) — which would silently return wrong "exact" distinct
    * counts. Shared by the batch create AND the streaming aggregate
    * (a stream-only pipeline must not slip past the gate). */
  private[graft] def requireIntegralBitmaps(
      config: CubeConfig, source: DataFrame): Unit =
    config.bitmaps.foreach { m =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = source.select(col(m.path)).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"bitmap measure '${m.id}' needs an integral source column; " +
          s"'${m.path}' is $dt — its cast to BIGINT is lossy, so the " +
          "'exact' distinct count would be silently wrong. " +
          "Dictionary-encode the column first or use an HLL sketch measure.")
    }

  /** The weighted family's honesty gate, mirroring
    * [[requireIntegralBitmaps]]: weight-map partials key ids as
    * CAST(idPath AS BIGINT), which is lossy for non-integral columns —
    * and a lossy key collapses DIFFERENT users' values into one entry,
    * silently wrong cohort sums. A NON-integral id is admitted exactly
    * when a `dictBitmaps` measure over the SAME column exists: the
    * weight maps then ride that measure's dense dictionary ids (the
    * injective encoding, [[weightedIdCol]]), so string-keyed LTV
    * dashboards stay exact. */
  private[graft] def requireIntegralWeighted(
      config: CubeConfig, source: DataFrame): Unit =
    config.weighted.foreach { m =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      if (!config.dictBitmaps.exists(_.path == m.idPath)) {
        val dt = source.select(col(m.idPath)).schema.head.dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
          s"weighted measure '${m.id}' needs an integral id column; " +
            s"'${m.idPath}' is $dt — its cast to BIGINT is lossy, so " +
            "per-id sums would silently merge different ids. " +
            "Add a dictBitmaps measure over the same column (the " +
            "weight maps then ride its dense dictionary ids).")
      }
    }

  /** The id column a weighted measure's maps encode: the dense
    * dictionary id when a `dictBitmaps` measure shares the source
    * column (present on build-side frames after [[withDictIds]]),
    * the raw integral column otherwise. */
  private def weightedIdCol(cfg: CubeConfig, m: WeightedMeasure): Column =
    cfg.dictBitmaps.find(_.path == m.idPath) match {
      case Some(d) => col(s"__dictid_${d.id}")
      case None => col(m.idPath).cast("long")
    }

  /** Dense-id assignment for the `dictBitmaps` dictionaries: append a
    * LongType `__id` column numbering the frame's distinct non-null
    * keys `offset..offset+n-1`. Dense numbering needs global
    * coordination, which `zipWithIndex` does in two distributed passes
    * (per-partition counts, then per-partition offsets) — never a
    * single-partition window, so the build scales with the key count.
    * Ids are NOT stable across rebuilds (partitioning decides order) —
    * they don't need to be: the bitmap serves CARDINALITIES, and any
    * injective key → id map yields the same counts. Within one
    * dictionary's lifetime the map IS stable: extension assigns only
    * ids above the current max to only unseen keys. */
  private[cube] def assignIds(keys: DataFrame, offset: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val distinct = keys.na.drop().distinct()
    val schema = StructType(distinct.schema.fields :+
      StructField("__id", LongType, nullable = false))
    // localCheckpoint PINS the computed assignment: the distinct's
    // shuffle-read order is not reproducible across recomputations, so
    // a lazy plan evaluated twice (once building the bitmaps, once
    // persisting the dictionary) could assign DIFFERENT ids to the same
    // key — and a later fold consulting the persisted map would then
    // set fresh bits for already-counted keys. Eager, spillable
    // (MEMORY_AND_DISK), dict-sized.
    distinct.sparkSession.createDataFrame(
      distinct.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (offset + i)) },
      schema).localCheckpoint()
  }

  /** Per-measure dictionaries for a config's `dictBitmaps`, built from
    * the initial source scan: key column (as `__key`) → dense id. */
  private def buildDicts(config: CubeConfig,
      source: DataFrame): Map[String, DataFrame] =
    config.dictBitmaps.map { m =>
      m.id -> assignIds(source.select(col(m.path).as("__key")), 0L)
    }.toMap

  /** Join each `dictBitmaps` key column against its dictionary,
    * carrying the dense id as `__dictid_<id>` — the column the bitmap
    * aggregate encodes. LEFT join: a null key gets a null id, which
    * the set aggregate skips exactly as COUNT(DISTINCT) skips nulls. */
  private def withDictIds(cfg: CubeConfig, df: DataFrame,
      dicts: Map[String, DataFrame]): DataFrame =
    cfg.dictBitmaps.foldLeft(df) { (acc, m) =>
      val d = dicts(m.id).withColumnRenamed("__id", s"__dictid_${m.id}")
      acc.join(d, acc(m.path) === d("__key"), "left").drop("__key")
    }

  /** Unseen inserted keys per dictionary measure, with ids continuing
    * the append-only assignment (current max + 1 upward). One tiny
    * max() job per dictionary; the anti-join is key-count-sized. The
    * service layer persists these APPEND-ONLY before the fold runs —
    * extra entries from a crashed fold are harmless (ids are reused
    * when the key reappears; cardinalities come from the bitmaps). */
  private[cube] def newDictEntries(cube: Cube,
      deltas: DataFrame): Map[String, DataFrame] =
    cube.config.dictBitmaps.map { m =>
      val dict = cube.dicts.getOrElse(m.id, throw new IllegalStateException(
        s"cube ${cube.config.name} lacks the '${m.id}' dictionary — " +
          "dictionary-bitmap folds need the loaded dict state"))
      val fresh = deltas.filter(col("_sign") > 0)
        .select(col(m.path).as("__key")).na.drop().distinct()
        .join(dict.select("__key"), Seq("__key"), "left_anti")
      val maxRow = dict.agg(max(col("__id"))).collect()(0)
      val offset = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) + 1L
      m.id -> assignIds(fresh, offset)
    }.toMap

  /** R1: initial cube population — one full source scan, then the cube
    * lives independently of the source. */
  def create(config: CubeConfig, source: DataFrame): Cube = {
    // bitmap measures are exact ONLY over integral key spaces: the
    // partials store ids as bits of CAST(path AS BIGINT), and for a
    // DOUBLE or STRING column that cast is lossy (1.5 and 1.7 collapse
    // to one bit; '01' and '1' collide; uncastable strings drop to
    // null) — which would silently return wrong "exact" distinct
    // counts. The dense-integer boundary is therefore VALIDATED here,
    // not documentation-only — the same honesty gate the quantile and
    // sketch families carry (non-integral keys: dictionary-encode
    // first or take the HLL path).
    requireIntegralBitmaps(config, source)
    requireIntegralWeighted(config, source)
    // sharding needs exactly ONE id family: one bitmap measure (plain
    // or dictionary-encoded) whose id range keys the shard — any
    // weighted measures must ride the SAME id column — or, bitmap-free,
    // weighted measures sharing one id column. A second independent id
    // space has no consistent shard for the same row.
    if (config.bitmapShardBits > 0) {
      require(config.allBitmaps.size <= 1,
        s"bitmapShardBits=${config.bitmapShardBits} requires at most one " +
          "bitmap measure (the shard key is its id range)")
      require(config.allBitmaps.nonEmpty || config.weighted.nonEmpty,
        s"bitmapShardBits=${config.bitmapShardBits} needs a bitmap or " +
          "weighted measure to shard on")
      config.allBitmaps.headOption match {
        case Some(bm) =>
          // a dict-sharded cube's shard key is the dense dictionary
          // id; a weighted measure over the SAME source column rides
          // the SAME dictionary (weightedIdCol), so its maps partition
          // consistently — any other id column refuses
          config.weighted.foreach(w => require(w.idPath == bm.path,
            s"weighted measure '${w.id}' keys on '${w.idPath}' but the " +
              s"shard key is the bitmap id column '${bm.path}' — shards " +
              "must partition ONE id space"))
        case None =>
          config.weighted.foreach(w =>
            require(w.idPath == config.weighted.head.idPath,
              "sharded weighted measures must share one id column " +
                s"(found '${w.idPath}' vs '${config.weighted.head.idPath}')"))
      }
    }
    require(config.bitmapShardBits >= 0 && config.bitmapShardBits <= 40,
      s"bitmapShardBits out of range: ${config.bitmapShardBits}")
    val sums = config.measures.map(m =>
      sum(col(m.path).cast(Dec)).cast(Dec).as(m.id))
    val sks = config.sketches.map(m =>
      hll_sketch_agg(col(m.path), SketchLgK).as(m.id))
    val qs = config.quantiles.map(m =>
      graft.functions.Kll.sketchAgg(col(m.path).cast("double")).as(m.id))
    val exts = config.extremes.flatMap(m => Seq(
      min(col(m.path)).as(s"${m.id}_min"),
      max(col(m.path)).as(s"${m.id}_max")))
    val fqs = config.freq.flatMap(m => Seq(
      graft.functions.CountMinSketch.sketch(col(m.path)).as(m.id),
      transform(
        graft.functions.CountMinSketch.approxTopK(col(m.path), FreqCand),
        s => s.getField("key")).as(s"${m.id}_cand")))
    val bms = config.bitmaps.map(m =>
      graft.functions.Bitmap.setAgg(col(m.path).cast("long")).as(m.id))
    // dictionary-encoded bitmaps: the honest path for NON-integral key
    // spaces the plain family refuses above — the maintained key → id
    // dictionary makes the encoding injective for any type, so the
    // served distinct counts stay exact
    val dicts = buildDicts(config, source)
    val dbms = config.dictBitmaps.map(m =>
      graft.functions.Bitmap.setAgg(col(s"__dictid_${m.id}")).as(m.id))
    // weighted (per-id additive) partials: +1 row count per row, the
    // weight scaled to exact longs ([[graft.functions.WeightMap]])
    val wms = config.weighted.map(m =>
      graft.functions.WeightMap.buildAgg(weightedIdCol(config, m),
        lit(1L), graft.functions.WeightMap.scaled(col(m.weightPath)))
        .as(m.id))
    // `_count` is always present, so the aggregate list is never empty
    // even for a measures-free config (e.g. an advised rolling cube
    // that carries only sketch/extreme partials)
    val all = sums ++ sks ++ qs ++ exts ++ fqs ++ bms ++ dbms ++ wms :+
      count(lit(1)).as(CountCol)
    val agg = withDictIds(config, source, dicts)
      .groupBy(config.dimCols: _*)
      .agg(all.head, all.tail: _*)
    Cube(config, agg, dicts = dicts)
  }

  /** R3: incremental maintenance. `deltas` carries the source schema plus
    * a `_sign` column (+1 insert, −1 delete; an update is a −1/+1 pair).
    * Folds the delta batch into the existing aggregates without touching
    * the source. Groups whose row count nets to exactly zero are dropped
    * (mirroring the reference's removal of emptied aggregate documents —
    * and identical to what a from-scratch recompute would show); groups
    * driven NEGATIVE by over-deletion are kept as tombstone state so a
    * later insert nets against the debt instead of restarting from zero —
    * fold-then-query therefore equals from-scratch for every delta
    * sequence. Tombstones are hidden from [[Cube.live]]/[[query]].
    *
    * `source`, when provided, is the CURRENT (post-delta) source state
    * and makes min/max measures DELETE-CAPABLE: the dimension cells the
    * delete rows touch are recomputed exactly from the source restricted
    * to those cells — cost ∝ |touched cells' rows| (a dim-predicate the
    * scan pushes down; at 100 TB, partition pruning on a dim-partitioned
    * fact table), never a full recompute — and only UNTOUCHED cells keep
    * their merged partials. The recompute covers EVERY non-invertible
    * partial family the cube maintains — min/max, HLL sketches, KLL
    * quantiles, CMS freq counters + candidates — rebuilt per touched
    * cell with the exact builder expressions [[create]] uses, so
    * delete-then-query equals a from-scratch recompute for all of them
    * (CubeSpec pins extremes bit-equal, HLL/CMS estimate-equal, KLL
    * within rank band) and the `hasDeletes` latch never trips when the
    * source is at hand. Sums and counts stay on the signed fold — they
    * are invertible, and rescanning for them would be waste. Without
    * `source` nothing non-invertible is fixable and the latch trips
    * exactly as before: the cube keeps serving exact sums/counts while
    * sketch/extreme serves refuse loudly. */
  def applyDeltas(cube: Cube, deltas: DataFrame,
      source: Option[DataFrame] = None): Cube = {
    val cfg = cube.config
    // Sketch measures cannot un-see a delete: the first negative-sign row
    // folded into a sketch-carrying cube trips the persisted hasDeletes
    // latch that downstream sketch serves check. One tiny job over the
    // delta batch (skipped entirely for sketch-free cubes and for cubes
    // already latched).
    val sketchy = cfg.sketches.nonEmpty || cfg.quantiles.nonEmpty ||
      cfg.extremes.nonEmpty || cfg.freq.nonEmpty || cfg.allBitmaps.nonEmpty
    val deletesPresent =
      sketchy && !deltas.filter(col("_sign") < 0).isEmpty
    // EVERY non-invertible family is fixable by targeted recompute when
    // the current source is at hand; none is without it
    val unfixable = sketchy && source.isEmpty
    val hasDeletes = cube.hasDeletes || (unfixable && deletesPresent)
    val deltaSums = cfg.measures.map(m =>
      sum(col("_sign") * col(m.path).cast(Dec)).cast(Dec).as(m.id))
    // sketch measures fold INSERTED rows only (see CubeConfig): the
    // when() nulls out delete rows and both sketch aggregates skip nulls
    val deltaSks = cfg.sketches.map(m =>
      hll_sketch_agg(when(col("_sign") > 0, col(m.path)), SketchLgK).as(m.id))
    val deltaQs = cfg.quantiles.map(m =>
      graft.functions.Kll.sketchAgg(
        when(col("_sign") > 0, col(m.path).cast("double"))).as(m.id))
    // min/max fold inserted rows only (see CubeConfig) — the when()
    // nulls out delete rows and min/max skip nulls, so a delete-only
    // batch leaves a group's stored extremes untouched through the
    // null-skipping merge
    val deltaExts = cfg.extremes.flatMap(m => Seq(
      min(when(col("_sign") > 0, col(m.path))).as(s"${m.id}_min"),
      max(when(col("_sign") > 0, col(m.path))).as(s"${m.id}_max")))
    val deltaFqs = cfg.freq.flatMap(m => Seq(
      graft.functions.CountMinSketch
        .sketch(when(col("_sign") > 0, col(m.path))).as(m.id),
      transform(
        graft.functions.CountMinSketch
          .approxTopK(when(col("_sign") > 0, col(m.path)), FreqCand),
        s => s.getField("key")).as(s"${m.id}_cand")))
    // bitmap measures fold inserted rows only, like every other
    // non-invertible family — the when() nulls out delete rows and the
    // set aggregate skips nulls
    val deltaBms = cfg.bitmaps.map(m =>
      graft.functions.Bitmap.setAgg(
        when(col("_sign") > 0, col(m.path).cast("long"))).as(m.id))
    // dictionary bitmaps: EXTEND each dictionary with the batch's
    // unseen inserted keys first (append-only — ids continue above the
    // current max; existing keys keep their ids, so re-inserts OR onto
    // already-set bits), then encode through the extended map
    val newEntries = newDictEntries(cube, deltas)
    val dicts = cube.dicts.map { case (id, d) =>
      id -> newEntries.get(id).filterNot(_.isEmpty)
        .map(d.unionByName(_)).getOrElse(d)
    }
    val deltaDbms = cfg.dictBitmaps.map(m =>
      graft.functions.Bitmap.setAgg(
        when(col("_sign") > 0, col(s"__dictid_${m.id}"))).as(m.id))
    // weighted partials fold SIGNED — the family is fully invertible
    // (per-id counts and weights net like the decimal sums), so unlike
    // every other per-id family deletes neither latch nor need the
    // targeted source recompute
    val deltaWms = cfg.weighted.map(m =>
      graft.functions.WeightMap.buildAgg(weightedIdCol(cfg, m),
        col("_sign").cast("long"),
        col("_sign").cast("long") *
          graft.functions.WeightMap.scaled(col(m.weightPath))).as(m.id))
    val deltaAll = deltaSums ++ deltaSks ++ deltaQs ++ deltaExts ++
      deltaFqs ++ deltaBms ++ deltaDbms ++ deltaWms :+
      sum(col("_sign")).as(CountCol)
    val deltaAgg = withDictIds(cfg, deltas, dicts)
      .groupBy(cfg.dimCols: _*)
      .agg(deltaAll.head, deltaAll.tail: _*)
    val merged = mergePartials(cfg, cube.aggregates, deltaAgg)
    val finalAgg = source match {
      // skip the recompute when the latch is (or stays) tripped: a
      // previously-latched cube's non-invertible partials are
      // permanently unservable, so rescanning the touched cells would
      // burn a partition-pruned source read per fold producing values
      // nothing can ever read
      case Some(src) if deletesPresent && !hasDeletes =>
        refreshTouchedPartials(cfg, merged, deltas, src, dicts)
      case _ => merged
    }
    Cube(cfg, finalAgg, hasDeletes, dicts)
  }

  /** Targeted partial recompute for delete-capable non-invertible
    * measures (see [[applyDeltas]]): the delete rows' dimension cells
    * are collected as a (small — one row per touched cell) broadcast
    * frame, the source is semi-joined down to exactly those cells
    * (null-safe: a null dim value is a real cell), their min/max, HLL,
    * KLL, and CMS partials rebuilt with the SAME builder expressions
    * [[create]] uses — so a recomputed cell is bit-for-bit what a
    * from-scratch create would hold — and ONLY those cells' partials
    * replaced in the merged state. Untouched cells never rescan the
    * source; sums/counts are invertible and never enter here. */
  private def refreshTouchedPartials(cfg: CubeConfig, merged: DataFrame,
      deltas: DataFrame, src: DataFrame,
      dicts: Map[String, DataFrame] = Map.empty): DataFrame = {
    // (defining expression, cell id) pairs — the declared dims plus the
    // hidden shard column of a bitmapShardBits-sharded cube, which
    // subdivides cells exactly like a dimension and must key the
    // recompute the same way
    val cellDims: Seq[(Column, String)] =
      (cfg.dims.map(_.expr) ++ cfg.shardCol).zip(cfg.dimNames)
    val tmpNames = cfg.dimNames.map(n => s"__cell_$n")
    // dict-joined first: a dict-sharded cube's shard column references
    // the dense dict id, which raw delta rows don't carry (deleted keys
    // are ever-seen, so the append-only dictionary resolves them all)
    val touched = withDictIds(cfg, deltas.filter(col("_sign") < 0), dicts)
      .select(cfg.dimCols: _*).distinct()
    val nonInvertible =
      cfg.extremes ++ cfg.sketches ++ cfg.quantiles ++ cfg.freq ++
        cfg.bitmaps
    // dictionary bitmaps recompute from the dict-mapped id, not the raw
    // key — the dictionary keeps every ever-seen key (append-only), so
    // the post-delta source's keys all resolve
    val srcCells = withDictIds(cfg, src, dicts).select(
      (cellDims.zip(tmpNames).map { case ((e, _), t) => e.as(t) } ++
        nonInvertible.map(m => col(m.path).as(s"__v_${m.id}")) ++
        cfg.dictBitmaps.map(m =>
          col(s"__dictid_${m.id}").as(s"__v_${m.id}"))): _*)
    val semiCond = cellDims.map(_._2).zip(tmpNames)
      .map { case (n, t) => srcCells(t) <=> touched(n) }
      .reduce(_ && _)
    val freshAggs =
      cfg.extremes.flatMap(m => Seq(
        min(col(s"__v_${m.id}")).as(s"__fresh_${m.id}_min"),
        max(col(s"__v_${m.id}")).as(s"__fresh_${m.id}_max"))) ++
      cfg.sketches.map(m =>
        hll_sketch_agg(col(s"__v_${m.id}"), SketchLgK)
          .as(s"__fresh_${m.id}")) ++
      cfg.quantiles.map(m =>
        graft.functions.Kll.sketchAgg(col(s"__v_${m.id}").cast("double"))
          .as(s"__fresh_${m.id}")) ++
      cfg.freq.flatMap(m => Seq(
        graft.functions.CountMinSketch.sketch(col(s"__v_${m.id}"))
          .as(s"__fresh_${m.id}"),
        transform(
          graft.functions.CountMinSketch
            .approxTopK(col(s"__v_${m.id}"), FreqCand),
          s => s.getField("key")).as(s"__fresh_${m.id}_cand"))) ++
      cfg.bitmaps.map(m =>
        graft.functions.Bitmap.setAgg(col(s"__v_${m.id}").cast("long"))
          .as(s"__fresh_${m.id}")) ++
      cfg.dictBitmaps.map(m =>
        // already a long id — no cast, the dict made the encoding
        // injective
        graft.functions.Bitmap.setAgg(col(s"__v_${m.id}"))
          .as(s"__fresh_${m.id}"))
    val fresh = srcCells.join(broadcast(touched), semiCond, "left_semi")
      .groupBy(tmpNames.map(col): _*)
      .agg(freshAggs.head, freshAggs.tail: _*)
      .withColumn("__fresh_hit", lit(true))
    val joinCond = cfg.dimNames.zip(tmpNames)
      .map { case (n, t) => fresh(t) <=> merged(n) }
      .reduce(_ && _)
    val replacedCols: Set[String] =
      cfg.extremes.flatMap(m => Seq(s"${m.id}_min", s"${m.id}_max")).toSet ++
        cfg.sketches.map(_.id) ++ cfg.quantiles.map(_.id) ++
        cfg.freq.flatMap(m => Seq(m.id, s"${m.id}_cand")) ++
        cfg.allBitmaps.map(_.id)
    merged.join(broadcast(fresh), joinCond, "left_outer")
      .select(merged.columns.toSeq.map { c =>
        if (replacedCols.contains(c))
          // hit-flag, not coalesce: a recomputed NULL partial (the
          // cell's remaining values are all null) must still REPLACE
          // the stale stored one
          when(col("__fresh_hit"), col(s"__fresh_$c"))
            .otherwise(merged(c)).as(c)
        else merged(c)
      }: _*)
  }

  /** Re-fold two partial-aggregate tables of the same cube shape into
    * one: decimal sums add, sketches union, row counts add; groups whose
    * count nets to exactly zero drop. Shared by [[applyDeltas]] (cube ⊕
    * signed delta aggregate) and the streaming auto-update publisher
    * (base snapshot ⊕ complete-mode stream state) — one fold definition,
    * both maintenance modes. Shuffles only cube-sized data on the
    * dimension key. */
  def mergePartials(cfg: CubeConfig, a: DataFrame, b: DataFrame): DataFrame = {
    // `_count` always merges, so the list survives a measures-free
    // config (advised rolling cubes carry only sketch/extreme partials)
    val mergeAggs =
      cfg.measures.map(m => sum(col(m.id)).cast(Dec).as(m.id)) ++
        cfg.sketches.map(m =>
          hll_union_agg(col(m.id)).as(m.id)) ++
        cfg.quantiles.map(m =>
          graft.functions.Kll.mergeAgg(col(m.id)).as(m.id)) ++
        cfg.extremes.flatMap(m => Seq(
          min(col(s"${m.id}_min")).as(s"${m.id}_min"),
          max(col(s"${m.id}_max")).as(s"${m.id}_max"))) ++
        cfg.freq.flatMap(m => Seq(
          graft.functions.CountMinSketch.mergeSketches(col(m.id)).as(m.id),
          sort_array(array_distinct(flatten(
            collect_list(col(s"${m.id}_cand"))))).as(s"${m.id}_cand"))) ++
        cfg.allBitmaps.map(m =>
          graft.functions.Bitmap.unionAgg(col(m.id)).as(m.id)) ++
        cfg.weighted.map(m =>
          graft.functions.WeightMap.mergeAgg(col(m.id)).as(m.id)) :+
        sum(col(CountCol)).as(CountCol)
    val merged = a.unionByName(b)
      .groupBy(cfg.dimNames.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .filter(col(CountCol) =!= 0)
    // RE-TRIM the freq candidate union to FreqCand per cell, ranked by
    // the MERGED counters (which are lossless, so the rank is the true
    // cumulative rank over everything folded so far): without this a
    // maintained cube's candidate array grows by up to FreqCand fresh
    // keys per fold — unbounded state over the cube's lifetime, the
    // exact bound the FreqCand budget exists to hold. Keys dropped
    // here are provably outside the cumulative top-FreqCand of the
    // union; keys never surfacing in ANY batch's top-FreqCand were
    // already outside the candidate heuristic's documented margin.
    // Deterministic order: estimate desc, then key asc.
    if (cfg.freq.isEmpty) merged
    else merged.select(merged.columns.toSeq.map { c =>
      cfg.freq.find(m => s"${m.id}_cand" == c) match {
        case Some(m) =>
          slice(transform(array_sort(transform(col(c), k =>
            struct(
              (-graft.functions.CountMinSketch.estimate(col(m.id), k))
                .as("negEst"),
              k.as("key")))),
            s => s.getField("key")), 1, FreqCand).as(c)
        case None => col(c)
      }
    }: _*)
  }

  /** R6: roll-up query served FROM THE CUBE — re-aggregate the partial
    * sums over a requested dimension subset, with optional filters on
    * dimension values. `avgOf` derives averages as sum/count. */
  def query(
      cube: Cube,
      subsetDims: Seq[String],
      filter: Column = lit(true),
      sumOf: Seq[String] = Nil,
      avgOf: Seq[String] = Nil,
      distinctOf: Seq[String] = Nil,
      quantilesOf: Seq[(String, Double)] = Nil,
      minOf: Seq[String] = Nil,
      maxOf: Seq[String] = Nil,
      topkOf: Seq[(String, Int)] = Nil,
      exactDistinctOf: Seq[String] = Nil,
      timeRollup: Seq[(String, String)] = Nil): DataFrame = {
    // TIME-HIERARCHY grouping: (dimId → coarser granularity) entries
    // group by `date_trunc(coarser, dim)` instead of the dim itself —
    // exact whenever the coarser bucket nests the dim's
    // ([[CubeRewriteRule.coarserThan]], the same vocabulary the
    // optimizer's re-truncation routing uses), and EVERY partial family
    // merges per coarser bucket unchanged: sums/counts add, HLL/KLL
    // union, extremes min/max, bitmaps OR, CMS counters ADD losslessly
    // (sum of part-counters == counters of the whole) with candidates
    // unioned — so "top words per MONTH" serves from a DAY-dimmed
    // cube's maintained freq partials. Output column: `<dim>_<coarser>`.
    timeRollup.foreach { case (id, g2) =>
      val g = cube.config.dims.collectFirst {
        case TimeDim(`id`, _, gr) => gr }
      require(g.isDefined, s"$id is not a time dimension of cube " +
        s"${cube.config.name}")
      require(CubeRewriteRule.coarserThan(g.get).contains(g2),
        s"granularity $g2 does not nest ${g.get} buckets exactly " +
          s"(servable: ${CubeRewriteRule.coarserThan(g.get).mkString(", ")})")
      require(!subsetDims.contains(id),
        s"request either dimension $id or its $g2 rollup, not both")
    }
    // min/max partials of a delete-processed cube describe EVER-INSERTED
    // values (a delete cannot un-see an extreme) — refuse rather than
    // serve a possibly-stale bound; exact sums/counts keep serving
    require(minOf.isEmpty && maxOf.isEmpty || !cube.hasDeletes,
      s"cube ${cube.config.name} has folded deletes; its min/max " +
        "partials are insert-only and cannot serve extremes")
    (minOf ++ maxOf).foreach(id =>
      require(cube.config.extremes.exists(_.id == id),
        s"$id is not a min/max measure of cube ${cube.config.name}"))
    // freq partials share the sketches' insert-only contract
    require(topkOf.isEmpty || !cube.hasDeletes,
      s"cube ${cube.config.name} has folded deletes; its freq " +
        "partials are insert-only and cannot serve heavy hitters")
    require(topkOf.map(_._1).distinct.size == topkOf.size,
      "duplicate freq measure ids requested — the topk_<id> output " +
        "columns would collide")
    topkOf.foreach { case (id, k) =>
      require(cube.config.freq.exists(_.id == id),
        s"$id is not a freq measure of cube ${cube.config.name}")
      require(k > 0 && k <= FreqCand,
        s"topk k=$k out of range (1..$FreqCand — per-cell candidate cap)")
    }
    // bitmap partials of a latched cube describe EVER-INSERTED ids
    // (delete-capable folds never latch; only a sourceless delete does)
    require(exactDistinctOf.isEmpty || !cube.hasDeletes,
      s"cube ${cube.config.name} has folded deletes without source " +
        "access; its bitmap partials are insert-only and cannot serve " +
        "exact distinct counts")
    exactDistinctOf.foreach(id =>
      require(cube.config.allBitmaps.exists(_.id == id),
        s"$id is not a bitmap measure of cube ${cube.config.name}"))
    val base = cube.live.filter(filter)
    val sums = sumOf.map(id => sum(col(id)).cast(DoubleType).as(s"sum_$id"))
    val avgs = avgOf.map(id =>
      (sum(col(id)).cast(DoubleType) / sum(col(CountCol))).as(s"avg_$id"))
    // distinct counts from the stored sketches: union the surviving
    // groups' partials, estimate once — cube-sized work, no source scan
    val dsts = distinctOf.map(id =>
      hll_sketch_estimate(hll_union_agg(col(id))).as(s"n_distinct_$id"))
    // percentiles the same way: one KLL union per id (Catalyst dedups
    // the identical merge aggregates), a point-read per requested rank
    // labeled by rankLabel's canonical decimal form.
    val qnts = quantilesOf.map { case (id, q) =>
      graft.functions.Kll.quantile(graft.functions.Kll.mergeAgg(col(id)), q)
        .as(s"p${rankLabel(q)}_$id")
    }
    val mins = minOf.map(id => min(col(s"${id}_min")).as(s"min_$id"))
    val maxs = maxOf.map(id => max(col(s"${id}_max")).as(s"max_$id"))
    // heavy hitters from the stored freq partials: counters SUM
    // losslessly across cells (CmsMergeAgg), candidate keys union; the
    // top-k itself is computed post-agg from the two merged columns by
    // pure built-in expressions, so the whole serve is cube-sized
    val fqAggs = topkOf.flatMap { case (id, _) => Seq(
      graft.functions.CountMinSketch.mergeSketches(col(id)).as(s"__sk_$id"),
      sort_array(array_distinct(flatten(
        collect_list(col(s"${id}_cand"))))).as(s"__cand_$id"))
    }
    // exact distincts from the stored bitmaps: union the surviving
    // groups' partials (lossless), count bits once — cube-sized work,
    // no source scan, and the answer EQUALS a raw COUNT(DISTINCT)
    val exds = exactDistinctOf.map(id =>
      graft.functions.Bitmap.cardinality(
        graft.functions.Bitmap.unionAgg(col(id))).as(s"n_exact_$id"))
    val aggs = sums ++ avgs ++ dsts ++ qnts ++ mins ++ maxs ++ fqAggs ++
      exds :+ sum(col(CountCol)).as("n_rows")
    val rollCols = timeRollup.map { case (id, g2) =>
      date_trunc(g2, col(id)).as(s"${id}_$g2") }
    val out = base.groupBy((subsetDims.map(col) ++ rollCols): _*)
      .agg(aggs.head, aggs.tail: _*)
    if (topkOf.isEmpty) out
    else topkOf.foldLeft(out) { case (df, (id, k)) =>
      df.withColumn(s"topk_$id", graft.functions.CountMinSketch
        .topkFromMerged(col(s"__sk_$id"), col(s"__cand_$id"), k))
    }.drop(topkOf.flatMap { case (id, _) =>
      Seq(s"__sk_$id", s"__cand_$id") }: _*)
  }

  // -------------------------------------------------------- persistence
  /** R8: cube-state persistence — aggregates as parquet, config in a
    * JSON registry (the Spark translation of the reference's resume
    * metadata; streaming offsets live in the checkpoint dir instead). */
  def save(cube: Cube, dir: String): Unit = {
    cube.aggregates.write.mode("overwrite").parquet(s"$dir/${cube.config.name}")
    // dictionaries BESIDE the aggregates (never inside the parquet dir
    // — Spark's file index would read them as data): one directory per
    // dict measure, rewritten whole here (create/save path); folds go
    // through the service's append-only persistence instead
    cube.dicts.foreach { case (id, df) =>
      df.write.mode("overwrite")
        .parquet(s"$dir/${cube.config.name}.dict/$id")
    }
    saveMeta(cube, dir)
  }

  /** Config + maintenance-state metadata alone (no parquet rewrite) —
    * used when a fold changed only the state bits (e.g. the hasDeletes
    * latch) and the aggregates were published separately. The
    * `hasDeletes` key rides after the measures array; the tolerant
    * parser's greedy measures regex is unaffected (no bracket in the
    * suffix). */
  def saveMeta(cube: Cube, dir: String): Unit = {
    val json = configToJson(cube.config).stripSuffix("}") +
      s""","hasDeletes":${cube.hasDeletes}}"""
    val p = java.nio.file.Paths.get(dir, s"${cube.config.name}.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
    ()
  }

  def load(spark: SparkSession, dir: String, name: String): Cube = {
    val p = java.nio.file.Paths.get(dir, s"$name.json")
    val json = java.nio.file.Files.readString(p)
    val hasDeletes = """"hasDeletes":\s*true""".r.findFirstIn(json).isDefined
    val config = configFromJson(json)
    Cube(config, Tables.parquet(spark, s"$dir/$name"), hasDeletes,
      loadDicts(spark, dir, config))
  }

  private[cube] def loadDicts(spark: SparkSession, dir: String,
      config: CubeConfig): Map[String, DataFrame] =
    config.dictBitmaps.map(m =>
      m.id -> Tables.parquet(spark, s"$dir/${config.name}.dict/${m.id}")).toMap

  def list(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".json")).map(_.getName.stripSuffix(".json"))
      .sorted
  }

  def delete(dir: String, name: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$dir/$name"))
    rm(new java.io.File(s"$dir/$name.dict"))
    new java.io.File(s"$dir/$name.json").delete()
    ()
  }

  // Minimal hand-rolled JSON (no extra deps available offline).
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private[cube] def configToJson(c: CubeConfig): String = {
    val dims = c.dims.map {
      case FieldDim(id, path) =>
        s"""{"kind":"field","id":"${esc(id)}","path":"${esc(path)}"}"""
      case TimeDim(id, path, g) =>
        s"""{"kind":"time","id":"${esc(id)}","path":"${esc(path)}","granularity":"${esc(g)}"}"""
      case ExprDim(id, sql) =>
        s"""{"kind":"expr","id":"${esc(id)}","path":"${esc(sql)}"}"""
    }.mkString("[", ",", "]")
    val ms = c.measures
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val sks = c.sketches
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val qs = c.quantiles
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val exts = c.extremes
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val fqs = c.freq
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val bms = c.bitmaps
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val dbms = c.dictBitmaps
      .map(m => s"""{"id":"${esc(m.id)}","path":"${esc(m.path)}"}""")
      .mkString("[", ",", "]")
    val wms = c.weighted
      .map(m => s"""{"id":"${esc(m.id)}","idPath":"${esc(m.idPath)}","weightPath":"${esc(m.weightPath)}"}""")
      .mkString("[", ",", "]")
    // Section order is canonical for readability only; configFromJson
    // captures each section's flat array independently, so wire
    // clients may omit or reorder sections freely.
    val shard =
      if (c.bitmapShardBits > 0) s""","bitmapShardBits":${c.bitmapShardBits}"""
      else ""
    s"""{"name":"${esc(c.name)}","source":"${esc(c.source)}","dims":$dims,"sketches":$sks,"quantiles":$qs,"extremes":$exts,"freq":$fqs,"bitmaps":$bms,"dictBitmaps":$dbms,"weighted":$wms,"measures":$ms$shard}"""
  }

  private[cube] def configFromJson(json: String): CubeConfig = {
    // Tolerant regex-based parse. Configs may be MINIMAL (hand-written
    // wire clients omit sections they don't use), so each section's
    // regex must capture its own flat array independently of which
    // sections follow it. The arrays never nest — entries are flat
    // objects with string fields — so `\[[^\]]*\]` is exact; a
    // successor-anchored lazy capture (the pre-r14 form) extends past
    // the intended array whenever an intermediate section is absent
    // and mis-parses e.g. bitmap entries as dims.
    def field(obj: String, key: String): Option[String] =
      s""""$key":\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(obj)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
    def objects(arr: String): Seq[String] =
      """\{[^{}]*\}""".r.findAllIn(arr).toSeq
    def section(key: String): Seq[String] = {
      val arr = (s""""$key":\\s*(\\[[^\\]]*\\])""").r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("[]")
      objects(arr)
    }
    def measures(key: String): Seq[Measure] = section(key).map { o =>
      Measure(field(o, "id").get, field(o, "path").get)
    }
    val dims = section("dims").map { o =>
      (field(o, "kind"), field(o, "id"), field(o, "path")) match {
        case (Some("time"), Some(id), Some(p)) =>
          TimeDim(id, p, field(o, "granularity").getOrElse("day"))
        case (Some("expr"), Some(id), Some(sql)) => ExprDim(id, sql)
        case (_, Some(id), Some(p)) => FieldDim(id, p)
        case _ => throw new IllegalArgumentException(s"bad dim: $o")
      }
    }
    val shardBits = """"bitmapShardBits":\s*(\d+)""".r
      .findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(0)
    val weighted = section("weighted").map { o =>
      WeightedMeasure(field(o, "id").get, field(o, "idPath").get,
        field(o, "weightPath").get)
    }
    CubeConfig(field(json, "name").get, field(json, "source").get, dims,
      measures("measures"), measures("sketches"), measures("quantiles"),
      measures("extremes"), measures("freq"), measures("bitmaps"),
      measures("dictBitmaps"), shardBits, weighted)
  }
}

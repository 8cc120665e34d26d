package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One serve kernel per cube-served analytic family (cohort matrix,
  * cohort value, top spenders, funnel, time-to-convert), run by both
  * the [[CubeService]] verb and the [[CubeRewriteRule]] routed
  * builder. A kernel takes live cube cells (the verb passes
  * `cube.live`; the router passes its registration's cells after the
  * query's dim-value filters), a period-key column, resolved measure
  * and dimension ids, segment dimension ids and the shard flag, and
  * returns the family's core frame. The verb keeps its argument
  * checks and its finishing steps (cohort sizes, money values, row
  * order, calendar labels); the router keeps plan matching and the
  * exprId-preserving output projection.
  *
  * Output columns carry the verbs' public names (`period`, `cohort`,
  * `offset`, `id`, `rank`, `lag_periods`, `converted`, ...) and
  * `__`-prefixed internals, so a segment dimension must not reuse
  * them (the verbs refuse such segments; the router refuses cubes
  * with `__` dimension ids). */
private[cube] object ServeKernels {
  private val B = graft.functions.Bitmap
  private val W = graft.functions.WeightMap

  /** The codec's empty blob: a zero-block bitmap and a zero-entry
    * weight map share this byte form. */
  def emptyBlob: Column = lit(Array[Byte](0, 0, 0, 0))

  /** The period index of a day-valued column: `floor(epochDay /
    * periodDays)` (datediff keeps it TZ-consistent; floor in double is
    * exact for |d| < 2^52), or, for `calendar = Some((g, off))`, the
    * bucket's integer ordinal `year*12+month`, `year*4+quarter` or
    * `year`, plus `off`. Ordinals keep ±1 adjacency exact across year
    * boundaries. The verbs use `off = -1` for month and quarter and 0
    * for year ([[verbCalendar]]); the router reproduces the constant
    * the analyzed plan added. */
  def periodKey(day: Column, periodDays: Int,
      calendar: Option[(String, Long)]): Column = calendar match {
    case None =>
      floor(datediff(day.cast("date"), lit("1970-01-01")).cast("long")
        .cast("double") / periodDays).cast("long")
    case Some((g, off)) =>
      val dd = day.cast("date")
      val base = g match {
        case "month" => year(dd) * 12 + month(dd)
        case "quarter" => year(dd) * 4 + quarter(dd)
        case _ => year(dd)
      }
      (base.cast("long") + off).cast("long")
  }

  /** The verbs' calendar ordinal for granularity `g`:
    * `year*12+month-1`, `year*4+quarter-1` or `year`, which
    * [[withStart]] labels back to the bucket's first day. */
  def verbCalendar(g: String): (String, Long) =
    (g, if (g == "year") 0L else -1L)

  /** Appends `to` = the first day (`yyyy-MM-dd`) of the calendar
    * bucket whose verb ordinal is in column `from`; no-op without a
    * calendar. */
  def withStart(frame: DataFrame, calendar: Option[String], from: String,
      to: String): DataFrame = calendar match {
    case None => frame
    case Some(g) =>
      val p = col(from)
      val start = g match {
        case "month" => make_date(floor(p / 12).cast("int"),
          pmod(p, lit(12)).cast("int") + 1, lit(1))
        case "quarter" => make_date(floor(p / 4).cast("int"),
          pmod(p, lit(4)).cast("int") * 3 + 1, lit(1))
        case _ => make_date(p.cast("int"), lit(1), lit(1))
      }
      frame.withColumn(to, date_format(start, "yyyy-MM-dd"))
  }

  private def shardCols(sharded: Boolean): Seq[Column] =
    if (sharded) Seq(col(CubeManager.ShardCol)) else Nil

  /** One row per (segment, period [, shard]) of `live`, aggregated. */
  private def perPeriod(live: DataFrame, periodKey: Column,
      segs: Seq[String], sharded: Boolean, aggs: Seq[Column]): DataFrame =
    live.groupBy((segs.map(col) ++ Seq(periodKey.as("period")) ++
        shardCols(sharded)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** A cohort family's first-seen frame `(segs, __id, cohort)` and its
    * cells `(segs, cohort, offset, aggs...)`. */
  final case class Cohorts(first: DataFrame, cells: DataFrame)

  /** First-seen and cells over exploded `(segs, period, __id, ...)`
    * activity rows. First-seen = min period per id, which is the
    * prefix-ANDNOT fixpoint of the old blob walk. That walk ordered
    * nulls first, so an id with any null-period activity landed in
    * the null cohort and never surfaced: any null period excludes
    * the id here too. A cell exists exactly when ≥ 1 cohort id was
    * active at that offset, and offset 0 is the whole cohort. */
  private def cohorts(acts: DataFrame, segs: Seq[String],
      aggs: Seq[Column]): Cohorts = {
    val segCols = segs.map(col)
    val first = acts
      .groupBy((segCols :+ col("__id")): _*)
      .agg(min(col("period")).as("cohort"),
        max(col("period").isNull).as("__hadNull"))
      .filter(!col("__hadNull") && col("cohort").isNotNull)
      .drop("__hadNull")
    val cells = acts.join(first, segs :+ "__id")
      .groupBy((segCols ++ Seq(col("cohort"),
        (col("period") - col("cohort")).as("offset"))): _*)
      .agg(aggs.head, aggs.tail: _*)
    Cohorts(first, cells)
  }

  /** COHORT MATRIX kernel: acts → first → cells, with `retained` =
    * |{id : first = cohort, active at cohort + offset}|.
    *
    * Explode, then aggregate: the bitmaps are unioned per (segment,
    * period [, shard]) first (map-side partial unions), then exploded
    * behind the exchange, so the Generate runs in parallel across
    * periods instead of inside the single-file snapshot scan task.
    * The union already dedupes and ids are disjoint across shards, so
    * the exploded rows are the distinct activity set. Plain shuffled
    * aggregates then replace the old |periods|²/2 blob pair walk,
    * which a window had funneled into one task (1.5-1.7 s per serve
    * at sf0.1 on local[32]); the cost is linear in Σ|cell ids|. */
  def cohortMatrix(live: DataFrame, periodKey: Column, bitmapId: String,
      segs: Seq[String], sharded: Boolean): Cohorts = {
    val acts = perPeriod(live, periodKey, segs, sharded,
        Seq(B.unionAgg(col(bitmapId)).as("__bm")))
      .select((segs.map(col) ++ Seq(col("period"),
        explode_outer(B.ids(col("__bm"))).as("__id"))): _*)
      .filter(col("__id").isNotNull)
    cohorts(acts, segs, Seq(count(lit(1)).as("retained")))
  }

  /** COHORT VALUE kernel: net → first → cells, with `__a` = active
    * cohort ids and `__v` = Σ their net scaled-long weight at the
    * offset.
    *
    * The maps are merged per (segment, period [, shard]) first: the
    * pointwise addition is the signed net, so each merged map's
    * entries are already the net (cnt, w) per id and need no second
    * aggregate. Present = net cnt > 0 (the WeightMapKeyBitmap rule),
    * so delete histories net as a recompute would and the family
    * keeps serving through deletes. Exploding raw cell entries
    * instead put the Generate in the scan stage (a since-removed probe
    * read q293 warm at about 3.4x q281's). Linear in Σ|map entries|
    * rather than quadratic in the period count (the old blob walk:
    * 1.8-4.0 s per serve at sf0.1). */
  def cohortValue(live: DataFrame, periodKey: Column, weightedId: String,
      segs: Seq[String], sharded: Boolean): Cohorts = {
    val segCols = segs.map(col)
    val net = perPeriod(live, periodKey, segs, sharded,
        Seq(W.mergeAgg(col(weightedId)).as("__wm")))
      .select((segCols ++ Seq(col("period"),
        explode_outer(W.entries(col("__wm"))).as("__e"))): _*)
      .filter(col("__e").isNotNull && col("__e.cnt") > 0)
      .select((segCols ++ Seq(col("period"), col("__e.id").as("__id"),
        col("__e.w").as("__w"))): _*)
    cohorts(net, segs,
      Seq(count(lit(1)).as("__a"), sum(col("__w")).as("__v")))
  }

  /** TOP SPENDERS kernel: `(segs, period, id, __w, rank)` rows with
    * rank ≤ k, `__w` the exact scaled-long net value and `rank` the
    * int ROW_NUMBER over (value desc, id asc), the raw plan's own
    * tiebreak. Each merged map yields its bounded top-k plus every
    * boundary tie ([[graft.functions.WeightMapTopK]]); a sharded cube
    * selects per shard (shards partition the id space, so the global
    * top-k is inside the union of per-shard top-ks) and the re-rank
    * runs over ≤ |shards|·k + ties candidates. `dict` (a
    * dictionary-encoded weighted id's `__id → __key` frame) turns
    * dense ids back into the visible keys before ranking, so ties
    * break on the key the caller sees. */
  def topSpenders(live: DataFrame, periodKey: Column, weightedId: String,
      dict: Option[DataFrame], k: Int, segs: Seq[String],
      sharded: Boolean): DataFrame = {
    val segCols = segs.map(col)
    val per = perPeriod(live, periodKey, segs, sharded,
        Seq(W.mergeAgg(col(weightedId)).as("__wm")))
      .select((segCols ++ Seq(col("period"),
        explode(W.topK(col("__wm"), k)).as("__e"))): _*)
      .select((segCols ++ Seq(col("period"), col("__e.id").as("id"),
        col("__e.w").as("__w"))): _*)
    val candidates = dict match {
      case Some(d0) =>
        val d = d0.select(col("__id"), col("__key"))
        per.join(broadcast(d), per("id") === d("__id"))
          .select((segCols ++ Seq(col("period"), col("__key").as("id"),
            col("__w"))): _*)
      case None => per
    }
    val w = Window
      .partitionBy((segCols :+ col("period")): _*)
      .orderBy(col("__w").desc, col("id").asc)
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** FUNNEL kernel: the step cascade, one row per (segment, period
    * [, shard]) with `__c<i>` = the ids that completed steps 0..i in
    * order by the period:
    *
    *   C_0 = prefixOR(B_0);   C_i = prefixOR(B_i ∩ C_{i−1})
    *
    * (or, for `withinPeriods > 0`, B_i ∩ the step-(i−1)
    * qualifications of the trailing `within` range — ClickHouse's
    * windowFunnel semantics, re-qualification included; RANGE frames
    * on the period key, so an unobserved period still ages a chain
    * out). One conditional aggregation builds every step's bitmap in
    * one pass over the cells (a per-step join-and-rescan form measured
    * 3.1× slower under ×10 ids in SCALING.md's harness); each step is
    * one incremental window pass.
    * The period domain is every period with step activity, or, with
    * `allPeriods`, every period of `live` (the raw plan's unfiltered
    * observed-days side). A sharded cube cascades per shard over the
    * period × shard grid (a shard silent at p still carries its
    * prefix), and [[funnelConverted]] sums the counts back. */
  def funnelCascade(live: DataFrame, periodKey: Column, stepDim: String,
      bitmapId: String, steps: Seq[String], segs: Seq[String],
      sharded: Boolean, withinPeriods: Int = 0,
      allPeriods: Boolean = false): DataFrame = {
    val segCols = segs.map(col)
    val stepAggs = steps.zipWithIndex.map { case (s, i) =>
      B.unionAgg(when(col(stepDim) === s, col(bitmapId))).as(s"__b$i") }
    val base = perPeriod(live.filter(col(stepDim).isin(steps: _*)),
      periodKey, segs, sharded, stepAggs)
    val periods =
      if (allPeriods) live.select((segCols :+ periodKey.as("period")): _*)
        .distinct()
      else base.select((segCols :+ col("period")): _*).distinct()
    val grid =
      if (!sharded) periods
      else {
        val shards = base.select((segCols :+ col(CubeManager.ShardCol)): _*)
          .distinct()
        if (segs.isEmpty) periods.crossJoin(shards)
        else periods.join(shards, segs)
      }
    val keyCols = segs ++ Seq("period") ++
      (if (sharded) Seq(CubeManager.ShardCol) else Nil)
    val part = segCols ++ shardCols(sharded)
    val w = Window.partitionBy(part: _*).orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rangeW =
      if (withinPeriods <= 0) w
      else Window.partitionBy(part: _*).orderBy(col("period"))
        .rangeBetween(-withinPeriods.toLong, Window.currentRow)
    steps.indices.foldLeft(grid.join(base, keyCols, "left")) { (frame, i) =>
      val qual =
        if (i == 0) coalesce(col(s"__b$i"), emptyBlob)
        else B.and(coalesce(col(s"__b$i"), emptyBlob),
          if (withinPeriods <= 0) col(s"__c${i - 1}")
          else B.unionAgg(col(s"__q${i - 1}")).over(rangeW))
      frame.withColumn(s"__q$i", qual)
        .withColumn(s"__c$i", B.unionAgg(col(s"__q$i")).over(w))
    }
  }

  /** `(segs, period, step_ord, step, converted)` from a
    * [[funnelCascade]], for the given steps with their indexes;
    * shard counts add (shards partition the id space). */
  def funnelConverted(cascade: DataFrame, steps: Seq[(String, Int)],
      segs: Seq[String], sharded: Boolean): DataFrame = {
    val segCols = segs.map(col)
    val rows = steps.map { case (s, i) =>
      cascade.select((segCols ++ Seq(col("period"),
        lit(i + 1).as("step_ord"), lit(s).as("step"),
        B.cardinality(col(s"__c$i")).as("__n"))): _*)
    }.reduce(_ union _)
    if (!sharded) rows.withColumnRenamed("__n", "converted")
    else rows
      .groupBy((segCols ++ Seq(col("period"), col("step_ord"),
        col("step"))): _*)
      .agg(sum(col("__n")).as("converted"))
  }

  /** TIME-TO-CONVERT kernel: `(segs, lag_periods, converted)` rows,
    * zero counts omitted. Over the unbounded [[funnelCascade]],
    * F_p = B_0[p] ∖ prefixOR(B_0[<p]) holds the ids whose first
    * step-0 period is p and N_p = C_last[p] ∖ C_last[p−1] those
    * converting at p. Within a (segment [, shard]) partition an id is
    * in at most one F and at most one N, and shards partition the id
    * space, so the histogram is one row per converting id in the
    * equi-join of the exploded F and N ids: a parallel shuffle join,
    * linear in the id count, where the old blob triangle was
    * quadratic in the period count and ran in one task.
    * `maxLagPeriods` drops slower conversions; a null period never
    * pairs. */
  def timeToConvert(live: DataFrame, periodKey: Column, stepDim: String,
      bitmapId: String, steps: Seq[String], segs: Seq[String],
      sharded: Boolean, maxLagPeriods: Option[Int]): DataFrame = {
    val segCols = segs.map(col)
    val part = segCols ++ shardCols(sharded)
    val wPrev = Window.partitionBy(part: _*).orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLag = Window.partitionBy(part: _*).orderBy(col("period"))
    val last = steps.size - 1
    val frame = funnelCascade(live, periodKey, stepDim, bitmapId, steps,
        segs, sharded)
      .withColumn("__f", B.andNot(coalesce(col("__b0"), emptyBlob),
        coalesce(B.unionAgg(coalesce(col("__b0"), emptyBlob)).over(wPrev),
          emptyBlob)))
      .withColumn("__n", B.andNot(col(s"__c$last"),
        coalesce(lag(col(s"__c$last"), 1).over(wLag), emptyBlob)))
    def ids(bm: String, p: String) =
      frame.select((segCols ++ Seq(col("period").as(p),
          explode_outer(B.ids(col(bm))).as("__id"))): _*)
        .filter(col("__id").isNotNull)
    val inWindow = col("__pb") >= col("__pa")
    ids("__f", "__pa").join(ids("__n", "__pb"), segs :+ "__id")
      .filter(maxLagPeriods.fold(inWindow)(m =>
        inWindow && col("__pb") <= col("__pa") + m))
      .groupBy((segCols :+
        (col("__pb") - col("__pa")).as("lag_periods")): _*)
      .agg(sum(lit(1L)).as("converted"))
      .filter(col("converted") >= 1)
  }
}

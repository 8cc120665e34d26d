package graft.cube

import scala.collection.concurrent.TrieMap

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Expression, HllSketchEstimate, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Complete, Count, HllUnionAgg, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DecimalType

/** Automatic materialized-view routing — the reference's core promise
  * ("queries hit the cube, not the source") lifted into the Catalyst
  * optimizer: an `Aggregate` over a source table is rewritten to
  * re-aggregate a registered MATERIALIZED cube when the cube covers the
  * query's dimensions and measures. Query cost becomes ∝ |cube|, not
  * |source| — at 100 TB that is the difference between scanning the
  * fact table and scanning megabytes of aggregates.
  *
  * Soundness constraints (rewrite fires only when provably exact):
  * - the aggregate's child is the cube's source relation (by file path),
  *   optionally under `Filter`s whose every conjunct is a DETERMINISTIC
  *   predicate over cube DIMENSIONS (a dim-valued predicate keeps or
  *   drops whole cube cells, so filtering the MV on the dimension
  *   attribute is exact; any conjunct touching a non-dim column, or a
  *   nondeterministic one like `rand() < p` — which samples rows, not
  *   cells — refuses the rewrite);
  * - every grouping expression canonically equals a cube dimension
  *   expression (plain column or `date_trunc` time bucket);
  * - every aggregate is `sum(CAST(measure AS DECIMAL(18,2)))` — the
  *   engine's exact-sum idiom, matching what the cube accumulates — or
  *   `count(1)` (served from the cube's row count);
  * - the registered cube is materialized (its plan is a parquet scan of
  *   the saved aggregates, not a re-aggregation of the source);
  * - the cube is actually SMALLER than what it replaces: a cube whose
  *   file-stats size reaches the source relation's refuses to route
  *   (re-aggregating it can lose to the source scan Catalyst would
  *   otherwise optimize). Tiny cubes (below
  *   `spark.graft.cube.routingCostFloorBytes`, default 1 MiB) always
  *   route — at that size re-aggregation cost is noise either way.
  *
  * JOIN MVs ([[ChainCubeManager]], two or more relations) route the
  * same way: an Aggregate — plain, or a ROLLUP/CUBE/GROUPING SETS
  * through its Expand — over the registered INNER equi-join tree of
  * the registered relations, in any order or parenthesization, with
  * dim-only relation filters allowed under the same conjunct rule (σ
  * over one input commutes with an inner join), is served from the
  * join cube. Dim-subset rollups and global rollups route through the
  * shared partial-binding machinery.
  *
  * One opt-in relaxation, covering the two estimator-changing leaves:
  * `approx_count_distinct(x)` routes to estimate(union(HLL partials))
  * when the cube maintains a sketch measure on x, and
  * `percentile_approx(x, p, acc)` routes to
  * kll_quantile(merge(KLL partials), p) when it maintains a quantile
  * measure — approximate-to-approximate, but the estimators change
  * (HLL++ → datasketches HLL; GK digest → KLL), so neither is
  * answer-preserving and both stay off by default. Opt in PER REGISTRATION
  * (`CubeCatalog.register(..., approxDistinct = true)` — scoped to that
  * cube's source path, never leaking to unrelated queries) or globally
  * with `spark.graft.cube.approxDistinctRouting` = true. Two further
  * limits, enforced at rewrite time: a request for tighter error than
  * the maintained sketch delivers (relativeSD below ~1.6% at the
  * default lgK) refuses to route, and a cube whose persisted
  * `hasDeletes` latch is set refuses too — sketch measures fold
  * inserted rows only (deletes are not invertible in a sketch; see
  * [[CubeManager.applyDeltas]]), so a delete-processed cube's partials
  * describe ever-inserted values, not current state.
  *
  * Install: `spark.experimental.extraOptimizations ++= Seq(
  * CubeRewriteRule)` (done by [[CubeCatalog.install]]) or via
  * `GraftExtensions`. Output attribute ids are preserved so parent
  * operators resolve unchanged.
  */
object CubeCatalog {
  /** Test hook: how many times a [[Registration]] analyzed its cube
    * plan. The rule fires on every `Aggregate` in every optimized plan
    * once installed, so the analysis MUST happen at registration — a
    * per-invocation re-derivation would be O(|registered cubes|) plan
    * analyses per query (CubeRewriteSpec pins this stays flat across
    * queries). */
  private[cube] val analysisCount = new java.util.concurrent.atomic.AtomicLong

  /** A routable cube: the materialized cube, its normalized source
    * parquet path, and whether approx-distinct serving was opted into
    * for THIS registration. The analyzed cube plan, its file-stats
    * size (the cost key), and its own scan path are memoized here at
    * construction — [[CubeRewriteRule]] reads them on every optimizer
    * invocation and must never re-derive them per query.
    *
    * PUBLISH-STABLE SCANS: the single-table publish replaces the head
    * directory by a two-rename swap and archives the old head by
    * RENAME, so a routed plan optimized against the pre-publish head
    * and executed after it would read renamed-away paths
    * (FILE_NOT_EXIST mid-query — loud, but still a failed read under a
    * concurrent fold). Join MVs never had the race: their versions are
    * immutable directories behind a manifest. This registration
    * applies the same discipline to single-table cubes WITHOUT copying
    * data: the memoized plan scans a HARD-LINK snapshot of the head's
    * files (`<head>.snap/s<gen>/<name>/` — same inodes, metadata-only
    * cost), which a publish's renames cannot touch. Snapshot
    * generations are GC'd DEFERRED BY ONE registration refresh (the
    * jmv deferred-GC argument): a plan built against the previous
    * registration keeps its files through the publish that supersedes
    * it, so a routed serve concurrent with a publish reads exactly one
    * consistent version — the old one. `stableScan = true` (join MVs,
    * whose version dirs are already immutable) skips snapshotting;
    * a cube whose plan is not a flat parquet directory falls back to
    * the raw plan (it will refuse to route anyway). */
  final case class Registration(cube: Cube, sourcePath: String,
      approxDistinct: Boolean, stableScan: Boolean = false) {
    /** Scan path of the cube's OWN plan before snapshotting — the
      * misregistration guard compares this against the query source
      * path (a "cube" that IS the source must refuse to route; the
      * snapshot path would never compare equal and would bypass the
      * guard). */
    private val analyzedAggs: LogicalPlan = {
      analysisCount.incrementAndGet()
      Bridge.analyzed(cube.aggregates)
    }
    val origScanPath: Option[String] = sourcePathOf(analyzedAggs)
    val cubePlan: LogicalPlan =
      if (stableScan) analyzedAggs
      else origScanPath.flatMap(p => snapshotPlan(cube, p))
        .getOrElse(analyzedAggs)
    val cubeSize: BigInt = cubePlan.stats.sizeInBytes
    val cubeScanPath: Option[String] = sourcePathOf(cubePlan)
  }

  private val snapGen = new java.util.concurrent.atomic.AtomicLong

  /** Hard-link the head's flat parquet files into a fresh snapshot
    * generation (`<head>.snap/<kind>/s<gen>/<name>`) and return its
    * path; None (→ raw-read fallback) for non-directory or partitioned
    * layouts, and on any failure to snapshot, which is reported on
    * stderr. Keeps the TWO newest generations per (root, kind) — the
    * current consumer's and the previous one's, so in-flight plans
    * survive exactly one superseding refresh (deferred GC). `kind`
    * separates consumers with independent refresh cadences (optimizer
    * registrations vs service serves) — sharing one generation
    * sequence would let one consumer's refreshes GC the other's
    * still-referenced snapshot early. The snapshot dir ends with the
    * cube directory's own basename so path-suffix assertions
    * ("…/cube_name") hold. */
  private def snapshotDir(scanPath: String,
      kind: String): Option[java.nio.file.Path] =
    try {
      val src = java.nio.file.Paths.get(scanPath.stripPrefix("file:"))
      if (!src.toFile.isDirectory) return None
      val files = Option(src.toFile.listFiles()).getOrElse(Array.empty)
      if (files.exists(_.isDirectory)) return None // partitioned: fall back
      val snapRoot = java.nio.file.Paths
        .get(scanPath.stripPrefix("file:") + ".snap").resolve(kind)
      // generation = max(monotone in-process counter, on-disk max + 1):
      // a RESTARTED process's counter restarts at 1, and colliding with
      // a previous process's s1 would fail the link and silently fall
      // back to the raw (publish-race-prone) plan
      val existingMax = Option(snapRoot.toFile.listFiles())
        .getOrElse(Array.empty)
        .flatMap(f => f.getName.stripPrefix("s").toLongOption)
        .foldLeft(0L)(math.max)
      val gen = math.max(snapGen.incrementAndGet(), existingMax + 1)
      snapGen.updateAndGet(g => math.max(g, gen))
      val dest = snapRoot.resolve(s"s$gen").resolve(src.getFileName)
      java.nio.file.Files.createDirectories(dest)
      files.filter(_.isFile).foreach { f =>
        java.nio.file.Files.createLink(dest.resolve(f.getName), f.toPath)
      }
      // GC superseded generations, deferred by one: newest two stay
      val gens = Option(snapRoot.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("s"))
        .flatMap(f => f.getName.drop(1).toLongOption.map(_ -> f))
        .sortBy(-_._1)
      gens.drop(2).foreach { case (_, f) => rmTree(f) }
      Some(dest)
    } catch {
      // the raw head the caller falls back to is the read a concurrent
      // publish can rename away: say so rather than degrade silently
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[cube] snapshot of $scanPath failed: $e")
        None
    }

  private def snapshotPlan(cube: Cube, scanPath: String): Option[LogicalPlan] =
    snapshotDir(scanPath, "route").map { d =>
      analysisCount.incrementAndGet() // telemetry counts ACTUAL analyses
      Bridge.analyzed(
        Tables.parquet(cube.aggregates.sparkSession, d.toString))
    }

  /** Publish-stable read of a flat parquet directory for the SERVICE
    * serve path ([[CubeService.loadCube]]): the returned frame scans a
    * hard-link snapshot the publish's renames cannot touch, so a serve
    * built before a concurrent fold executes against exactly the
    * version it was built on (plain read for layouts that cannot
    * snapshot). Own `kind` → own deferred-GC sequence. */
  private[cube] def stableRead(spark: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    snapshotDir(dir, "serve") match {
      case Some(d) => Tables.parquet(spark, d.toString)
      case None => Tables.parquet(spark, dir)
    }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** A routable JOIN MV ([[ChainCubeManager]], n ≥ 2 relations): the
    * materialized cube over R₀ ⋈ … ⋈ R_{n−1} (wrapped in a
    * [[Registration]] so its analysis is memoized the same way), the
    * relations' normalized source paths in chain order, and the edge
    * key column names. An Aggregate over exactly that inner equi-join
    * TREE (any associativity or side order — the matcher flattens)
    * routes to the cube. Duplicate relation paths refuse at
    * registration: with the same table on two chain slots, name-based
    * edge matching could not tell the slots apart. */
  final case class ChainRegistration(reg: Registration,
      paths: Seq[String], edges: Seq[(String, String)])

  private val cubes = TrieMap.empty[String, Registration]
  private val chainCubes = TrieMap.empty[String, ChainRegistration]

  def register(name: String, cube: Cube, sourcePath: String,
      approxDistinct: Boolean = false): Unit =
    cubes.put(name, Registration(cube, normalize(sourcePath), approxDistinct))
  /** A join MV registers as the two-relation chain it is. */
  def registerJoin(name: String, cc: ChainCube, leftPath: String,
      rightPath: String, approxDistinct: Boolean = false): Unit =
    registerChain(name, cc, Seq(leftPath, rightPath), approxDistinct)

  def registerChain(name: String, cc: ChainCube,
      paths: Seq[String], approxDistinct: Boolean = false): Unit = {
    // same refusal as ChainCubeManager.create: the rewrite binds columns
    // by first name match on the join output, so overlapping relation
    // names would silently bind to the wrong relation (a ChainCube
    // hand-built around the manager could otherwise smuggle them in)
    ChainCubeManager.validateRelations(cc.config,
      cc.states.map(_.columns.filterNot(_ == "_mult").toSeq))
    require(paths.size == cc.states.size,
      s"chain MV '$name' has ${cc.states.size} relations but " +
        s"${paths.size} source paths")
    val norm = paths.map(normalize)
    require(norm.distinct.size == norm.size,
      s"chain MV source paths must be distinct (name-based edge " +
        s"matching cannot tell duplicate relations apart): $norm")
    chainCubes.put(name, ChainRegistration(
      Registration(cc.cube, "", approxDistinct, stableScan = true),
      norm, cc.config.edges))
    ()
  }

  /** Join-MV twin of [[refresh]], invoked by the versioned-manifest
    * publish: routed plans must follow the manifest to the new version
    * dir (the one-version cleanup deferral keeps plans built BEFORE the
    * publish readable too). */
  private[cube] def refreshChain(cc: ChainCube): Unit =
    chainCubes.foreach { case (k, cr) =>
      // the edges too: a join MV and a chain MV may share a name
      if (cr.reg.cube.config.name == cc.cube.config.name &&
          cr.edges == cc.config.edges)
        chainCubes.put(k, ChainRegistration(
          // carry the serve opt-in across publishes — dropping it here
          // would silently de-route sketch serves after the first fold
          Registration(cc.cube, "", cr.reg.approxDistinct,
            stableScan = true),
          cr.paths, cr.edges))
    }

  /** Swap every registration of this cube (matched by config name) for
    * the freshly published version — [[CubeService.updateAggregates]]'s
    * publish renames the parquet files a registered cube's plan lists,
    * so a stale registration would route queries onto deleted files.
    * Re-registering also re-memoizes the analyzed plan and stats. */
  private[cube] def refresh(cube: Cube): Unit =
    cubes.foreach { case (k, reg) =>
      if (reg.cube.config.name == cube.config.name)
        cubes.put(k, Registration(cube, reg.sourcePath, reg.approxDistinct))
    }

  def unregister(name: String): Unit = {
    cubes.remove(name); chainCubes.remove(name)
    ()
  }
  def clear(): Unit = {
    cubes.clear(); chainCubes.clear()
  }
  def registered: Map[String, Registration] = cubes.toMap
  def chainRegistered: Map[String, ChainRegistration] = chainCubes.toMap

  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(CubeRewriteRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CubeRewriteRule
    }
  }

  /** Path normalization for registration matching and plan reporting.
    * A hard-link snapshot path (`<dir>/<name>.snap/s<gen>/<name>`)
    * collapses to the cube path it snapshots (`<dir>/<name>`): the
    * snapshot holds the same inodes, so "which cube does this scan
    * read" is answered by the logical cube path — plan assertions and
    * registration matching both see through the publish-stability
    * indirection. */
  private[cube] def normalize(p: String): String = {
    val base = p.stripPrefix("file:").replaceAll("/+$", "")
    base match {
      case SnapPath(prefix, name) if prefix.endsWith(s"/$name") => prefix
      case _ => base
    }
  }

  private val SnapPath = """(.*)\.snap/[a-z]+/s\d+/([^/]+)""".r

  private[cube] def sourcePathOf(plan: LogicalPlan): Option[String] =
    plan match {
      case SubqueryAlias(_, child) => sourcePathOf(child)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.headOption.map(p => normalize(p.toString))
      case _ => None
    }
}

/** The optimizer rule behind [[CubeCatalog]]. Besides plain and
  * grouping-set aggregates it routes the analytic families that
  * [[CubeAdvisor]] recognizes: each `tryRewrite<Family>` analyzes the
  * plan into the family's needs and serves from the cheapest
  * registration whose `build<Family>Serve` succeeds. A builder only
  * matches the registration against the needs and rebinds the served
  * frame's output by exprId. For cohort matrix, cohort value, top
  * spenders, funnel and time-to-convert the served frame comes from
  * the [[ServeKernels]] kernel that the [[CubeService]] verb runs too;
  * the retention family, rolling and value-bridge builders keep their
  * own routed algorithms. */
object CubeRewriteRule extends Rule[LogicalPlan] {

  /** Granularities a finer time bucket serves EXACTLY by
    * re-truncation — those whose bucket boundaries are always finer-
    * bucket boundaries: `date_trunc(g2, date_trunc(g, ts)) ==
    * date_trunc(g2, ts)` for every g2 listed. WEEK nests day-and-finer
    * but nothing nests week (ISO weeks cross month/quarter/year
    * boundaries — truncating a week start to its year can land in the
    * wrong year for the week's later days), so week serves nothing
    * coarser and is served only from day/hour/minute. */
  private[cube] def coarserThan(g: String): Seq[String] = g match {
    case "minute" => Seq("hour", "day", "week", "month", "quarter", "year")
    case "hour" => Seq("day", "week", "month", "quarter", "year")
    case "day" => Seq("week", "month", "quarter", "year")
    case "month" => Seq("quarter", "year")
    case "quarter" => Seq("year")
    case _ => Nil // week crosses coarser boundaries; year is the top
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // ROLLUP / CUBE / GROUPING SETS: the analyzer lowers them to
    // Aggregate(groupAttrs :+ grouping_id, _, Expand(...)) — routed by
    // swapping the Expand's input from source rows to cube cells (the
    // cube's cells ARE the finest grouping set; coarser sets are
    // re-aggregations of its partials, which is what the Aggregate
    // above the Expand already computes)
    case agg @ Aggregate(_, _, exp: Expand, _) =>
      tryRewriteGroupingSets(agg, exp).getOrElse(agg)
    // LEADERBOARD: Filter(rank ≤ k) over a Window(row_number) over the
    // per-(id, period) weighted aggregate — the one routed family whose
    // top node is not an Aggregate (the rank filter cannot sink below
    // the window, so the Filter is the replacement seam)
    case f @ Filter(_,
        _: org.apache.spark.sql.catalyst.plans.logical.Window) =>
      tryRewriteTopSpenders(f).getOrElse(f)
    case agg @ Aggregate(_, _, child, _) =>
      // the optimizer's PullOutGroupingExpressions moves complex
      // grouping expressions (e.g. date_trunc) into a Project below the
      // Aggregate — see through attribute/alias-only Projects and
      // substitute the aliases back for matching
      val (afterProj, env) = child match {
        case p: Project
            if p.projectList.forall(e =>
              e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
          (p.child, p.projectList.collect {
            case a: Alias => a.toAttribute.exprId -> a.child
          }.toMap)
        case other => (other, Map.empty[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])
      }
      def subst(e: Expression): Expression = e.transformUp {
        case a: AttributeReference if env.contains(a.exprId) => env(a.exprId)
      }
      // peel Filters between the aggregate and the relation, collecting
      // their conjuncts — tryRewrite serves them as cube-cell predicates
      // when every conjunct is dim-determined, and refuses otherwise
      def peel(p: LogicalPlan,
          acc: Seq[Expression]): (LogicalPlan, Seq[Expression]) = p match {
        case f: Filter => peel(f.child, acc ++ conjuncts(f.condition))
        case other => (other, acc)
      }
      val (base, pred) = peel(afterProj, Nil)
      CubeCatalog.sourcePathOf(base) match {
        case Some(path) =>
          // cost-based choice: several registered cubes can cover the
          // same query (groupings are a subset match) — serve from the
          // SMALLEST covering cube by file-stats size, the one whose
          // re-aggregation reads the least data
          val candidates = CubeCatalog.registered.values
            .filter(_.sourcePath == path)
            .flatMap(reg => tryRewrite(agg, reg, base, subst, pred))
          if (candidates.isEmpty)
            // the direct per-period money sum / observed-period spine
            // (the bridge's revenue and ps terms) group by a period
            // derivation the dim matcher can't see — try the
            // value-bridge vocabulary before giving up
            tryRewriteValueBridge(agg).getOrElse(agg)
          else candidates.minBy(_._2)._1
        case None =>
          // JOIN-MV routing: an Aggregate over the registered inner
          // equi-join tree routes to the join cube. The join's output is
          // the concatenation of every relation, so the same dim/measure
          // binding machinery (resolvePath against `base`) applies
          // unchanged; exactness requires the tree to be EXACTLY the
          // registered one ([[matchingChainRegs]]). Every collected
          // relation-filter conjunct must prove dim-determined in
          // tryRewrite (σ over one input commutes with an inner join, so
          // filtering the MV's dimension attribute is exact).
          base match {
            case j: Join =>
              val candidates = matchingChainRegs(j).flatMap {
                case (cr, sidePreds) =>
                  tryRewrite(agg, cr.reg, j, subst, pred ++ sidePreds)
              }
              if (candidates.isEmpty)
                // not a join MV shape — a LeftSemi join here is the
                // trailing-window (rolling) plan's hallmark, an Inner
                // self-join of distinct pairs the retention plan's: try
                // both routes before giving up
                tryRewriteRolling(agg)
                  .orElse(tryRewriteRetention(agg))
                  .orElse(tryRewriteCumulative(agg))
                  .orElse(tryRewriteFunnel(agg))
                  .orElse(tryRewriteResurrected(agg))
                  .orElse(tryRewriteCohortValue(agg))
                  .orElse(tryRewriteCohortMatrix(agg))
                  .orElse(tryRewriteValueBridge(agg))
                  .orElse(tryRewriteTimeToConvert(agg)).getOrElse(agg)
              else candidates.minBy(_._2)._1
            case _: Aggregate =>
              // an Aggregate OVER an Aggregate is the per-id cohort
              // histogram hallmark: first-seen ("new users per
              // period", GROUP BY id → min(period), re-counted) and
              // the fixed-window engagement histogram (GROUP BY id →
              // count(DISTINCT period), re-counted)
              tryRewriteFirstSeen(agg)
                .orElse(tryRewriteEngagement(agg))
                .orElse(tryRewriteValueBridge(agg)).getOrElse(agg)
            case _ => agg
          }
      }
  }

  /** Join-MV matching, shared by the plain-aggregate and grouping-set
    * paths: which registered join MVs cover this join TREE, with the
    * relation-filter conjuncts each match collects. The tree flattens —
    * inner equi-joins are associative and commutative, so any
    * parenthesization or side order of the same relations under the
    * same single-equality conditions computes the same multiset — and
    * matches a registration when the relation path MULTISET and the
    * unordered edge-name-pair multiset both coincide (column names are
    * pairwise disjoint across a join MV's relations, so name pairs
    * identify edges regardless of orientation or order). Each join
    * node must be Inner with exactly one equality conjunct, plus at
    * most `isnotnull` of its own two keys; each leaf is a registered
    * relation under attribute-only Projects, SubqueryAliases and
    * Filters (conjuncts collected as relation predicates, inferred
    * `isnotnull(<edge key>)`s dropped — implied by the inner
    * equi-joins themselves, null keys never match). Anything else — an
    * outer join, a theta conjunct, a computed projection — fails the
    * flatten and stays raw. */
  private def matchingChainRegs(j: Join)
      : Iterable[(CubeCatalog.ChainRegistration, Seq[Expression])] = {
    if (CubeCatalog.chainRegistered.isEmpty) return Nil
    def strip(p: LogicalPlan, acc: Vector[Expression])
        : (LogicalPlan, Vector[Expression]) = p match {
      case pr: Project
          if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        strip(pr.child, acc)
      case SubqueryAlias(_, c) => strip(c, acc)
      case f: Filter => strip(f.child, acc ++ conjuncts(f.condition))
      case other => (other, acc)
    }
    def flat(p: LogicalPlan): Option[(Vector[String],
        Vector[Set[String]], Vector[Expression])] = {
      val (s, preds) = strip(p, Vector.empty)
      s match {
        case Join(l, r, org.apache.spark.sql.catalyst.plans.Inner,
            Some(cond), _) =>
          val (notNulls, rest) =
            conjuncts(cond).partition(_.isInstanceOf[IsNotNull])
          val eq = rest match {
            case Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(
                a: AttributeReference, b: AttributeReference))
                if notNulls.forall {
                  case IsNotNull(x: AttributeReference) =>
                    x.exprId == a.exprId || x.exprId == b.exprId
                  case _ => false
                } =>
              Some(Set(a.name, b.name))
            case _ => None
          }
          for {
            e <- eq
            lf <- flat(l)
            rf <- flat(r)
          } yield (lf._1 ++ rf._1, (lf._2 ++ rf._2) :+ e,
            lf._3 ++ rf._3 ++ preds)
        case leaf =>
          CubeCatalog.sourcePathOf(leaf)
            .map(p0 => (Vector(p0), Vector.empty, preds))
      }
    }
    flat(j) match {
      case Some((paths, edges, preds)) if paths.size >= 2 =>
        CubeCatalog.chainRegistered.values.flatMap { cr =>
          val regEdges = cr.edges.map { case (a, b) => Set(a, b) }
          val same = paths.sorted == cr.paths.sorted &&
            edges.map(_.toSeq.sorted.mkString("≡")).sorted ==
              regEdges.map(_.toSeq.sorted.mkString("≡")).sorted
          if (!same) None
          else {
            val keyCols =
              cr.edges.flatMap { case (a, b) => Seq(a, b) }.toSet
            val kept = preds.filterNot {
              case IsNotNull(a: AttributeReference) =>
                keyCols.contains(a.name)
              case _ => false
            }
            Some((cr, kept))
          }
        }
      case _ => Nil
    }
  }

  /** The registrations a routed family's needs can be served from —
    * one lookup for every family matcher. A need over one relation (or
    * over a chain, whose path is then the order-canonical
    * [[CubeAdvisor.chainKey]]) takes the single-table cubes on that
    * path and the join MVs whose key it is; a need over a binary inner
    * equi-join takes the two-relation join MVs of exactly that join,
    * in either side order. */
  private def familyRegs(path: String,
      join: Option[(String, String, String, String)])
      : Seq[CubeCatalog.Registration] = join match {
    case None =>
      CubeCatalog.registered.values.filter(_.sourcePath == path).toSeq ++
        CubeCatalog.chainRegistered.values.collect {
          case cr if CubeAdvisor.chainKey(cr.paths, cr.edges) == path =>
            cr.reg
        }
    case Some((lp, rp, lk, rk)) =>
      CubeCatalog.chainRegistered.values.collect {
        case cr if (cr.paths, cr.edges) == (Seq(lp, rp), Seq(lk -> rk)) ||
            (cr.paths, cr.edges) == (Seq(rp, lp), Seq(rk -> lk)) => cr.reg
      }.toSeq
  }

  /** A routed family's serve from the cheapest registration that can
    * build one: several registered cubes can cover the same need, and
    * the smallest by file-stats size re-aggregates the least data. */
  private def cheapest(path: String,
      join: Option[(String, String, String, String)])(
      build: CubeCatalog.Registration => Option[LogicalPlan])
      : Option[LogicalPlan] = {
    val served = familyRegs(path, join).flatMap(reg =>
      build(reg).map((_, reg.cubeSize)))
    if (served.isEmpty) None else Some(served.minBy(_._2)._1)
  }

  /** The registration guards of every routed family builder
    * ([[Binding.routable]]'s discipline): the cube's own plan must be
    * a file scan, and not of the source path itself; and no declared
    * dimension id may start with `__`, the prefix of the serves'
    * synthesized column names (the hidden shard column is fine). */
  private def servable(reg: CubeCatalog.Registration, path: String): Boolean =
    reg.cubeScanPath.nonEmpty && !reg.origScanPath.contains(path) &&
      !reg.cube.config.dims.exists(_.id.startsWith("__"))

  private def dayDimOf(cfg: CubeConfig, tsCol: String): Option[String] =
    cfg.dims.collectFirst { case TimeDim(id, p, "day") if p == tsCol => id }

  private def fieldDimOf(cfg: CubeConfig, srcCol: String): Option[String] =
    cfg.dims.collectFirst { case FieldDim(id, p) if p == srcCol => id }

  /** A registration's live cells under a need's dim-value filters
    * ("retention of CLICK users"): filters restrict CELLS, which is
    * exact because cells partition by the dimension. None when a
    * filter column is not a field dimension of the cube. */
  private def liveCells(reg: CubeCatalog.Registration,
      filters: Seq[(String, Seq[Literal])] = Nil)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    val live = Bridge.ofRows(reg.cube.aggregates.sparkSession, reg.cubePlan)
      .filter(col(CubeManager.CountCol) > 0)
    filters.foldLeft(Option(live)) { case (frame, (srcCol, lits)) =>
      for {
        f <- frame
        dimId <- fieldDimOf(reg.cube.config, srcCol)
      } yield f.filter(col(dimId).isin(lits.map(l =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType)): _*))
    }
  }

  /** A routed serve frame, optimized NOW for splicing (re-entrant and
    * terminating: its scans read the cube path, which no registration
    * lists as a source), so the spliced subtree gets the main
    * optimizer batches — the user-provided batch this rule runs in is
    * the last one, and an analyzed-only subtree would keep its
    * ResolvedHint nodes. Its outputs rebind the replaced node's
    * outputs by exprId, so parent operators resolve unchanged. */
  private final class Served(frame: org.apache.spark.sql.DataFrame) {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val plan: LogicalPlan = frame.queryExecution.optimizedPlan
    private val byName: Map[String, Attribute] =
      plan.output.map(a => a.name -> a).toMap

    def attr(name: String): Option[Attribute] = byName.get(name)

    def bind(orig: NamedExpression, child: Expression): NamedExpression =
      Alias(child, orig.name)(exprId = orig.exprId)

    /** Exact rebind only: a type mismatch refuses rather than casts. */
    def exact(orig: NamedExpression, name: String): Option[NamedExpression] =
      attr(name).filter(_.dataType == orig.dataType).map(bind(orig, _))

    /** An integral key output (period, day, lag): the served long
      * casts to the original integral type exactly. */
    def key(orig: NamedExpression, name: String): Option[NamedExpression] =
      if (orig.dataType != LongType && orig.dataType != IntegerType) None
      else attr(name).map(a => bind(orig,
        if (a.dataType == orig.dataType) a else Cast(a, orig.dataType)))

    /** A money output: the raw sum's DECIMAL(p, 2), rebuilt EXACTLY
      * from a scaled-long sum (MakeDecimal; every stored weight is an
      * integral count of hundredths) or widened from a narrower exact
      * decimal, with the user's own outer cast reproduced. */
    def money(orig: NamedExpression, name: String): Option[NamedExpression] = {
      val (sumType, outerCast) = orig match {
        case al: Alias => al.child match {
          case Cast(inner, t, _, _) => (inner.dataType, Some(t))
          case other => (other.dataType, None)
        }
        case other => (other.dataType, None)
      }
      val dec: Option[Expression] = (sumType, attr(name)) match {
        case (dt: DecimalType, Some(v)) if dt.scale == 2 => v.dataType match {
          case LongType => Some(org.apache.spark.sql.catalyst.expressions
            .MakeDecimal(v, dt.precision, 2))
          case vd: DecimalType
              if vd.scale == 2 && vd.precision <= dt.precision =>
            Some(if (vd == dt) v else Cast(v, dt))
          case _ => None
        }
        case _ => None
      }
      dec.map(d => bind(orig, outerCast.fold(d)(Cast(d, _))))
    }

    /** The projection over the served plan, or None if any output
      * failed to rebind. */
    def project(outs: Seq[Option[NamedExpression]]): Option[LogicalPlan] =
      if (outs.forall(_.isDefined)) Some(Project(outs.flatten, plan))
      else None
  }

  /** The agg-shape-independent half of a routing attempt: binds one
    * registration against one source plan — dim/measure/sketch/extreme
    * resolution, the materialization + cost preconditions, predicate
    * rewriting, aggregate-leaf rewriting, liveness filtering, and
    * column pruning. [[tryRewrite]] (plain aggregates) and
    * [[tryRewriteGroupingSets]] (rollup/cube/grouping-sets, which
    * re-aggregate through an `Expand`) share it. */
  private final class Binding(
      val reg: CubeCatalog.Registration,
      source: LogicalPlan,
      subst: Expression => Expression) {
    val cube: Cube = reg.cube
    val cubePlan: LogicalPlan = reg.cubePlan
    val cubeOut: AttributeSet = cubePlan.outputSet

    def cubeAttr(name: String): Option[Attribute] =
      cubePlan.output.find(_.name == name)

    /** Materialization + cost preconditions.
      * - cube must be materialized: its own plan must be a file scan,
      *   and NOT over the source path (a cube misregistered with its
      *   aggregates still reading the source would be a re-aggregation,
      *   not an MV);
      * - cost-based refusal: once a cube's bytes reach the source's,
      *   the MV has no re-aggregation advantage left (a unique-key
      *   "cube" is the degenerate case — as many rows as the source,
      *   plus overhead). The floor keeps tiny cubes routing
      *   unconditionally: below it the re-aggregation is noise and file
      *   stats (footer overhead dominates small files) say nothing
      *   about the real row economics. */
    def routable: Boolean = {
      if (reg.cubeScanPath.isEmpty) return false
      // misregistration guard on the PRE-SNAPSHOT path: a "cube" whose
      // plan scans the source itself must refuse (the snapshot path
      // would never compare equal and would bypass this)
      if (reg.origScanPath == CubeCatalog.sourcePathOf(source)) return false
      val floor = BigInt(org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.cube.routingCostFloorBytes",
          (1L << 20).toString).toLong)
      !(reg.cubeSize >= floor && reg.cubeSize >= source.stats.sizeInBytes)
    }

    // bind each dimension's defining expression against the source
    // relation's attributes, for canonical comparison with the query.
    // A TimeDim additionally binds every COARSER granularity its
    // bucket nests exactly: date_trunc(coarser, date_trunc(finer, ts))
    // == date_trunc(coarser, ts) whenever coarser boundaries are finer
    // boundaries, so a month/quarter/year grouping over a day-dimmed
    // cube is served by RE-TRUNCATING the cube's day attribute — the
    // classic time-hierarchy roll-up (the dashboard's month view from
    // the day-grained MV) with no extra materialization. The rewrite
    // target is then an EXPRESSION over the cube attribute, not the
    // attribute itself.
    private def bindDim(d: Dimension): Seq[(Expression, Expression)] = {
      def truncOf(g: String, arg: Expression): Expression =
        org.apache.spark.sql.catalyst.expressions.TruncTimestamp(
          Literal(g), arg, Some("UTC"))
      d match {
        // arbitrary-SQL dims are not canonically matchable — such cubes
        // simply never route (explicit CubeManager.query still works)
        case ExprDim(_, _) => Nil
        case FieldDim(_, p) =>
          (for {
            b <- resolvePath(source, p)
            a <- cubeAttr(d.id)
          } yield (b, a: Expression)).toSeq
        case TimeDim(_, p, g) =>
          (for {
            raw <- resolvePath(source, p)
            a <- cubeAttr(d.id)
          } yield {
            // the analyzer casts non-TIMESTAMP inputs (NTZ, DATE)
            // before TruncTimestamp — mirror it or the canonical
            // compare misses
            val arg =
              if (raw.dataType == org.apache.spark.sql.types.TimestampType)
                raw
              else Cast(raw, org.apache.spark.sql.types.TimestampType,
                Some("UTC"))
            ((truncOf(g, arg), a: Expression)) +:
              CubeRewriteRule.coarserThan(g).map(g2 =>
                (truncOf(g2, arg), truncOf(g2, a): Expression))
          }).getOrElse(Nil)
      }
    }
    // PARTIAL binding is fine: a dim that doesn't bind (ExprDim — not
    // canonically matchable — or its column pruned out of the child,
    // which happens under a join when the query never references it)
    // just can't be GROUPED ON; roll-ups that don't reference it
    // re-aggregate across its cells, which is exact regardless of how
    // the dim was defined. Groupings must still all match bound dims.
    // Exact bindings precede coarser re-truncations per dim, so a cube
    // carrying BOTH a day and a month dim serves a month query from
    // the month attribute directly.
    val dimBindings: Seq[(Expression, Expression)] =
      cube.config.dims.flatMap(bindDim)

    def matchDim(e: Expression): Option[Expression] =
      dimBindings.find(_._1.canonicalized == subst(e).canonicalized).map(_._2)

    /** Filter conjuncts: each must become a deterministic predicate
      * over cube dimension attributes alone. A dim-valued predicate
      * selects whole cube cells, so σ(source rows) then aggregate ==
      * σ(cube cells) then re-aggregate — exact. Anything referencing a
      * non-dim column (measure, raw timestamp under a bucketed dim)
      * refuses; a nondeterministic conjunct (rand()) samples ROWS,
      * which no cell-level filter can reproduce — refuse outright. */
    def rewritePreds(pred: Seq[Expression]): Option[Seq[Expression]] = {
      if (pred.exists(!_.deterministic)) return None
      val predRewritten: Seq[Expression] = pred.map(_.transformUp {
        case e if matchDim(e).isDefined => matchDim(e).get
      })
      if (predRewritten.exists(_.references.exists(!cubeOut.contains(_))))
        None
      else Some(predRewritten)
    }

    // HLL sketch measure maintained on the same source column, for
    // approx-distinct routing
    private def sketchFor(e: Expression): Option[Attribute] =
      cube.config.sketches
        .find(m => resolvePath(source, m.path).exists(
          _.canonicalized == subst(e).canonicalized))
        .flatMap(m => cubeAttr(m.id))

    // KLL quantile measure maintained on the same source column, for
    // approx-percentile routing. The cube builds its partials from
    // `CAST(path AS DOUBLE)` (Cube.scala), so a query child that is
    // either the double column itself or that same cast matches.
    private def quantileFor(e: Expression): Option[Attribute] = {
      val base = subst(e) match {
        case Cast(inner, org.apache.spark.sql.types.DoubleType, _, _) => inner
        case other => other
      }
      cube.config.quantiles
        .find(m => resolvePath(source, m.path).exists(
          _.canonicalized == base.canonicalized))
        .flatMap(m => cubeAttr(m.id))
    }

    // exact-distinct bitmap partial maintained on the same source
    // column — plain (the cube builds from `CAST(path AS BIGINT)`, so
    // the query child may be the column itself or that cast) or
    // dictionary-encoded (non-integral keys; the child is the raw
    // column, the partials carry dense dict ids — cardinalities are
    // the same exact distinct counts). EXACT and lossless under union
    // — but insert-only once a sourceless delete latched the cube.
    private def bitmapFor(e: Expression): Option[Attribute] = {
      if (cube.hasDeletes) return None
      val base = subst(e) match {
        case Cast(inner, org.apache.spark.sql.types.LongType, _, _) => inner
        case other => other
      }
      cube.config.allBitmaps
        .find(m => resolvePath(source, m.path).exists(
          _.canonicalized == base.canonicalized))
        .flatMap(m => cubeAttr(m.id))
    }

    // min/max partial maintained on the same source column. EXACT (min
    // of mins == min over rows, same type — no estimate, no float
    // re-association), but insert-only: a delete-latched cube refuses
    // (its stored extremes describe ever-inserted values).
    private def extremeFor(e: Expression, suffix: String): Option[Attribute] =
      if (cube.hasDeletes) None
      else cube.config.extremes
        .find(m => resolvePath(source, m.path).exists(
          _.canonicalized == subst(e).canonicalized))
        .flatMap(m => cubeAttr(s"${m.id}$suffix"))

    private def measureFor(e: Expression): Option[Attribute] = subst(e) match {
      // sum(CAST(measure AS DECIMAL(18,2))); the measure itself may be
      // an attribute or a nested GetStructField chain
      case Cast(inner, _: DecimalType, _, _) => measureFor(inner)
      case other =>
        cube.config.measures
          .find(m => resolvePath(source, m.path).exists(
            _.canonicalized == other.canonicalized))
          .flatMap(m => cubeAttr(m.id))
    }

    lazy val countAttrOpt: Option[Attribute] = cubeAttr(CubeManager.CountCol)

    // approx-distinct serving: opted in per registration or globally —
    // and NEVER from a delete-processed cube, whose sketch partials
    // describe ever-inserted values (the persisted hasDeletes latch,
    // set by CubeManager.applyDeltas, makes the insert-only contract
    // enforced rather than documentation-only)
    private val approxDistinctRoutingOn = (reg.approxDistinct ||
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.cube.approxDistinctRouting", "false")
        .equalsIgnoreCase("true")) && !cube.hasDeletes

    /** Rewrite each output expression IN PLACE: supported aggregate
      * leaves are swapped for their cube-partial equivalents (same
      * result types, so surrounding arithmetic — e.g. the engine's avg
      * idiom sum(dec)/count — keeps working); grouping expressions are
      * swapped for cube dimension attributes; attributes in
      * `passthrough` (the grouping-set path's Expand-produced grouping
      * attrs and grouping id, which the routed plan preserves verbatim)
      * stay untouched. None if anything unrecognized remains. */
    def rewriteNamed(exprs: Seq[NamedExpression],
        passthrough: AttributeSet = AttributeSet.empty): Option[Seq[NamedExpression]] = {
      val countAttr = countAttrOpt.getOrElse(return None)
      var ok = true
      def rewriteExpr(e: Expression): Expression = e.transformUp {
      case ae @ AggregateExpression(Sum(inner, _), Complete, false, _, _) =>
        inner match {
          case Cast(v, _: DecimalType, _, _) =>
            measureFor(v) match {
              case Some(m) => ae.copy(aggregateFunction = Sum(m))
              case None => ok = false; ae
            }
          case _ => ok = false; ae
        }
      // count(<non-null literal>) only: count(NULL) is always 0 and must
      // NOT become sum(_count); it falls through to the bail-out case
      case ae @ AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, _, _)
          if v != null =>
        // coalesce: for a global (no group-by) aggregate over an empty
        // cube, sum(_count) is NULL where count(1) is 0
        org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
          ae.copy(aggregateFunction = Sum(countAttr)),
          Literal(0L)))
      // approx_count_distinct(x) → estimate(union of the cube's per-cell
      // HLL partials) when a sketch measure was maintained on x. OPT-IN
      // (spark.graft.cube.approxDistinctRouting=true): both sides are
      // approximate, but the ESTIMATORS differ (HLL++ vs datasketches
      // HLL), so the estimate can shift within error bounds — the rule's
      // default stays answer-preserving, and opting in trades that shift
      // for cube-sized cost (the only way a distinct-count query can
      // avoid re-scanning the source: distinct doesn't add across cells,
      // sketches do union).
      case ae @ AggregateExpression(HyperLogLogPlusPlus(child, rsd, _, _), Complete, false, _, _)
          if approxDistinctRoutingOn =>
        sketchFor(child) match {
          // refuse when the caller asked for tighter error than the
          // maintained sketch delivers (CubeManager.SketchLgK — the same
          // constant the sketches are BUILT with, ~1.6% at lgK=12) —
          // serving a high-precision request at cube precision would be
          // silent
          case Some(sk) if rsd >= CubeManager.sketchError =>
            // coalesce: union over zero rows (empty/tombstoned cube)
            // yields a NULL sketch where HLL++ returns 0 — the same
            // guard the count(1) case carries
            org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
              HllSketchEstimate(
                ae.copy(aggregateFunction = HllUnionAgg(sk, Literal(false)))),
              Literal(0L)))
          case _ => ok = false; ae
        }
      // percentile_approx(x, p, acc) → kll_quantile(merge(per-cell KLL
      // partials), p) when the cube maintains a quantile measure on x.
      // Same opt-in + delete-latch discipline as approx-distinct: both
      // sides are approximate but the ESTIMATORS differ (GK digest vs
      // KLL), so routing is never silent. Honesty gate on the accuracy
      // knob: percentile_approx contracts rank error ≤ 1/accuracy,
      // the maintained k=200 sketch delivers ~1.65% — a request for a
      // tighter bound than the sketch holds refuses (acc ≲ 60 routes).
      // Scalar foldable percentile only: the array form changes the
      // result type, and a non-foldable rank can't become a literal.
      case ae @ AggregateExpression(
          ap: ApproximatePercentile, Complete, false, _, _)
          if approxDistinctRoutingOn =>
        val accOk = ap.accuracyExpression.foldable && {
          val a = ap.accuracyExpression.eval()
          a != null &&
            1.0 / a.asInstanceOf[Number].longValue() >=
              graft.functions.Kll.rankError()
        }
        val pOk = ap.percentageExpression.foldable &&
          ap.percentageExpression.dataType ==
            org.apache.spark.sql.types.DoubleType &&
          ap.percentageExpression.eval() != null
        quantileFor(ap.child) match {
          case Some(sk) if accOk && pOk =>
            graft.functions.KllQuantileExpr(
              ae.copy(aggregateFunction = graft.functions.KllDoublesAgg(
                sk, graft.functions.Kll.K, isMerge = true)),
              Literal(ap.percentageExpression.eval()
                .asInstanceOf[Double]))
          case _ => ok = false; ae
        }
      // count(DISTINCT x) → bitmap_cardinality(union of per-cell bitmap
      // partials) when a bitmap measure was maintained on x. EXACT:
      // bitmap union is lossless, so unlike the sketch families this
      // routing is ANSWER-PRESERVING (routed == direct, hash-equal) and
      // needs no estimator opt-in — the registration itself is the
      // consent, and only the sourceless-delete latch refuses
      // (bitmapFor returns None then). This is the query family the MV
      // exists for: exact distinct doesn't re-aggregate, so without the
      // bitmap partials every run re-shuffles the SOURCE's distinct
      // pairs; with them the run merges |cube| fixed-size maps.
      case ae @ AggregateExpression(Count(Seq(child)), Complete, true, _, _) =>
        bitmapFor(child) match {
          case Some(bm) =>
            // coalesce: union over zero rows (empty/tombstoned cube)
            // yields NULL where count(DISTINCT) is 0
            org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
              graft.functions.BitmapCardinality(
                ae.copy(
                  aggregateFunction =
                    graft.functions.BitmapAgg(bm, isMerge = true),
                  isDistinct = false)),
              Literal(0L)))
          case None => ok = false; ae
        }
      case ae @ AggregateExpression(Min(inner), Complete, false, _, _) =>
        extremeFor(inner, "_min") match {
          case Some(m) => ae.copy(aggregateFunction = Min(m))
          case None => ok = false; ae
        }
      case ae @ AggregateExpression(Max(inner), Complete, false, _, _) =>
        extremeFor(inner, "_max") match {
          case Some(m) => ae.copy(aggregateFunction = Max(m))
          case None => ok = false; ae
        }
      case ae: AggregateExpression => ok = false; ae
      case other if matchDim(other).isDefined => matchDim(other).get
      }
      val rewritten: Seq[NamedExpression] = exprs.map {
        case al @ Alias(child, name) => Alias(rewriteExpr(child), name)(al.exprId)
        case a: Attribute if passthrough.contains(a) => a
        case a: Attribute =>
          val r = rewriteExpr(a)
          if (r.fastEquals(a)) { ok = false; a } else Alias(r, a.name)(a.exprId)
        case other => ok = false; other.asInstanceOf[NamedExpression]
      }
      if (ok) Some(rewritten) else None
    }

    /** Serve only live groups: after signed-delta maintenance the cube
      * state may carry zero/negative-count tombstones (see CubeManager
      * .applyDeltas) that a from-scratch aggregate would not show —
      * then the rewritten dim-predicate conjuncts. */
    def servedFilter(predRewritten: Seq[Expression]): Expression =
      (org.apache.spark.sql.catalyst.expressions.GreaterThan(
          countAttrOpt.get, Literal(0L)) +: predRewritten)
        .reduceLeft[Expression](And(_, _))

    /** Explicit column pruning: the rule runs AFTER the optimizer's
      * ColumnPruning pass (experimental rules append to the end), so
      * without a Project the rewritten scan reads EVERY cube column — a
      * wide cube (many measures/sketches) would pay IO for partials the
      * query never references. FileSourceStrategy prunes the physical
      * scan from the Project/Filter stack it finds above the relation. */
    def prunedCubeUnder(needed: AttributeSet): LogicalPlan =
      if (cubePlan.output.forall(needed.contains)) cubePlan
      else Project(cubePlan.output.filter(needed.contains), cubePlan)
  }

  /** Returns the rewritten plan plus the cube's scan size in bytes (the
    * cost key for choosing among multiple covering cubes). `pred` are
    * filter conjuncts peeled from between the aggregate and the source;
    * each must rewrite to a deterministic predicate over cube dimension
    * attributes or the rewrite refuses. */
  /** ROLLING (trailing-window) routing — the raw plan shape users
    * actually write for a WAU/rolling-sum dashboard (collapse to daily
    * rows, `explode(sequence(d, d+len-1))`, semi-join to observed days,
    * re-aggregate per endpoint) rewritten to the daily-partial merge
    * [[CubeService.getRolling]] performs, when a registered day-dimmed
    * cube covers every aggregate leaf. Recognition is
    * [[CubeAdvisor.analyzeRolling]] — the advisor's vocabulary and the
    * rewrite's are THE SAME matcher, so anything the advisor would
    * recommend a rolling cube for routes once that cube is registered.
    *
    * Exactness discipline, per leaf family:
    * - exact families route unconditionally: `count(DISTINCT integral)`
    *   (bitmap partials — lossless union, served count EQUALS the raw
    *   re-count), `sum(CAST(x AS DECIMAL(18,2)))` (daily decimal sums
    *   re-add exactly; the serve's endpoint sum carries the same
    *   decimal(28,2) type as the raw plan), and min/max (min of daily
    *   mins == min over rows, same type);
    * - estimator-changing families (`count(DISTINCT non-integral)` →
    *   HLL, `percentile_approx` → KLL) need the SAME opt-in as the
    *   plain-aggregate path: per-registration `approxDistinct` or the
    *   global conf — the served value is an estimate where the raw
    *   plan's was exact/a different estimator;
    * - a delete-latched cube serves only rolling sums (every other
    *   family's partials are insert-only — same refusal as
    *   getRolling's).
    *
    * The served day key (datediff from epoch over the cube's calendar
    * day cell) equals the workload's epoch-day arithmetic in a UTC
    * session — the equivalence [[CubeAdvisor]]'s honesty pin already
    * grades; the rewrite additionally requires the original day output
    * to be integral so the rebind cast is exact. No cost floor: the
    * raw plan scans the source TWICE (window side + observed-day side)
    * and explodes ×windowDays, so any materialized cube worth
    * registering wins. Output attribute ids are preserved via a final
    * Project, so parent operators (orderBy, limit) resolve unchanged. */
  private def tryRewriteRolling(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeRolling(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    // a trailing-window plan over an INNER EQUI-JOIN routes to a
    // registered join MV the same way (its cube is a Registration with
    // the same partial columns) — the join must be exactly the
    // registered one, in either side order
    cheapest(needs.path, needs.join)(buildRollingServe(agg, needs, _))
  }

  private def buildRollingServe(
      agg: Aggregate,
      needs: CubeAdvisor.RollingNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    import CubeAdvisor.RollOut
    val cube = reg.cube
    val cfg = cube.config
    // shard rows are fine: the daily collapse unions across them like
    // any subdividing cell
    if (!servable(reg, needs.path)) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    // segments: plain field dims on exactly the segment source columns
    val segIds: Seq[String] =
      needs.segments.map(fieldDimOf(cfg, _).getOrElse(return None))
    val segIdOf: Map[String, String] = needs.segments.zip(segIds).toMap
    val leaves: Seq[(RollOut.Leaf, Int)] = needs.outs.zipWithIndex.collect {
      case (l: RollOut.Leaf, i) => (l, i) }
    // bind each leaf to the cube measure maintained on its source
    // column. A non-integral count-distinct ("distinct") binds a
    // DICTIONARY bitmap first when one is maintained — exact, served
    // identically to the plain bitmap family — and only falls back to
    // the estimator-changing HLL sketch otherwise; the returned family
    // is the EFFECTIVE one the serve uses.
    def idFor(l: RollOut.Leaf): Option[(String, String)] = l.family match {
      case "xdistinct" =>
        cfg.allBitmaps.find(_.path == l.srcCol).map(m => ("xdistinct", m.id))
      case "distinct" =>
        cfg.dictBitmaps.find(_.path == l.srcCol)
          .map(m => ("xdistinct", m.id))
          .orElse(cfg.sketches.find(_.path == l.srcCol)
            .map(m => ("distinct", m.id)))
      case "quantile" =>
        cfg.quantiles.find(_.path == l.srcCol).map(m => ("quantile", m.id))
      case "min" =>
        cfg.extremes.find(_.path == l.srcCol).map(m => ("min", m.id))
      case "max" =>
        cfg.extremes.find(_.path == l.srcCol).map(m => ("max", m.id))
      case "sum" =>
        cfg.measures.find(_.path == l.srcCol).map(m => ("sum", m.id))
      case _ => None
    }
    val bound: Seq[(RollOut.Leaf, Int, String, String)] =
      leaves.map { case (l, i) =>
        val (fam, id) = idFor(l).getOrElse(return None)
        (l, i, fam, id)
      }
    // estimator-changing EFFECTIVE families stay behind the opt-in
    val approxOn = reg.approxDistinct ||
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.cube.approxDistinctRouting", "false")
        .equalsIgnoreCase("true")
    if (!approxOn && bound.exists { case (_, _, fam, _) =>
        fam == "distinct" || fam == "quantile" }) return None
    // only the invertible decimal sums survive a delete latch
    if (cube.hasDeletes && bound.exists(_._3 != "sum")) return None
    // daily partial columns, deduped by output name — a name collision
    // from two DIFFERENT (family, measure) pairs would alias two
    // distinct aggregates to one column: refuse
    val dailyDefs: Seq[(String, (String, String))] = bound.flatMap {
      case (_, _, fam, id) => fam match {
        case "min" => Seq(s"${id}_min" -> (("min", id)))
        case "max" => Seq(s"${id}_max" -> (("max", id)))
        case f => Seq(id -> ((f, id)))
      }
    }
    val byName = dailyDefs.groupBy(_._1)
    if (byName.exists(_._2.map(_._2).distinct.size > 1)) return None
    val dailyAggs: Seq[org.apache.spark.sql.Column] =
      byName.toSeq.sortBy(_._1).map { case (name, defs) =>
        defs.head._2 match {
          case ("xdistinct", id) =>
            graft.functions.Bitmap.unionAgg(col(id)).as(name)
          case ("distinct", id) => hll_union_agg(col(id)).as(name)
          case ("quantile", id) =>
            graft.functions.Kll.mergeAgg(col(id)).as(name)
          case ("min", id) => min(col(s"${id}_min")).as(name)
          case ("max", id) => max(col(s"${id}_max")).as(name)
          case ("sum", id) =>
            sum(col(id)).cast(DecimalType(18, 2)).as(name)
          case _ => return None
        }
      }
    // dim-value filters ("WAU of click events") restrict cells before
    // the daily collapse: one filter serves both the partials AND the
    // observed-day endpoints, matching the raw plan's filtered
    // semi-join side
    val filteredFrame = liveCells(reg, needs.filters).getOrElse(return None)
    // calendar-day index via datediff (TZ-consistent — the same
    // derivation getRolling uses; equals the workload's epoch-day
    // arithmetic in a UTC session)
    val dayKey = datediff(col(dayDim).cast("date"), lit("1970-01-01"))
      .cast("long").as("__gd")
    val segCols = segIds.map(col)
    val daily = filteredFrame
      .groupBy((segCols :+ dayKey): _*)
      .agg(dailyAggs.head, dailyAggs.tail: _*)
    // endpoints are the (per-segment) OBSERVED days — the same
    // semi-join convention the raw plan carries
    val days = daily.select((segCols :+ col("__gd").as("__day")): _*)
      .distinct()
    val exploded = daily
      .withColumn("__day",
        explode(expr(s"sequence(__gd, __gd + ${needs.windowDays - 1})")))
      .drop("__gd")
      .join(broadcast(days), segIds :+ "__day", "left_semi")
    val endAggs: Seq[org.apache.spark.sql.Column] = bound.map {
      case (l, i, fam, id) =>
        (fam match {
          case "xdistinct" => graft.functions.Bitmap.cardinality(
            graft.functions.Bitmap.unionAgg(col(id)))
          case "distinct" => hll_sketch_estimate(hll_union_agg(col(id)))
          case "quantile" => graft.functions.Kll.quantile(
            graft.functions.Kll.mergeAgg(col(id)), l.pct)
          case "min" => min(col(s"${id}_min"))
          case "max" => max(col(s"${id}_max"))
          case "sum" => sum(col(id))
          case _ => return None
        }).as(s"__out_$i")
    }
    val served = exploded
      .groupBy((segCols :+ col("__day")): _*)
      .agg(endAggs.head, endAggs.tail: _*)
    val out = new Served(served)
    out.project(agg.aggregateExpressions.zip(needs.outs).zipWithIndex.map {
      case ((orig, RollOut.Day), _) => out.key(orig, "__day")
      case ((orig, RollOut.Seg(srcCol)), _) =>
        out.exact(orig, segIdOf(srcCol))
      case ((orig, l: RollOut.Leaf), i) =>
        // the workload's OWN output cast (sum(dec).cast(double) etc.),
        // reproduced on the served value: the pre-cast values are
        // equal. Otherwise a type mismatch (percentile over an int
        // column vs the KLL double) refuses
        if (l.outerCast)
          out.attr(s"__out_$i").map(a => out.bind(orig, Cast(a, orig.dataType)))
        else out.exact(orig, s"__out_$i")
      case _ => None
    })
  }

  /** RETENTION routing — the distinct-pair self-join cohort plan
    * ("how many of period p−1's ids came back in p", recognized by
    * [[CubeAdvisor.analyzeRetention]] — again the advisor's own
    * matcher) rewritten to an AND-walk over per-period bitmap unions
    * of a registered day-dimmed cube. Exactness: bitmap union is
    * lossless, so each period's bitmap IS its id set and
    * |p ∩ p−1| equals the self-join's distinct count; the raw plan
    * emits rows only for periods with ≥1 retained id AND an observed
    * p−1 (an empty inner join produces no group), which the serve
    * reproduces with the inner prev-period pairing plus a ≥1 filter.
    * Insert-only discipline: a delete-latched cube refuses. At scale
    * the raw plan re-shuffles the source's distinct pairs twice per
    * refresh; the serve is |periods| one-row bitmap merges. The
    * ANTI-JOIN cohort forms route through the same matcher: churned
    * (ids of p absent from p+1) and new users (absent from p−1) as
    * ANDNOT walks — see the kind branch in [[buildRetentionServe]]. */
  private def tryRewriteRetention(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeRetention(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    cohortServe(agg, needs)
  }

  /** The serve for the retention-family matchers — a cohort plan
    * whose pair set is built over an INNER EQUI-JOIN routes to a
    * registered JOIN MV exactly like the rolling family (the MV's cube
    * is a Registration with the same partial columns; the join must be
    * exactly the registered one, in either side order). */
  private def cohortServe(agg: Aggregate,
      needs: CubeAdvisor.RetentionNeeds): Option[LogicalPlan] =
    cheapest(needs.path, needs.join)(buildRetentionServe(agg, needs, _))

  /** CUMULATIVE-distinct routing — the raw "lifetime uniques by day"
    * plan (distinct pairs ⋈ observed days on `d ≤ day`, recognized by
    * [[CubeAdvisor.analyzeCumulative]]) rewritten to a PREFIX-union
    * over per-period bitmap unions of the same registered day-dimmed
    * cube. The raw form is QUADRATIC in |periods| (every day re-joins
    * all prior pairs — a BroadcastNestedLoop at the source); the serve
    * is one incremental window pass over the |periods| frame. Exact:
    * the prefix-OR's cardinality at p IS |ids with first-seen ≤ p|,
    * and the inclusive inequality guarantees every observed day emits
    * a group (the same-day pairs always match), which the serve's
    * all-periods output reproduces. Shares [[buildRetentionServe]]'s
    * kind dispatch. */
  private def tryRewriteCumulative(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeCumulative(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    cohortServe(agg, needs)
  }

  /** FIRST-SEEN routing — the raw "new users per period" plan
    * (GROUP BY id → min(period), re-counted per first period — the
    * growth chart's defining query, recognized by
    * [[CubeAdvisor.analyzeFirstSeen]]) rewritten to the ANDNOT-walk
    * against the strict prefix union of per-period bitmap partials:
    * an id is first seen at p exactly when it is in B_p and no
    * earlier bitmap, so new_p = |B_p \ prefixOR(B_{<p})| — the
    * [[CubeService.getGrowthAccounting]] `new_ids` column served
    * straight from the registered day-dimmed cube. The raw form
    * re-shuffles the source's (id, period) pairs TWICE per refresh
    * (the per-id min, then the per-period recount); the serve is one
    * incremental window pass over the |periods| frame. Row set: the
    * raw plan emits only periods that are some id's first — the
    * serve's ≥ 1 filter over observed periods reproduces it. Shares
    * [[buildRetentionServe]]'s kind dispatch. */
  private def tryRewriteFirstSeen(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeFirstSeen(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    cohortServe(agg, needs)
  }

  /** ENGAGEMENT-HISTOGRAM routing — the raw fixed-window L7/L28 plan
    * (per-id count(DISTINCT period) under inclusive epoch-day bounds,
    * re-counted per activity level, recognized by
    * [[CubeAdvisor.analyzeEngagement]]) rewritten to ONE k-count
    * partition ([[graft.functions.Bitmap.kCountAgg]]) over the
    * window's per-period bitmap unions: an id's bucket is the number
    * of period bitmaps containing it, which IS its distinct
    * active-period count. The raw form shuffles every (id, period)
    * pair in the window twice; the serve reads ≤ 366 cube-derived
    * one-row bitmaps and a single merge-walk partitions ALL ids at
    * once. Row set: buckets with ≥ 1 id, like the raw group-by. */
  private def tryRewriteEngagement(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeEngagement(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    cohortServe(agg, needs)
  }

  /** RESURRECTED routing — growth accounting's fourth cell as users
    * write it raw (pairs ANTI-joined on p−1 with an earlier-activity
    * witness: a `q < p` semi-join or a min-period inner join,
    * recognized by [[CubeAdvisor.analyzeResurrected]]) rewritten to
    * |(B_p ∖ B_{p−1}) ∩ prefixOR(B_{<p})| over per-period bitmap
    * unions of the registered day-dimmed cube — the
    * [[CubeService.getGrowthAccounting]] `resurrected` column. The
    * raw form pays THREE shuffles of the source's (id, period) pairs
    * per refresh (the two witness joins plus the recount) and the
    * `q < p` witness is quadratic in |periods| at the source; the
    * serve is one incremental window pass plus one adjacent-period
    * pairing over the |periods| frame. Shares
    * [[buildRetentionServe]]'s kind dispatch. */
  private def tryRewriteResurrected(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeResurrected(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    cohortServe(agg, needs)
  }

  private def buildRetentionServe(
      agg: Aggregate,
      needs: CubeAdvisor.RetentionNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    import CubeAdvisor.RollOut
    val cfg = reg.cube.config
    if (!servable(reg, needs.path)) return None
    // bitmap partials of a latched cube describe ever-inserted ids
    if (reg.cube.hasDeletes) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    val segIds: Seq[String] =
      needs.segments.map(fieldDimOf(cfg, _).getOrElse(return None))
    val segIdOf: Map[String, String] = needs.segments.zip(segIds).toMap
    // the counted id needs a bitmap measure (plain integral or
    // dictionary-encoded — both exact)
    val bmId = cfg.allBitmaps.find(_.path == needs.idCol)
      .map(_.id).getOrElse(return None)
    // the filtered cells' union IS the filtered source's id set
    val filteredFrame = liveCells(reg, needs.filters).getOrElse(return None)
    val segCols = segIds.map(col)
    // day-multiple buckets and calendar ordinals (the user's exact
    // values, additive constant included) are both EXACT collapses of
    // the cube's day-granular cells
    val periodKey = ServeKernels.periodKey(col(dayDim), needs.periodDays,
      needs.calendar).as("__p")
    // one bitmap per (segment, period) — shard rows, if any, union in
    val per = filteredFrame
      .groupBy((segCols :+ periodKey): _*)
      .agg(graft.functions.Bitmap.unionAgg(col(bmId)).as("__bm"))
    val B = graft.functions.Bitmap
    val emptyBm = ServeKernels.emptyBlob
    val served = needs.kind match {
      case "cumulative" =>
        // lifetime uniques: prefix-OR over the period bitmaps — the
        // incremental unbounded-preceding frame adds one row at a
        // time, O(|periods|) merges over a cube-derived tiny frame
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(segCols: _*)
          .orderBy(col("__p"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        per.select((segCols ++ Seq(col("__p"),
          B.cardinality(B.unionAgg(col("__bm")).over(w))
            .as("__ret"))): _*)
      case "retained" =>
        // inner pairing with the PRECEDING period + ≥1 filter — the
        // raw inner self-join emits a group only for periods with an
        // observed p−1 and at least one retained id
        val prev = per.select((segCols ++ Seq(
          (col("__p") + 1).as("__p"), col("__bm").as("__pbm"))): _*)
        per.join(prev, segIds :+ "__p")
          .select((segCols ++ Seq(col("__p"),
            B.andCardinality(col("__bm"), col("__pbm")).as("__ret"))): _*)
          .filter(col("__ret") >= 1)
      case "first_seen" =>
        // new ids per period: ANDNOT against the STRICT prefix union
        // (ids seen in any earlier period) — the getGrowthAccounting
        // new_ids cell; the ≥1 filter reproduces the raw plan's row
        // set (a period appears exactly when it is some id's first)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(segCols: _*)
          .orderBy(col("__p"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            -1)
        per.select((segCols ++ Seq(col("__p"),
          B.andNotCardinality(col("__bm"),
            coalesce(B.unionAgg(col("__bm")).over(w), emptyBm))
            .as("__ret"))): _*)
          .filter(col("__ret") >= 1)
      case "engagement" =>
        // fixed-window activity histogram: restrict cells to the
        // window's days, union per period, then ONE k-count partition
        // over the ≤366-row frame — bucket k holds the ids in exactly
        // k of the window's period bitmaps, i.e. the raw plan's
        // count(DISTINCT period) groups; the ≥1 filter drops empty
        // buckets like the raw group-by does
        val (wLo, wHi) = needs.window.getOrElse(return None)
        val dayNum = datediff(col(dayDim).cast("date"),
          lit("1970-01-01")).cast("long")
        val maxK = (Math.floorDiv(wHi, needs.periodDays.toLong) -
          Math.floorDiv(wLo, needs.periodDays.toLong) + 1).toInt
        val perW = filteredFrame
          .filter(dayNum.between(wLo, wHi))
          .groupBy((segCols :+ periodKey): _*)
          .agg(B.unionAgg(col(bmId)).as("__bm"))
        // segmented histograms partition the k-count per segment —
        // an id's bucket counts its active periods WITHIN the segment
        val kced =
          if (segCols.isEmpty)
            perW.agg(B.kCountAgg(col("__bm"), maxK).as("__k"))
          else perW.groupBy(segCols: _*)
            .agg(B.kCountAgg(col("__bm"), maxK).as("__k"))
        kced
          .select((segCols :+ posexplode(col("__k"))): _*)
          .select((segCols ++ Seq(
            (col("pos") + 1).cast("long").as("__p"),
            col("col").as("__ret"))): _*)
          .filter(col("__ret") >= 1)
      case "resurrected" =>
        // growth accounting's fourth cell: in B_p, ABSENT from
        // B_{p−1}, present in SOME earlier period —
        // |(B_p ∖ prev) ∩ prefixOR(B_{<p})|. The left pairing +
        // empty-bitmap coalesce keeps the raw anti-join's
        // no-contiguity-gate semantics (an unobserved p−1 excludes
        // nothing); the strict prefix union IS the earlier-activity
        // witness (q < p admits q = p−1, but those ids are already
        // gone from the ANDNOT); the ≥ 1 filter reproduces the raw
        // row set — the first period is never some id's resurrection
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(segCols: _*)
          .orderBy(col("__p"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            -1)
        val withPrefix = per.withColumn("__prefix",
          coalesce(B.unionAgg(col("__bm")).over(w), emptyBm))
        val prev = per.select((segCols ++ Seq(
          (col("__p") + 1).as("__p"), col("__bm").as("__obm"))): _*)
        withPrefix.join(prev, segIds :+ "__p", "left_outer")
          .select((segCols ++ Seq(col("__p"),
            B.cardinality(B.and(B.andNot(col("__bm"),
              coalesce(col("__obm"), emptyBm)), col("__prefix")))
              .as("__ret"))): _*)
          .filter(col("__ret") >= 1)
      case k =>
        // churned: ids of p absent from p+1 — pair with the FOLLOWING
        // period's bitmap; new_ids: absent from p−1 — pair with the
        // PRECEDING. The raw anti-join has NO contiguity gate: an
        // unobserved adjacent period reads as the EMPTY set (the last
        // period is all churn, the first all new), which the left join
        // + empty-bitmap coalesce reproduces exactly
        val shift = if (k == "churned") -1 else 1
        val other = per.select((segCols ++ Seq(
          (col("__p") + shift).as("__p"), col("__bm").as("__obm"))): _*)
        per.join(other, segIds :+ "__p", "left_outer")
          .select((segCols ++ Seq(col("__p"),
            B.andNotCardinality(col("__bm"),
              coalesce(col("__obm"), emptyBm)).as("__ret"))): _*)
          .filter(col("__ret") >= 1)
    }
    val out = new Served(served)
    out.project(agg.aggregateExpressions.zip(needs.outs).map {
      case (orig, RollOut.Day) => out.key(orig, "__p")
      case (orig, RollOut.Seg(srcCol)) => out.exact(orig, segIdOf(srcCol))
      case (orig, _: RollOut.Leaf) => out.exact(orig, "__ret")
      case _ => None
    })
  }

  /** COHORT-VALUE routing — the raw LTV matrix (per-(id, period) money
    * sums joined to a per-id min-period frame, re-aggregated per
    * (cohort, age) — recognized by
    * [[CubeAdvisor.analyzeCohortValue]]) served by
    * [[ServeKernels.cohortValue]], the [[CubeService.getCohortValue]]
    * kernel, over a registered `weighted`-measured day-dimmed cube.
    * The raw form shuffles every (id, period, value) group TWICE (the
    * min reduce, then the join + recount); the serve explodes the
    * merged per-period maps. The routed decimal is rebuilt EXACTLY
    * from the scaled-long cell sum. Weight maps net signed folds, so
    * — uniquely among the per-id routes — a delete-latched cube still
    * serves. */
  private def tryRewriteCohortValue(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeCohortValue(agg).getOrElse(return None)
    cheapest(needs.path, needs.join)(buildCohortValueServe(agg, needs, _))
  }

  private def buildCohortValueServe(
      agg: Aggregate,
      needs: CubeAdvisor.CohortValueNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    import CubeAdvisor.CVOut
    val cfg = reg.cube.config
    // NO hasDeletes refusal: weight maps net signed folds exactly (the
    // one per-id family that keeps serving through deletes)
    if (!servable(reg, needs.path)) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    val wId = cfg.weighted.find(m =>
        m.idPath == needs.idCol && m.weightPath == needs.weightCol)
      .map(_.id).getOrElse(return None)
    val cells = ServeKernels.cohortValue(
      liveCells(reg, needs.filters).getOrElse(return None),
      ServeKernels.periodKey(col(dayDim), needs.periodDays, needs.calendar),
      wId, Nil, cfg.bitmapShardBits > 0).cells
    val out = new Served(
      cells.withColumn("period", col("cohort") + col("offset")))
    out.project(agg.aggregateExpressions.zip(needs.outs).map {
      case (orig, CVOut.Cohort) => out.key(orig, "cohort")
      case (orig, CVOut.Period) => out.key(orig, "period")
      case (orig, CVOut.Offset) => out.key(orig, "offset")
      case (orig, CVOut.Active) => out.exact(orig, "__a")
      case (orig, CVOut.Value) => out.money(orig, "__v")
    })
  }

  /** COHORT-MATRIX routing — the count-distinct retention heatmap
    * (every BI tool's cohort triangle: distinct (id, period) activity
    * pairs joined to a per-id min-period frame, count(DISTINCT id)
    * per (cohort, offset) — recognized by
    * [[CubeAdvisor.analyzeCohortMatrix]]) served by
    * [[ServeKernels.cohortMatrix]], the [[CubeService.getCohortMatrix]]
    * kernel, over a registered day-dimmed bitmap cube. The raw form
    * shuffles every (id, period) pair TWICE per refresh (the min
    * reduce, then the join + distinct recount); the serve explodes the
    * merged per-period bitmaps. Both emit a (cohort, offset) row
    * exactly when some cohort id was active at that offset. Bitmap
    * partials of a latched cube describe ever-inserted ids, so deletes
    * refuse — the [[buildRetentionServe]] convention. */
  private def tryRewriteCohortMatrix(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeCohortMatrix(agg).getOrElse(return None)
    cheapest(needs.path, needs.join)(buildCohortMatrixServe(agg, needs, _))
  }

  private def buildCohortMatrixServe(
      agg: Aggregate,
      needs: CubeAdvisor.CohortMatrixNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    import CubeAdvisor.CVOut
    val cfg = reg.cube.config
    if (!servable(reg, needs.path)) return None
    // bitmap partials of a latched cube describe ever-inserted ids
    if (reg.cube.hasDeletes) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    // the counted id needs a bitmap measure (plain integral or
    // dictionary-encoded — both exact; the served matrix is id-free,
    // so the dense dictionary ids never need translating back)
    val bmId = cfg.allBitmaps.find(_.path == needs.idCol)
      .map(_.id).getOrElse(return None)
    val cells = ServeKernels.cohortMatrix(
      liveCells(reg, needs.filters).getOrElse(return None),
      ServeKernels.periodKey(col(dayDim), needs.periodDays, needs.calendar),
      bmId, Nil, cfg.bitmapShardBits > 0).cells
    val out = new Served(
      cells.withColumn("period", col("cohort") + col("offset")))
    out.project(agg.aggregateExpressions.zip(needs.outs).map {
      case (orig, CVOut.Cohort) => out.key(orig, "cohort")
      case (orig, CVOut.Period) => out.key(orig, "period")
      case (orig, CVOut.Offset) => out.key(orig, "offset")
      case (orig, CVOut.Active) => out.exact(orig, "retained")
      case _ => None
    })
  }

  /** LEADERBOARD routing — the raw per-period top-k-by-value plan
    * ("top spenders this week": ROW_NUMBER over per-(id, period) money
    * sums, filtered to rank ≤ k — recognized by
    * [[CubeAdvisor.analyzeTopSpenders]]) served by
    * [[ServeKernels.topSpenders]], the [[CubeService.getTopSpenders]]
    * kernel, over a registered `weighted`-measured day-dimmed cube:
    * the same deterministic (value DESC, id ASC) tiebreak, on the
    * visible key of a dictionary-encoded id. The replaced node is the
    * FILTER (rank ≤ k) — its whole output row (id, period, value,
    * rank) rebinds with original exprIds, the value rebuilt exactly
    * from the scaled-long sum. The raw plan shuffles every (id,
    * period, value) group, then sorts per period; the serve reads
    * |periods| one-row cube-derived maps. Weight maps net signed
    * folds, so a delete-latched cube still serves (a refunded id drops
    * down or off the board, matching a recompute). */
  private def tryRewriteTopSpenders(f: Filter): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeTopSpenders(f).getOrElse(return None)
    cheapest(needs.path, needs.join)(buildTopSpendersServe(f, needs, _))
  }

  private def buildTopSpendersServe(
      f: Filter,
      needs: CubeAdvisor.TopSpendersNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    val cube = reg.cube
    val cfg = cube.config
    // no hasDeletes refusal: weight maps net signed folds exactly
    if (!servable(reg, needs.path)) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    val wm = cfg.weighted.find(m =>
        m.idPath == needs.idCol && m.weightPath == needs.weightCol)
      .getOrElse(return None)
    // segments: each extra plain grouping must be a (non-time) cube
    // dimension named apart from the board's columns — the
    // per-(segment, period) maps partition exactly like the verb's
    // segmentBy
    val segDims: Seq[(org.apache.spark.sql.catalyst.expressions.ExprId,
      String)] = needs.segments.map { case (oid, srcCol) =>
      oid -> fieldDimOf(cfg, srcCol).getOrElse(return None)
    }
    if (segDims.exists(d => Seq("period", "id", "rank").contains(d._2)))
      return None
    // dict-encoded ids translate to the VISIBLE key before ranking;
    // integral ids re-rank on the dense key, whose cast is
    // order-preserving
    val dict = cfg.dictBitmaps.find(_.path == wm.idPath) match {
      case Some(d) => Some(cube.dicts.getOrElse(d.id, return None))
      case None => if (needs.integralId) None else return None
    }
    val out = new Served(ServeKernels.topSpenders(
      liveCells(reg, needs.filters).getOrElse(return None),
      ServeKernels.periodKey(col(dayDim), needs.periodDays, needs.calendar),
      wm.id, dict, needs.k, segDims.map(_._2), cfg.bitmapShardBits > 0))
    // rebind the Filter's WHOLE output row by exprId: the window
    // child's (id, period, value) plus the rank attr
    out.project(f.output.map { orig =>
      if (orig.exprId == needs.pOut) out.key(orig, "period")
      else if (orig.exprId == needs.idOut) out.attr("id").flatMap(v =>
        if (v.dataType == orig.dataType) Some(out.bind(orig, v))
        else if (needs.integralId) Some(out.bind(orig, Cast(v, orig.dataType)))
        else None)
      else if (orig.exprId == needs.wOut) out.money(orig, "__w")
      else if (orig.exprId == needs.rankOut) out.exact(orig, "rank")
      else segDims.find(_._1 == orig.exprId)
        .flatMap { case (_, dimId) => out.exact(orig, dimId) }
    })
  }

  /** VALUE-BRIDGE routing — the raw revenue growth-accounting terms
    * (the MRR bridge's column vocabulary: per-period revenue, the
    * observed-period spine, new value, churned value, inflow,
    * resurrected value, expansion/contraction — recognized by
    * [[CubeAdvisor.analyzeValueBridge]]) rewritten to walks over a
    * registered weighted cube's per-period maps — the
    * [[CubeService.getValueGrowthAccounting]] algebra, term-wise, so
    * the COMPOSITE dashboard assembling them (the exact shape the
    * BI layer emits) routes end to end under the user's shell (the
    * q269 composite discipline: the rule transforms every Aggregate
    * in place). Revenue/periods serve from the cube's plain decimal
    * measure partials when the raw plan keeps null-id rows (row sums
    * carry them; weight maps never do) and from the maps when the
    * plan filters them; the set-valued terms (new/anti/resurrected/
    * expcon) are one window or self-join over the |periods| one-row
    * map frame plus one tandem merge-walk per cell. The raw plan pays
    * up to four self-joins of the per-(id, period) frame per refresh;
    * the routed serve reads |periods| one-row cube-derived maps. */
  private def tryRewriteValueBridge(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeValueBridge(agg).getOrElse(return None)
    cheapest(needs.path, needs.join)(buildValueBridgeServe(agg, needs, _))
  }

  private def buildValueBridgeServe(
      agg: Aggregate,
      needs: CubeAdvisor.ValueBridgeNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    import CubeAdvisor.VBOut
    val cfg = reg.cube.config
    if (!servable(reg, needs.path)) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    val filteredFrame = liveCells(reg, needs.filters).getOrElse(return None)
    val periodKey = ServeKernels.periodKey(col(dayDim), needs.periodDays,
      needs.calendar).as("__p")
    val W = graft.functions.WeightMap
    val B = graft.functions.Bitmap
    // NULL-PERIOD CONVENTION (documented): every routed bridge term
    // drops the null-period row — a null event time is not a period.
    // The raw terms drop it too wherever a join/equality touches the
    // period; the one raw corner that can emit it (a null-ts row under
    // the anti term) is excluded by this convention.
    // the weighted binding (map-served kinds); revenue may instead
    // bind the plain decimal measure (see below). The spine binds any
    // weighted measure on the filtered id (weightCol is empty there).
    //
    def mapsFrame(): Option[org.apache.spark.sql.DataFrame] =
      cfg.weighted.find(m =>
          m.idPath == needs.idCol &&
            (needs.weightCol.isEmpty || m.weightPath == needs.weightCol))
        .map { wm =>
          filteredFrame.groupBy(periodKey)
            .agg(W.mergeAgg(col(wm.id)).as("__wm"))
            .filter(col("__p").isNotNull)
            .withColumn("__kbm", W.keyBitmap(col("__wm")))
        }
    // SCALE AUDIT of the blob kinds (optimization round 19): periods /
    // revenue / anti / expcon were already window-free — per-period
    // blob ops and ±1-period equi-joins over the |periods|-row merged
    // frame, row-parallel at any scale — and the first attempt to
    // explode THEM measured a clean regression on the identical
    // harness (q297 3.32 → 3.71 s, q301 2.44 → 3.21 s min-of-3: 24
    // Generates / 66 Exchanges where the blob forms plan 44 — the r18
    // "spread" lesson, stage count beats latent parallelism at cold-run
    // cost), so those kinds KEEP the blob forms. The one genuine
    // scale-killer was the frame-less prefix-union WINDOW under `new`
    // and `resurrected` — partitionBy() funnels the whole frame into
    // ONE task whose running bitmap union grows with the full id
    // space. Those two kinds now derive first-seen relationally from
    // the MERGED maps' exploded entries (present = net cnt > 0, the
    // WeightMapKeyBitmap rule; entries are already netted per (period,
    // id) by the merge, so no second aggregate): first-seen = min
    // present period, new = rows at it, resurrected = present, absent
    // at p−1 (the present rows shifted +1, left_anti), first < p.
    // Ordinary parallel shuffles, linear in Σ|map entries|.
    def presentFrame(): Option[org.apache.spark.sql.DataFrame] =
      mapsFrame().map(per => per
        .select(col("__p"), explode_outer(W.entries(col("__wm"))).as("__e"))
        .filter(col("__e").isNotNull && col("__e.cnt") > 0)
        .select(col("__p"), col("__e.id").as("__id"),
          col("__e.w").as("__w")))
    // served: (__p, value columns per kind) BEFORE the label shift
    val served: org.apache.spark.sql.DataFrame = needs.kind match {
      case "periods" if needs.idFiltered =>
        // id-guarded spine: periods with ≥ 1 non-null-id row — the
        // weight maps' own row set, or (the advisor-rec binding, which
        // always carries the id bitmap) the per-period bitmap unions
        mapsFrame().map(_
            .filter(B.cardinality(col("__kbm")) >= 1)
            .select(col("__p")))
          .orElse(cfg.allBitmaps.find(_.path == needs.idCol).map(bm =>
            filteredFrame.groupBy(periodKey)
              .agg(B.unionAgg(col(bm.id)).as("__bm"))
              .filter(col("__p").isNotNull)
              .filter(B.cardinality(col("__bm")) >= 1)
              .select(col("__p"))))
          .getOrElse(return None)
      case "periods" =>
        filteredFrame.select(periodKey).distinct()
          .filter(col("__p").isNotNull)
      case "revenue" =>
        // null-id discipline (see analyzeValueBridge): an id-filtered
        // plan only the maps reproduce; a nullable unfiltered id only
        // the measure partials do; a non-nullable id serves from
        // either (prefer the measure — no blob work)
        def viaMeasure = cfg.measures.find(_.path == needs.weightCol)
          .map(m => filteredFrame.groupBy(periodKey)
            .agg(sum(col(m.id)).as("__vdec"))
            .filter(col("__p").isNotNull))
        def viaMaps = mapsFrame().map(per => per
          .filter(B.cardinality(col("__kbm")) >= 1)
          .select(col("__p"),
            W.sumIn(col("__kbm"), col("__wm")).as("__vl")))
        (if (needs.idFiltered) viaMaps
         else if (needs.idNullable) viaMeasure
         else viaMeasure.orElse(viaMaps)).getOrElse(return None)
      case "new" =>
        // new at p = present at p with first-seen = p (the prefix-
        // ANDNOT fixpoint, without the single-task window)
        val pr = presentFrame().getOrElse(return None)
        val first = pr.groupBy(col("__id")).agg(min(col("__p")).as("__fp"))
        pr.join(first, Seq("__id"))
          .filter(col("__p") === col("__fp"))
          .groupBy(col("__p")).agg(sum(col("__w")).as("__vl"))
      case "anti" =>
        val per = mapsFrame().getOrElse(return None)
        val emptyBlob = ServeKernels.emptyBlob
        val other = per.select(col("__p").as("__po"),
          col("__kbm").as("__okbm"))
        per.join(other, col("__po") === col("__p") + lit(needs.adj),
            "left_outer")
          .withColumn("__abm", B.andNot(col("__kbm"),
            coalesce(col("__okbm"), emptyBlob)))
          .filter(B.cardinality(col("__abm")) >= 1)
          .select(col("__p"),
            W.sumIn(col("__abm"), col("__wm")).as("__vl"))
      case "resurrected" =>
        // present at p, NOT at p − 1, present at some earlier period
        // (first-seen strictly before p — the prefix-union witness)
        val pr = presentFrame().getOrElse(return None)
        val first = pr.groupBy(col("__id")).agg(min(col("__p")).as("__fp"))
        val prevRows = pr.select((col("__p") + lit(1L)).as("__p"),
          col("__id"))
        pr.join(prevRows, Seq("__p", "__id"), "left_anti")
          .join(first, Seq("__id"))
          .filter(col("__fp") < col("__p"))
          .groupBy(col("__p")).agg(sum(col("__w")).as("__vl"))
      case "expcon" =>
        val per = mapsFrame().getOrElse(return None)
        val prev = per.select(col("__p").as("__pp"),
          col("__wm").as("__pwm"), col("__kbm").as("__pkbm"))
        per.join(prev, col("__pp") === col("__p") - 1)
          .filter(B.cardinality(B.and(col("__kbm"), col("__pkbm"))) >= 1)
          .withColumn("__d", W.deltaSums(col("__wm"), col("__pwm")))
          .select(col("__p"), col("__d").getItem(0).as("__exp"),
            col("__d").getItem(1).as("__con"))
      case _ => return None
    }
    val labeled =
      if (needs.pShift == 0L) served
      else served.withColumn("__p", col("__p") + lit(needs.pShift))
    val out = new Served(labeled)
    // the value is a scaled long from the maps or a narrower exact
    // decimal from the measure partials
    val valueCol = if (out.attr("__vl").isDefined) "__vl" else "__vdec"
    out.project(agg.aggregateExpressions.zip(needs.outs).map {
      case (orig, VBOut.Period) => out.key(orig, "__p")
      case (orig, VBOut.Value) => out.money(orig, valueCol)
      case (orig, VBOut.Expansion) => out.money(orig, "__exp")
      case (orig, VBOut.Contraction) => out.money(orig, "__con")
    })
  }

  /** FUNNEL routing — the min-join conversion-chain plan ("users who
    * completed view→click→purchase in order, cumulative by period",
    * recognized by [[CubeAdvisor.analyzeFunnel]]) served by the
    * [[ServeKernels.funnelCascade]] of [[CubeService.getFunnel]] over
    * a registered day+step-dimmed bitmap cube: by the induction
    * documented there, |C_K[p]| is exactly the min-conversion-time
    * recursion the raw chain computes. Row domain: the raw plan
    * inner-joins the source's observed periods against `t_K ≤ p` and
    * groups, so it emits a row exactly for observed periods with ≥ 1
    * converted id — the cascade over every cube period plus a ≥ 1
    * filter reproduces it. At scale the raw chain is K joins over the
    * source's pairs PLUS a quadratic period join; the serve is one
    * pass over cube-sized partials + K incremental window passes over
    * the |periods| frame. Delete-latched cubes refuse — bitmap
    * partials are insert-only. */
  private def tryRewriteFunnel(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeFunnel(agg).getOrElse(return None)
    if (needs.outs.isEmpty) return None
    // a chain over an INNER EQUI-JOIN routes to a registered join MV,
    // either side order — the q261 retention-family dispatch
    cheapest(needs.path, needs.join)(buildFunnelServe(agg, needs, _))
  }

  private def buildFunnelServe(
      agg: Aggregate,
      needs: CubeAdvisor.FunnelNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    import CubeAdvisor.RollOut
    val cfg = reg.cube.config
    if (!servable(reg, needs.path) || reg.cube.hasDeletes) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    val stepDim = fieldDimOf(cfg, needs.stepCol).getOrElse(return None)
    val bmId = cfg.allBitmaps.find(_.path == needs.idCol)
      .map(_.id).getOrElse(return None)
    val sharded = cfg.bitmapShardBits > 0
    // the raw days side is the UNFILTERED source's observed periods —
    // every cube cell covers a source row, so the cube's full period
    // set is exactly that domain
    val cascade = ServeKernels.funnelCascade(liveCells(reg).get,
      ServeKernels.periodKey(col(dayDim), needs.periodDays, needs.calendar),
      stepDim, bmId, needs.steps, Nil, sharded, needs.within,
      allPeriods = true)
    val last = needs.steps.size - 1
    val out = new Served(ServeKernels.funnelConverted(cascade,
        Seq(needs.steps(last) -> last), Nil, sharded)
      .filter(col("converted") >= 1))
    out.project(agg.aggregateExpressions.zip(needs.outs).map {
      case (orig, RollOut.Day) => out.key(orig, "period")
      case (orig, _: RollOut.Leaf) => out.exact(orig, "converted")
      case _ => None
    })
  }

  /** TIME-TO-CONVERT routing — the raw conversion-lag histogram
    * (the full min-chain joined to its own first stage, t_K − t_1
    * re-counted — [[CubeAdvisor.analyzeTimeToConvert]]) served by
    * [[ServeKernels.timeToConvert]], the
    * [[CubeService.getTimeToConvert]] kernel, without the verb's
    * maxLag bound: the raw plan counts every lag. The raw plan pays K
    * joins over the source's pairs plus the per-id subtraction
    * re-count per refresh; the serve is one cascade pass plus one
    * equi-join of exploded ids. Delete-latched cubes refuse (bitmap
    * partials are insert-only). */
  private def tryRewriteTimeToConvert(agg: Aggregate): Option[LogicalPlan] = {
    val needs = CubeAdvisor.analyzeTimeToConvert(agg).getOrElse(return None)
    cheapest(needs.path, needs.join)(buildTimeToConvertServe(agg, needs, _))
  }

  private def buildTimeToConvertServe(
      agg: Aggregate,
      needs: CubeAdvisor.TimeToConvertNeeds,
      reg: CubeCatalog.Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    import CubeAdvisor.RollOut
    val cfg = reg.cube.config
    if (!servable(reg, needs.path) || reg.cube.hasDeletes) return None
    val dayDim = dayDimOf(cfg, needs.tsCol).getOrElse(return None)
    val stepDim = fieldDimOf(cfg, needs.stepCol).getOrElse(return None)
    val bmId = cfg.allBitmaps.find(_.path == needs.idCol)
      .map(_.id).getOrElse(return None)
    val out = new Served(ServeKernels.timeToConvert(liveCells(reg).get,
      ServeKernels.periodKey(col(dayDim), needs.periodDays, needs.calendar),
      stepDim, bmId, needs.steps, Nil, cfg.bitmapShardBits > 0, None))
    out.project(agg.aggregateExpressions.zip(needs.outs).map {
      case (orig, RollOut.Day) => out.key(orig, "lag_periods")
      case (orig, _: RollOut.Leaf) => out.exact(orig, "converted")
      case _ => None
    })
  }

  private def tryRewrite(
      agg: Aggregate,
      reg: CubeCatalog.Registration,
      source: LogicalPlan,
      subst: Expression => Expression,
      pred: Seq[Expression]): Option[(LogicalPlan, BigInt)] = {
    val b = new Binding(reg, source, subst)
    if (!b.routable || b.countAttrOpt.isEmpty) return None

    // groupings must all be covered dimensions
    val groupMap: Seq[(Expression, Expression)] =
      agg.groupingExpressions.flatMap(g => b.matchDim(g).map(g -> _))
    if (groupMap.size != agg.groupingExpressions.size) return None

    val predRewritten = b.rewritePreds(pred).getOrElse(return None)
    val rewritten = b.rewriteNamed(agg.aggregateExpressions)
      .getOrElse(return None)
    // safety: every reference must now resolve against the cube
    if (rewritten.exists(_.references.exists(!b.cubeOut.contains(_))))
      return None

    val served = b.servedFilter(predRewritten)
    val needed = AttributeSet(
      rewritten.flatMap(_.references) ++ served.references ++
        groupMap.flatMap(_._2.references))
    val liveCube = Filter(served, b.prunedCubeUnder(needed))
    Some((Aggregate(groupMap.map(_._2), rewritten, liveCube),
      reg.cubeSize))
  }

  /** ROLLUP / CUBE / GROUPING SETS routing. The analyzer lowers
    * grouping analytics to
    * {{{
    * Aggregate(groupAttrs :+ gid, outs,
    *   Expand(projections, passthrough ++ groupAttrs ++ gid,
    *     Project(attrs, [Filter] Relation)))
    * }}}
    * where each projection emits the passthrough columns (the aggregate
    * inputs, keeping their source exprIds), each grouping slot's source
    * expression or a typed null (set-dependent), and the grouping-id
    * literal. The cube's cells are exactly the FINEST grouping set, and
    * every coarser set is a re-aggregation of its partials — which is
    * precisely what the Aggregate-over-Expand already computes. So the
    * rewrite swaps the Expand's INPUT from source rows to live cube
    * cells: passthrough slots become the cube partial columns the
    * rewritten aggregates consume, grouping slots become the cube
    * dimension attributes (nulls and grouping-id literals kept
    * verbatim), and the grouping attrs + gid keep their exprIds so the
    * Aggregate above — including `grouping()`/`grouping_id()`
    * expressions, which the analyzer lowered to bit-ops over gid —
    * resolves unchanged. Exactness needs every grouping slot to match a
    * distinct-typed cube dimension and every aggregate leaf to be
    * partial-servable, same refusal discipline as the plain path. */
  private def tryRewriteGroupingSets(
      agg: Aggregate, exp: Expand): Option[LogicalPlan] = {
    val expOut = exp.output
    val gidIdx = expOut.indexWhere(_.name ==
      org.apache.spark.sql.catalyst.expressions.VirtualColumn.groupingIdName)
    if (gidIdx < 0) return None
    if (exp.projections.exists(_.size != expOut.size)) return None
    val gid = expOut(gidIdx)
    // the grouping-id slot must be a literal in every grouping set (the
    // analyzer's encoding; anything else is not the lowered shape)
    if (!exp.projections.forall(_(gidIdx).isInstanceOf[Literal])) return None
    if (!agg.groupingExpressions.forall(_.isInstanceOf[Attribute]))
      return None
    val groupAttrs = agg.groupingExpressions.map(_.asInstanceOf[Attribute])
    if (!groupAttrs.exists(_.exprId == gid.exprId)) return None

    // peel attribute/alias-only Projects (collecting alias definitions)
    // and Filters below the Expand down to the source relation
    var env = Map.empty[org.apache.spark.sql.catalyst.expressions.ExprId, Expression]
    var preds = Vector.empty[Expression]
    def peel(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project if pr.projectList.forall(e =>
          e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        env ++= pr.projectList.collect {
          case a: Alias => a.toAttribute.exprId -> a.child
        }
        peel(pr.child)
      case f: Filter =>
        preds ++= conjuncts(f.condition); peel(f.child)
      case other => other
    }
    val base = peel(exp.child)
    def subst(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if env.contains(a.exprId) => env(a.exprId)
    }
    // candidate registrations: single-table regs on the base's path, or
    // join MVs covering a base Join tree (the same matching the plain
    // path uses — rollup-over-join routes to the join MV's cells
    // exactly like rollup-over-table routes to the cube's)
    val candidates: Iterable[(CubeCatalog.Registration, Seq[Expression])] =
      CubeCatalog.sourcePathOf(base) match {
        case Some(path) =>
          CubeCatalog.registered.values.filter(_.sourcePath == path)
            .map(_ -> Seq.empty[Expression])
        case None => base match {
          case j: Join => matchingChainRegs(j).map { case (cr, p) =>
            (cr.reg, p)
          }
          case _ => return None
        }
      }

    // grouping slots: Expand output positions the Aggregate groups on
    val groupSlotIdx = expOut.indices
      .filter(i => i != gidIdx &&
        groupAttrs.exists(_.exprId == expOut(i).exprId))
    if (groupAttrs.count(_.exprId != gid.exprId) != groupSlotIdx.size)
      return None
    val groupSet = AttributeSet(groupAttrs)

    def tryOne(reg: CubeCatalog.Registration,
        sidePreds: Seq[Expression]): Option[(LogicalPlan, BigInt)] = {
      val b = new Binding(reg, base, subst)
      if (!b.routable || b.countAttrOpt.isEmpty) return None
      // each grouping slot's defining expression (identical across the
      // sets where it is live; null elsewhere) must match a cube dim of
      // the same type — the type check keeps the slot's typed null
      // literals and the preserved output attr consistent
      val dimForSlot: Map[Int, Expression] = groupSlotIdx.map { i =>
        val defs = exp.projections.map(_(i)).filter {
          case Literal(null, _) => false
          case _ => true
        }
        if (defs.isEmpty) return None
        if (defs.map(_.canonicalized).distinct.size != 1) return None
        val dim = b.matchDim(defs.head).getOrElse(return None)
        if (dim.dataType != expOut(i).dataType) return None
        i -> dim
      }.toMap

      val predRewritten =
        b.rewritePreds(preds ++ sidePreds).getOrElse(return None)
      val rewritten = b.rewriteNamed(agg.aggregateExpressions, groupSet)
        .getOrElse(return None)
      // every reference must now be a preserved grouping attr / gid or
      // a cube column
      val refSet = AttributeSet(rewritten.flatMap(_.references))
      if (!refSet.subsetOf(groupSet ++ b.cubeOut)) return None
      // cube partial columns the Expand must pass through, in cube
      // column order (deterministic plan shape)
      val partialAttrs = b.cubePlan.output.filter(refSet.contains)

      val served = b.servedFilter(predRewritten)
      val keptIdx = expOut.indices
        .filter(i => i == gidIdx || dimForSlot.contains(i))
      val newOut: Seq[Attribute] = partialAttrs ++ keptIdx.map(expOut)
      val newProjections: Seq[Seq[Expression]] = exp.projections.map { proj =>
        partialAttrs.map(a => a: Expression) ++ keptIdx.map { i =>
          if (i == gidIdx) proj(i)
          else proj(i) match {
            case l @ Literal(null, _) => l
            case _ => dimForSlot(i)
          }
        }
      }
      val needed = AttributeSet(
        partialAttrs ++ served.references ++
          dimForSlot.values.flatMap(_.references))
      val liveCube = Filter(served, b.prunedCubeUnder(needed))
      Some((Aggregate(agg.groupingExpressions, rewritten,
        Expand(newProjections, newOut, liveCube)), reg.cubeSize))
    }

    val routed = candidates.flatMap { case (reg, sp) => tryOne(reg, sp) }
    if (routed.isEmpty) None else Some(routed.minBy(_._2)._1)
  }

  /** Resolve a (possibly dotted nested) field path against a plan's
    * output, mirroring how the analyzer resolves `col("a.b.c")` — the
    * resulting GetStructField chain compares canonically equal to the
    * query's own extraction. */
  private def resolvePath(plan: LogicalPlan, path: String): Option[Expression] = {
    val parts = path.split('.')
    plan.output.find(_.name == parts.head).map { root =>
      parts.tail.foldLeft(root: Expression) { (e, field) =>
        org.apache.spark.sql.catalyst.expressions.ExtractValue(
          e, Literal(field), org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution)
      }
    }
  }
}

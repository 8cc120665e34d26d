package graft.cube

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally maintained JOIN materialized view: a cube over
  * `R₀ ⋈ R₁ ⋈ … ⋈ R_{n−1}` (n ≥ 2; binary joins, chains AND stars —
  * each edge joins the next relation to ANY column of the prefix join,
  * so `orders ⋈ lineitem` + `orders ⋈ customer` registers as one chain)
  * kept fresh under signed deltas to ANY relation — the
  * incremental-view-maintenance extension of the single-table cube
  * story (same fold machinery: the delta terms produce a signed frame
  * in the JOINED schema and [[CubeManager.applyDeltas]] folds it; a
  * `_sign` of ±k is a multiplicity, which the decimal
  * `sum(_sign·measure)` and `sum(_sign)` count handle natively).
  *
  * The binary delta-join rule composes associatively: a batch touching
  * relations J folds as the union of the TELESCOPED terms
  *
  *   Δ(R₀ ⋈ … ⋈ R_{n−1}) = ∪_{j ∈ J} R₀′ ⋈ … ⋈ R_{j−1}′ ⋈ ΔR_j ⋈ R_{j+1} ⋈ … ⋈ R_{n−1}
  *
  * (primes are the states advanced by this batch, the rest pre-batch;
  * signs multiply across every relation's net multiplicity), folded as
  * ONE cube fold. For n = 2 that is the classic
  * ΔL ⋈ R₀ ∪ L₀ ⋈ ΔR ∪ ΔL ⋈ ΔR, since L′ = L₀ ∪ ΔL. Correctness has
  * the exact [[CubeManager.applyDeltas]] invariants: fold-then-query ==
  * from-scratch recompute of the final state for ANY interleaving
  * (JoinCubeSpec and ChainCubeSpec pin randomized sequences), emptied
  * groups drop, over-deletion tombstones net.
  *
  * Auxiliary state: IVM over a join needs the CURRENT other relations
  * to join each delta against, so every relation is kept as a
  * compacted signed multiset (net `_mult`, zeros dropped — a deleted
  * row must stop matching future deltas), a NARROW keyed projection of
  * the source table (the caller projects before `create`). The
  * per-batch cost of a one-relation fold is |Δ| joined against the
  * key-matching slices of the other states — co-partitioned
  * equi-joins on the edge keys, with AQE broadcasting the (small)
  * delta side — never a re-join of the full sides. Column names must
  * be pairwise disjoint across ALL relations (true of every
  * TPC-H-style prefixed schema): the joined schema is their
  * concatenation and every downstream consumer (delta terms,
  * [[CubeRewriteRule]]'s first-name-match binding) binds by name. */
final case class ChainCubeConfig(cube: CubeConfig,
    edges: Seq[(String, String)])

/** The input shape of the join verbs, the admin wire and the advisor:
  * a two-relation MV written as its equi-join keys. Every engine path
  * runs on [[chain]]. */
final case class JoinCubeConfig(cube: CubeConfig, leftKey: String,
    rightKey: String) {
  private[cube] def chain: ChainCubeConfig =
    ChainCubeConfig(cube, Seq(leftKey -> rightKey))
}

/** `states(i)` is relation i's compacted signed multiset; `edges(i)`
  * joins relation i+1 (right column) to the prefix join of relations
  * 0..i (left column). */
final case class ChainCube(config: ChainCubeConfig, cube: Cube,
    states: Seq[DataFrame])

object ChainCubeManager {

  /** Net-multiplicity compaction of a signed multiset: group identical
    * rows, sum signs, drop zeros. State size ∝ |distinct live rows|. */
  private def compact(side: DataFrame): DataFrame = {
    val cols = side.columns.filterNot(_ == "_mult")
    side.groupBy(cols.map(col): _*)
      .agg(sum(col("_mult")).cast("long").as("_mult"))
      .filter(col("_mult") =!= 0)
  }

  /** Non-chain shapes refuse at creation: fewer than two relations,
    * overlapping column names (the joined schema is a by-name
    * concatenation), an edge whose right column is not on its
    * relation, or whose left column is not on the PREFIX (relations
    * 0..i) — the shape that would make the fold order ambiguous. */
  private[cube] def validateRelations(cfg: ChainCubeConfig,
      relCols: Seq[Seq[String]]): Unit = {
    require(relCols.size >= 2,
      s"a join MV needs at least 2 relations, got ${relCols.size}")
    require(cfg.edges.size == relCols.size - 1,
      s"a ${relCols.size}-relation chain needs ${relCols.size - 1} " +
        s"edges, got ${cfg.edges.size}")
    relCols.zipWithIndex.combinations(2).foreach {
      case Seq((a, ai), (b, bi)) =>
        val overlap = a.toSet.intersect(b.toSet)
        require(overlap.isEmpty,
          s"join MV relation column names must be pairwise disjoint; " +
            s"relations $ai and $bi overlap on: ${overlap.mkString(", ")}")
      case _ => ()
    }
    cfg.edges.zipWithIndex.foreach { case ((lc, rc), i) =>
      val prefix = relCols.take(i + 1).flatten.toSet
      require(relCols(i + 1).contains(rc),
        s"edge $i right column '$rc' is not a column of relation ${i + 1}")
      require(prefix.contains(lc),
        s"edge $i left column '$lc' is not a column of relations 0..$i")
      // The persisted chain_edges file is newline-separated `l=r` pairs
      // parsed with split("=", 2); a '=' or newline in an edge column
      // name would round-trip to a DIFFERENT edge list silently.
      Seq(lc -> "left", rc -> "right").foreach { case (c, side) =>
        require(!c.exists(ch => ch == '=' || ch == '\n' || ch == '\r'),
          s"edge $i $side column '$c' contains '=' or a newline — " +
            "unrepresentable in the persisted chain_edges format")
      }
    }
  }

  /** The chain join of one frame per relation (states, advanced states
    * or deltas): per-relation `_mult`s get unique names, the edges fold
    * left to right, and the net sign is the product. */
  private def chainJoin(cfg: ChainCubeConfig,
      rels: Seq[DataFrame]): DataFrame = {
    val withMults = rels.zipWithIndex.map { case (s, i) =>
      s.withColumnRenamed("_mult", s"_m$i")
    }
    val joined = withMults.tail.zip(cfg.edges)
      .foldLeft(withMults.head) { case (acc, (r, (lc, rc))) =>
        acc.join(r, col(lc) === col(rc))
      }
    joined
      .withColumn("_sign",
        rels.indices.map(i => col(s"_m$i")).reduce(_ * _))
      .drop(rels.indices.map(i => s"_m$i"): _*)
  }

  /** Initial population: cube over the raw chain join; every relation
    * compacted from the raw input (multiplicity = row count). */
  def create(cfg: ChainCubeConfig, rels: Seq[DataFrame]): ChainCube = {
    validateRelations(cfg, rels.map(_.columns.toSeq))
    val ones = rels.map(_.withColumn("_mult", lit(1L)))
    val joined = chainJoin(cfg, ones).drop("_sign")
    ChainCube(cfg, CubeManager.create(cfg.cube, joined),
      ones.map(compact))
  }

  /** The maintained states ARE the MV's source of record: expand each
    * state's net multiplicities back to rows (tombstones — negative
    * nets — describe rows that do not exist and are excluded) and
    * re-join. Handed to [[CubeManager.applyDeltas]] as the `source`
    * that makes non-invertible partials (HLL/KLL/CMS/extremes)
    * DELETE-CAPABLE via targeted cell recompute — the MV never needs
    * the original tables back for it, and the recompute's semi-join
    * touches only the delete-batch's cells. */
  private def joinedSource(cfg: ChainCubeConfig,
      states: Seq[DataFrame]): DataFrame = {
    def expand(s: DataFrame): DataFrame =
      s.filter(col("_mult") > 0)
        .withColumn("_i", explode(sequence(lit(1L), col("_mult"))))
        .drop("_i")
        .withColumn("_mult", lit(1L))
    chainJoin(cfg, states.map(expand)).drop("_sign")
  }

  /** Fold one batch of signed deltas (`(relation index, frame)` pairs —
    * frames with the relation schema + `_sign`; ±k = multiplicity;
    * several frames for one relation union). The telescoped terms —
    * relation j's delta joined to the ADVANCED states of the touched
    * relations before j and the pre-batch states of the rest — fold as
    * ONE [[CubeManager.applyDeltas]], so a batch touching several
    * relations is still a single cube fold. An advanced state enters
    * its terms as the uncompacted `state ∪ Δ` (signs multiply, so the
    * product is the same); only the states the batch touches are
    * recompacted, so a one-relation batch reuses every other state
    * as-is and costs |Δ| ⋈ key-matching state slices. */
  def applyDeltas(cc: ChainCube,
      deltas: Seq[(Int, DataFrame)]): ChainCube = {
    val cfg = cc.config
    deltas.foreach { case (idx, _) =>
      require(idx >= 0 && idx < cc.states.size,
        s"relation index $idx out of range 0..${cc.states.size - 1}")
    }
    if (deltas.isEmpty) return cc
    val byRel = deltas
      .groupMapReduce(_._1)(_._2.withColumnRenamed("_sign", "_mult"))(
        _ unionByName _)
    val advanced = cc.states.indices.map(i =>
      byRel.get(i).fold(cc.states(i))(cc.states(i).unionByName(_)))
    val terms = byRel.keys.toSeq.sorted.map(j => chainJoin(cfg,
      advanced.take(j) ++ (byRel(j) +: cc.states.drop(j + 1))))
    val newStates = cc.states.indices.map(i =>
      if (byRel.contains(i)) compact(advanced(i)) else cc.states(i))
    ChainCube(cfg,
      CubeManager.applyDeltas(cc.cube, terms.reduce(_ unionByName _),
        source = Some(joinedSource(cfg, newStates))),
      newStates)
  }

  /** Lineage truncation for long-running maintenance: every fold layers
    * a union+compaction onto the states' query plans, so an unbounded
    * micro-batch stream would re-execute ever-deeper lineage each
    * batch. Calling this every N batches materializes the cube and
    * every state (eager local checkpoint) and restarts their plans
    * from the stored result — per-batch cost stays ∝ |state| + |Δ|
    * regardless of how many batches preceded. */
  def checkpoint(cc: ChainCube): ChainCube =
    ChainCube(cc.config,
      cc.cube.copy(aggregates = cc.cube.aggregates.localCheckpoint(true)),
      cc.states.map(_.localCheckpoint(true)))
}

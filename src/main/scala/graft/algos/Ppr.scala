package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel

final case class PprResult(
    ranks: Dataset[RankState],
    iterations: Int,
    edgeCount: Long,
    wallSeconds: Double,
)

/** Personalized PageRank: random walk with restart into a SOURCE SET
  * (BASELINE.json:6 B1 family — the topic-/seed-sensitive variant of the
  * engine's flagship algorithm; Haveliwala, "Topic-Sensitive PageRank",
  * WWW 2002).
  *
  * Semantics (mirrored verbatim by the q_ppr_top20 DuckDB oracle):
  *   reset(v)  = 1/|S| if v ∈ S else 0
  *   rank0(v)  = reset(v)
  *   rank'(v)  = (1-d)·reset(v) + d·( Σ_{u→v} rank(u)·w(u,v)
  *                                     + danglingMass·reset(v) )
  * i.e. both the teleport and the dangling mass return to the source set
  * (the walk restarts at a seed, never at a uniform vertex) — the
  * conventional PPR normalization in which Σ rank = 1 is preserved every
  * iteration. Fixed iteration count; float64; compare contract is the
  * same rank_e7 quantization as global PageRank.
  *
  * Execution shape: identical to the certified PageRank superstep — the
  * CSR adjacency ⋈ state join is exchange-free (both hash-partitioned by
  * the vertex key, same partition count), the scatter is the codegen
  * posexplode form, and the ONE shuffle per superstep is the message
  * aggregation with map-side partial combine. Dangling mass is folded in
  * as a driver literal (the post-cut stats aggregate of iteration i
  * computes iteration i+1's mass — one extra cheap job per superstep, no
  * broadcast barrier inside the superstep job).
  *
  * This is deliberately a SEPARATE loop from [[PageRank.run]]: the global
  * loop is the scaling-certified benchmark path (BENCH/BASELINE.md gate
  * rule 4 pins its source untouched across measured campaigns), so PPR
  * reuses the shared layers ([[Csr.build]], [[Superstep.scatter]],
  * [[Superstep.cut]]) rather than threading a reset vector through the
  * certified code. It keeps the literal-dangling-mass form only (the
  * right choice at scale; small-graph PPR runs are cheap either way) and
  * inherits hub handling from the CSR chunking; per-superstep hub-state
  * broadcast salting stays exclusive to the global loop where it was
  * measured.
  */
object Ppr {

  /** @param sources one column `vid`; vertices absent from the graph are
    *                ignored (their reset weight would never be scattered).
    *                Must be non-empty after intersection with the graph.
    */
  def run(
      edges: Dataset[Edge],
      sources: DataFrame,
      cfg: PrConfig = PrConfig(),
  ): PprResult = Superstep.withAqeOff(edges.sparkSession) {
    val spark = edges.sparkSession
    import spark.implicits._

    // persist the input edges: the CSR build, vertex set, out-set, and
    // the caller's seed pipeline (usually derived from the SAME edge
    // plan — the cache is matched by plan fragment) each traverse them;
    // without the cache a cold PPR re-ran the sf0.1 co-occurrence build
    // ~7× (measured 158 s → ~30 s). Read through the cache leaf; release
    // goes through `edges`, which owns the cache entry, and only if this
    // call made it
    val owned = edges.storageLevel == StorageLevel.NONE
    val base =
      Internals.cachedLeaf(edges.persist(StorageLevel.MEMORY_AND_DISK))
    // base rows = adjacency entries (Norm modes keep every row), so the
    // count replaces the old Csr.edgeCount job and sizes pEff
    val edgeCnt = base.count()
    if (edgeCnt == 0) {
      if (owned) edges.unpersist(false)
      return PprResult(spark.emptyDataset[RankState], 0, 0L, 0.0)
    }
    val pEff = Tuning.adaptivePartitions(spark, edgeCnt)
    Tuning.withShufflePartitions(spark, pEff) {
    val p = pEff
    val mode =
      if (cfg.weighted) Csr.WeightMode.NormWeighted
      else Csr.WeightMode.NormUniform
    val adj = Csr.buildCut(base, p, mode, approxEntries = edgeCnt)

    val verts = Superstep.vertices(base)
    // vertices WITH out-edges = the block sources: already hash-
    // partitioned by the vertex key, so this distinct is exchange-free
    // and scans ~|V⁺| block rows instead of |E| edge rows (the same
    // argument as Superstep.verticesFromAdj; valid on a DIRECTED graph
    // here precisely because only the out-set is wanted)
    val outs = Superstep.verticesFromAdj(adj)
      .withColumn("hasOut", lit(true))
    val nVerts = verts.count()
    // |S ∩ V| — the reset normalizer; seeds outside the graph carry no
    // mass anywhere, so dropping them IS the only consistent reading
    val srcSet = verts
      .join(sources.select(col("vid")).distinct(), Seq("vid"), "left_semi")
    val nSrc = srcSet.count()
    require(nSrc > 0, "personalized PageRank needs >= 1 source vertex present in the graph")
    val d = cfg.damping

    // state: (vid, dangling, reset, rank); rank0 = reset
    var state: DataFrame = verts
      .join(outs, Seq("vid"), "left_outer")
      .join(srcSet.withColumn("isSrc", lit(true)), Seq("vid"), "left_outer")
      .select(
        col("vid"),
        col("hasOut").isNull.as("dangling"),
        when(col("isSrc"), lit(1.0 / nSrc)).otherwise(lit(0.0)).as("reset"),
        when(col("isSrc"), lit(1.0 / nSrc)).otherwise(lit(0.0)).as("rank"),
      )
    // lineage cut + the initial dangling-mass aggregate in ONE job
    val (stCut, stRow) = Superstep.cutAndAgg(
      state, nVerts,
      Seq(coalesce(sum(when(col("dangling"), col("rank"))
        .otherwise(0.0)), lit(0.0))))
    state = stCut
    var dm = stRow.getDouble(0)

    var iter = 0
    var delta = Double.MaxValue
    val t0 = System.nanoTime()
    while (iter < cfg.maxIter && delta > cfg.tol) {
      // scatter emits one (vid, w, …state) row per out-edge inside
      // whole-stage codegen; only rank is needed downstream, so prune
      // dangling/reset before the explode to keep the shuffle rows thin
      val msgs = Superstep
        .scatter(adj, state.select(col("vid"), col("rank")))
        .select(col("vid"), (col("w") * col("rank")).as("m"))
        .groupBy("vid").agg(sum("m").as("msg"))
      val newRank = lit(1.0 - d) * col("reset") +
        lit(d) * (coalesce(col("msg"), lit(0.0)) + lit(dm) * col("reset"))
      val next = state.join(msgs, Seq("vid"), "left_outer")
        .select(
          col("vid"),
          col("dangling"),
          col("reset"),
          newRank.as("rank"),
          abs(newRank - col("rank")).as("delta"),
        )
      val (cut, r) = Superstep.cutAndAgg(
        next,
        nVerts,
        Seq(
          max("delta"),
          sum(when(col("dangling"), col("rank")).otherwise(0.0)),
        ),
      )
      delta = r.getDouble(0)
      dm = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
      state = cut.drop("delta")
      iter += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ranks = state
      .select(col("vid"), col("rank"), col("dangling"))
      .as[RankState]
    adj.unpersist(false)
    if (owned) edges.unpersist(false)
    PprResult(ranks, iter, edgeCnt, wall)
    } // withShufflePartitions
  }
}

package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel

final case class HitsResult(
    scores: DataFrame, // (vid, hub, auth) — L1-normalized at output
    iterations: Int,
    edgeCount: Long,
    wallSeconds: Double,
)

/** HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources in a
  * hyperlinked environment", JACM 46(5)) over the DIRECTED edge table —
  * the co-occurrence builder's canonical `src < dst` orientation, which
  * makes hub and authority genuinely distinct roles (on a symmetrized
  * graph both collapse into eigenvector centrality, already covered by
  * [[Eigen]]).
  *
  * Semantics (mirrored by the q_hits_top20 DuckDB oracle):
  *   a_0(v)  = 1.0
  *   h_i(u)  = Σ_{u→v} a_{i-1}(v) / Ta_{i-1},   Ta = Σ_v a(v)
  *   a_i(v)  = Σ_{u→v} h_i(u)     / Th_i,       Th = Σ_u h(u)
  *   out     = (h_k / Th_k, a_k / Ta_k)
  * for a FIXED iteration count — the same fixed-k contract as [[Eigen]]
  * (power iteration on E·Eᵀ / Eᵀ·E has no universal convergence
  * guarantee, and a fixed-k spec is the only cross-engine-deterministic
  * one).
  *
  * Round-6 execution rework — L1 normalization is SCALE ONLY, so the
  * engine iterates the UNNORMALIZED recurrence H_i = Eᵀ·A_{i-1},
  * A_i = E·H_i and normalizes once at the output: out = (H_k/ΣH_k,
  * A_k/ΣA_k), which equals the per-round-normalized value exactly in
  * real arithmetic (every Ta/Th cancels) and to reduction-order ulps in
  * IEEE — the same ulp class the e7 output grid already absorbs for the
  * PageRank/eigenvector oracles (verified against the unchanged oracle
  * at every sf). This removes the per-half-step global-scalar
  * dependency, so each round is ONE fused job (both half-step message
  * exchanges in a single lineage-cut action) instead of two
  * [[Superstep.cutAndAgg]] jobs — the driver-side job count halves, and
  * only the final round materializes the hub state separately (its
  * frame feeds the output). Overflow headroom: scores grow by at most
  * maxdeg² per round, so k=8 rounds stay under double's 1.8e308 for any
  * maxdeg < 1e19 — every representable graph.
  *
  * Execution shape per half-step is unchanged: one exchange-free
  * CSR ⋈ state join + ONE message-aggregation shuffle (the certified
  * superstep contract). The hub half-step scatters along the REVERSED
  * adjacency (h gathers from out-neighbors: messages flow dst→src), the
  * authority half-step along the forward adjacency; both CSRs are built
  * once and persisted columnar.
  *
  * Like [[Eigen]] and [[Ppr]], this is its own lean loop over the shared
  * Csr/Superstep layers rather than a mode threaded through the
  * scaling-certified [[PageRank.run]] (BENCH/BASELINE.md gate rule 4
  * pins that file).
  */
object Hits {

  private val debug = sys.env.contains("GRAFT_DEBUG")

  def run(
      edges: Dataset[Edge],
      iterations: Int = 8,
  ): HitsResult = Superstep.withAqeOff(edges.sparkSession) {
    val spark = edges.sparkSession
    import spark.implicits._

    // persist the caller's edge pipeline once: the two CSR builds and the
    // vertex set each traverse it (the sf0.1 co-occurrence build re-runs
    // 3x per call otherwise — same lesson as Eigen/Ppr), then read it
    // through the cache leaf; release goes through `edges`, which owns
    // the cache entry, and only if this call made it
    val owned = edges.storageLevel == StorageLevel.NONE
    val base =
      Internals.cachedLeaf(edges.persist(StorageLevel.MEMORY_AND_DISK))
    // |E| in WeightMode.One equals the adjacency entry count, so this one
    // count doubles as the old Csr.edgeCount job AND the partition-sizing
    // input: message volume per half-step is |E|, so the loop's
    // partitions follow the data, capped by the session conf (Tuning)
    val edgeCnt = base.count()
    if (edgeCnt == 0) {
      if (owned) edges.unpersist(false)
      return HitsResult(
        spark.emptyDataset[ScoreState].toDF()
          .select(col("vid"), col("score").as("hub"), col("score").as("auth")),
        0, 0L, 0.0)
    }
    val pEff = Tuning.adaptivePartitions(spark, edgeCnt)
    Tuning.withShufflePartitions(spark, pEff) {
      val fwd = Csr.buildCut(base, pEff, Csr.WeightMode.One, approxEntries = edgeCnt)
      val rev = Csr.buildCut(
        base.select(
          col("dst").as("src"), col("src").as("dst"), col("weight"),
        ).as[Edge],
        pEff, Csr.WeightMode.One,
        approxEntries = edgeCnt,
      )

      val verts = Superstep.vertices(base)
      val nVerts = verts.count()

      var auth: DataFrame =
        Superstep.cut(verts.withColumn("score", lit(1.0)), nVerts)
      var hub: DataFrame = auth // placeholder until the final round
      var hTot = 0.0
      var aTot = 0.0

      // unnormalized half-step: scores gather straight sums (w = 1.0).
      // `universe` supplies the full vertex list for the left-outer
      // completion — callers pass the CHECKPOINTED round-start state
      // (same vid set every round), so the join is exchange-free and
      // never recomputes the vertices-distinct subplan (the old form
      // re-ran it twice per round through the lazy `verts`)
      def gather(adj: Dataset[AdjBlock], state: DataFrame, universe: DataFrame) = {
        val msgs = Superstep
          .scatter(adj, state.select(col("vid"), col("score")))
          .select(col("vid"), (col("w") * col("score")).as("m"))
          .groupBy("vid").agg(sum("m").as("msg"))
        universe.select(col("vid"))
          .join(msgs, Seq("vid"), "left_outer")
          .select(col("vid"), coalesce(col("msg"), lit(0.0)).as("score"))
      }

      var iter = 0
      val t0 = System.nanoTime()
      while (iter < iterations) {
        iter += 1
        val u = auth // round-start checkpoint = the vertex universe
        if (iter < iterations) {
          // both half-steps fused into ONE lineage-cut job: the hub
          // state is an intermediate subplan referenced exactly once
          auth = Superstep.cut(gather(fwd, gather(rev, auth, u), u), nVerts)
        } else {
          // final round: the hub frame feeds the output, so it gets its
          // own cut; both output normalizers ride the two cuts for free
          val (hCut, hRow) = Superstep.cutAndAgg(
            gather(rev, auth, u), nVerts, Seq(sum("score")))
          hub = hCut
          hTot = hRow.getDouble(0)
          val (aCut, aRow) = Superstep.cutAndAgg(
            gather(fwd, hub, hub), nVerts, Seq(sum("score")))
          auth = aCut
          aTot = aRow.getDouble(0)
        }
        if (debug) Console.err.println(
          f"[hits] iter=$iter hTot=$hTot%.6g aTot=$aTot%.6g")
      }
      val wall = (System.nanoTime() - t0) / 1e9

      val out = hub.select(col("vid"), (col("score") / lit(hTot)).as("hub"))
        .join(
          auth.select(col("vid"), (col("score") / lit(aTot)).as("auth")),
          Seq("vid"))
      fwd.unpersist(false); rev.unpersist(false)
      if (owned) edges.unpersist(false)
      HitsResult(out, iter, edgeCnt, wall)
    }
  }
}

package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals

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
  * Like [[Eigen]] and [[Ppr]], its first k-1 rounds run through
  * [[Superstep.iterate]] (both CSRs are its `keep`) rather than a
  * mode threaded through the scaling-certified [[PageRank.run]]
  * (BENCH/BASELINE.md gate rule 4 pins that file).
  */
object Hits {

  def run(
      edges: Dataset[Edge],
      iterations: Int = 8,
  ): HitsResult = {
    require(iterations >= 1, s"Hits: iterations must be >= 1, got $iterations")
    val spark = edges.sparkSession
    import spark.implicits._

    // the caller's edges are the base: both CSR builds and the vertex set
    // read it, and its |E| rows are the message volume per half-step
    Superstep.onGraph(edges, Csr.WeightMode.One) { g =>
      if (g.entries == 0)
        return HitsResult(
          spark.emptyDataset[ScoreState].toDF()
            .select(col("vid"), col("score").as("hub"), col("score").as("auth")),
          0, 0L, 0.0)
      val fwd = g.adj
      // the reversed adjacency, released before return like g.adj
      val rev = Csr.buildCut(
        g.base.select(
          col("dst").as("src"), col("src").as("dst"), col("weight"),
        ).as[Edge],
        g.p, Csr.WeightMode.One,
        approxEntries = g.entries,
      )

      val verts = Superstep.vertices(g.base)
      val nVerts = verts.count()

      val init = Superstep.cut(verts.withColumn("score", lit(1.0)), nVerts)

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

      val t0 = System.nanoTime()
      // rounds 1..k-1: both half-steps fused into ONE lineage-cut job;
      // the hub state is an intermediate subplan referenced exactly once
      val (u, _) = Superstep.iterate(
        Seq(fwd, rev), init, nVerts, iterations - 1,
      ) { (s, _) => gather(fwd, gather(rev, s, s), s) }
      // final round: the hub frame feeds the output, so it gets its own
      // cut; both output normalizers ride the two cuts for free
      val (hub, hRow) = Superstep.cutAndAgg(
        gather(rev, u, u), nVerts, Seq(sum("score")))
      val (auth, aRow) = Superstep.cutAndAgg(
        gather(fwd, hub, hub), nVerts, Seq(sum("score")))
      Internals.release(u)
      val hTot = hRow.getDouble(0)
      val aTot = aRow.getDouble(0)
      val wall = (System.nanoTime() - t0) / 1e9

      val out = hub.select(col("vid"), (col("score") / lit(hTot)).as("hub"))
        .join(
          auth.select(col("vid"), (col("score") / lit(aTot)).as("auth")),
          Seq("vid"))
      Internals.release(rev)
      HitsResult(out, iterations, g.entries, wall)
    }
  }
}

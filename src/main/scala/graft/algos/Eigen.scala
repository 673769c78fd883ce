package graft.algos

import graft._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

final case class EigenResult(
    scores: Dataset[ScoreState],
    iterations: Int,
    edgeCount: Long,
    wallSeconds: Double,
)

/** Eigenvector centrality by power iteration (BASELINE.json:6 B1 family —
  * the damping-free relative of PageRank; Bonacich 1987, Newman "Networks"
  * §7.2): a vertex is central in proportion to the summed centrality of
  * its neighbors.
  *
  * Semantics (mirrored verbatim by the q_eigen_top20 DuckDB oracle):
  *   y_0(v)  = 1.0
  *   y_i(v)  = Σ_{u~v} w(u,v) · y_{i-1}(u) / T_{i-1},  T = Σ_v y(v)
  *   out(v)  = y_k(v) / T_k
  * over the SYMMETRIZED graph, for a FIXED iteration count (the compare
  * contract is "k power-iteration steps", not a convergence claim —
  * bipartite graphs oscillate between the ±λ eigenvectors and never
  * converge, so a fixed-k contract is the only deterministic one; same
  * stance as label propagation's). The L1 normalization happens INSIDE the
  * scatter term ((w·y)/T per edge, T a driver literal) so the oracle can
  * reproduce the identical IEEE operations: with unweighted mode w = 1.0
  * and (1.0·y)/T == y/T bit-exactly, and both engines' quantization
  * tolerates the reduction-order ulps exactly as the PageRank oracle does.
  *
  * Execution shape: the certified superstep contract — CSR adjacency ⋈
  * state exchange-free (both hash-partitioned by the vertex key, same
  * partition count), codegen posexplode scatter, ONE shuffle per superstep
  * (the message aggregation, map-side combined). The next round's
  * normalizer T is the stats aggregate of the round's lineage cut
  * ([[Superstep.iterate]]) — one job per superstep, like WCC's fused
  * convergence aggregate.
  *
  * Like [[Ppr]], this is deliberately its own lean loop over the shared
  * layers rather than a mode threaded through the scaling-certified
  * [[PageRank.run]] source (BENCH/BASELINE.md gate rule 4 pins that file).
  */
object Eigen {

  def run(
      edges: Dataset[Edge],
      cfg: EcConfig = EcConfig(),
  ): EigenResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    // distinctCanonical inputs take the shuffle-free symmetrize
    val base =
      if (cfg.distinctCanonical) EdgeBuilder.symmetrizeDistinct(edges)
      else EdgeBuilder.symmetrize(edges)
    val mode = if (cfg.weighted) Csr.WeightMode.Raw else Csr.WeightMode.One
    Superstep.onGraph(base, mode) { g =>
    // base rows = adjacency entries (no dedup in Csr.build): |E|, the
    // message volume per superstep
    if (g.entries == 0)
      return EigenResult(spark.emptyDataset[ScoreState], 0, 0L, 0.0)
    // vertex universe from the packed blocks: exchange-free, ~|V| rows
    // instead of a 2|E| union+distinct (see Superstep.verticesFromAdj)
    val verts = Superstep.verticesFromAdj(g.adj)
    val nVerts = verts.count()

    // y0 = 1.0 everywhere → T0 = n exactly (same literal on both engines)
    val init = Superstep.cut(verts.withColumn("score", lit(1.0)), nVerts)
    var total: Double = nVerts.toDouble

    val t0 = System.nanoTime()
    val (state, iter) = Superstep.iterate(
      Seq(g.adj), init, nVerts, cfg.iterations,
      stats = Seq(sum("score")),
      stop = { (r, _) => total = r.getDouble(0); false },
    ) { (state, _) =>
      // per-edge term (w·y)/T: dividing inside the scatter keeps the
      // oracle's arithmetic identical (see class doc)
      val msgs = Superstep
        .scatter(g.adj, state.select(col("vid"), col("score")))
        .select(col("vid"), (col("w") * col("score") / lit(total)).as("m"))
        .groupBy("vid").agg(sum("m").as("msg"))
      state.select("vid")
        .join(msgs, Seq("vid"), "left_outer")
        .select(col("vid"), coalesce(col("msg"), lit(0.0)).as("score"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val out = state
      .select(col("vid"), (col("score") / lit(total)).as("score"))
      .as[ScoreState]
    EigenResult(out, iter, g.entries, wall)
    } // onGraph
  }
}

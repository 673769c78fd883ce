package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class SsspResult(dists: DataFrame, iterations: Int)

/** Multi-source single-source-shortest-path (Bellman-Ford family): exact
  * minimum total edge WEIGHT from a seed set in the undirected graph — the
  * weighted companion to [[Bfs]] (B family; "cheapest co-occurrence path
  * into the flagged set" over the link graph).
  *
  * Delta-style level-synchronous relaxation: per round only the vertices
  * whose distance IMPROVED last round scatter `dist + w` to their
  * neighbors, the one shuffle takes the per-vertex min candidate, and a
  * vertex re-enters the frontier only when the candidate beats its settled
  * distance. Work per round is proportional to the improved set's
  * out-edges, not |E| — on real graphs the improved set collapses after a
  * few rounds, which is what makes Bellman-Ford viable at 10^12 edges
  * (Dijkstra's priority queue has no distributed analog; delta-stepping's
  * bucket trick is this same "only improved vertices re-scatter" idea).
  * Converges when no distance improves; vertices unreachable from every
  * seed are NOT in the output.
  *
  * Determinism: every reported distance is the fold-left sum of edge
  * weights along some path (relaxation appends one weight at a time on the
  * right), and the min over paths compares those IEEE doubles exactly —
  * both identical in any engine, so the result is exact-match comparable
  * (BASELINE.json:14). With integral co-occurrence weights the sums are
  * exact integers in a double.
  */
object Sssp {

  /** @param seeds one column `vid`; seeds absent from the graph are
    *              ignored. @return (vid, dist) for every REACHED vertex,
    *              dist = min total weight over paths from the seed set.
    */
  def run(
      edges: Dataset[Edge],
      seeds: DataFrame,
      maxIter: Int = 200,
      distinctCanonical: Boolean = false,
  ): SsspResult = {
    // distinctCanonical callers take the shuffle-free symmetrize
    val simple = edges.filter(col("src") =!= col("dst"))
    val sym =
      if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(simple)
      else EdgeBuilder.symmetrize(simple)
    Superstep.onGraph(sym, Csr.WeightMode.Raw) { g =>
    // vertex universe from the packed blocks: exchange-free, ~|V| rows
    // instead of a 2|E| union+distinct (see Superstep.verticesFromAdj)
    val verts = Superstep.verticesFromAdj(g.adj)
    // (vid, dist, improved) — dist null until reached; seeds start at 0
    // and form the first frontier. The cut and the frontier's count run
    // as one job
    val (init, initRow) = Superstep.cutAndAgg(
      verts
        .join(
          seeds.select(col("vid")).distinct().withColumn("isSeed", lit(true)),
          Seq("vid"),
          "left_outer",
        )
        .select(
          col("vid"),
          when(col("isSeed"), lit(0.0)).otherwise(lit(null).cast("double"))
            .as("dist"),
          coalesce(col("isSeed"), lit(false)).as("improved"),
        ),
      g.entries,
      Seq(count_if(col("improved"))),
    )
    val frontier = initRow.getLong(0)
    val (state, iter) = Superstep.iterate(
      Seq(g.adj), init, g.entries, if (frontier > 0) maxIter else 0,
      stats = Seq(count_if(col("improved"))),
      stop = (r, _) => r.getLong(0) == 0,
    ) { (state, _) =>
      // improved vertices scatter dist+w; one shuffle takes the min
      // candidate per touched vertex (map-side partial min combine)
      val cand = Superstep
        .scatter(g.adj, state.where(col("improved")).select(col("vid"), col("dist")))
        .groupBy("vid").agg(min(col("dist") + col("w")).as("cand"))
      state.join(cand, Seq("vid"), "left_outer")
        .select(
          col("vid"),
          when(
            col("cand") < coalesce(col("dist"), lit(Double.MaxValue)),
            col("cand"),
          ).otherwise(col("dist")).as("dist"),
          (col("cand").isNotNull &&
            col("cand") < coalesce(col("dist"), lit(Double.MaxValue)))
            .as("improved"),
        )
    }
    val dists = state.where(col("dist").isNotNull).select(col("vid"), col("dist"))
    SsspResult(dists, iter)
    } // onGraph
  }
}

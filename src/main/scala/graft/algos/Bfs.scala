package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class BfsResult(dists: DataFrame, iterations: Int)

/** Multi-source BFS: exact hop distance from a seed SET in the undirected
  * graph (B family; the triple-pattern "how far is every file from the
  * flagged set" reachability query over the co-occurrence graph).
  *
  * Frontier-style Pregel BFS: per round only the FRONTIER — vertices whose
  * distance was assigned in the previous round — scatters (dist is final
  * once assigned in unweighted BFS, so settled vertices never need to
  * re-send), the one shuffle aggregates the touched-neighbor set, and
  * unreached vertices adopt `round` as their distance. Work per round is
  * proportional to the frontier's out-edges, not |E| — the property that
  * makes level-synchronous BFS viable at 10^12 edges. Converges when the
  * frontier is empty; vertices unreachable from every seed are NOT in the
  * output (their distance is undefined, mirroring the oracle's
  * `WHERE dist IS NOT NULL`).
  *
  * Determinism: hop distance is a min over path lengths — order-free —
  * so the result is exact-match comparable (BASELINE.json:14) even
  * though message arrival order is not.
  */
object Bfs {

  /** @param seeds one column `vid`; seeds absent from the graph are
    *              ignored. @return (vid, dist) for every REACHED vertex.
    */
  def run(
      edges: Dataset[Edge],
      seeds: DataFrame,
      maxIter: Int = 200,
      distinctCanonical: Boolean = false,
  ): BfsResult = {
    // distinctCanonical callers take the shuffle-free symmetrize
    val simple = edges.filter(col("src") =!= col("dst"))
    val sym =
      if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(simple)
      else EdgeBuilder.symmetrize(simple)
    Superstep.onGraph(sym, Csr.WeightMode.One) { g =>
    // vertex universe from the packed blocks: exchange-free, ~|V| rows
    // instead of a 2|E| union+distinct (see Superstep.verticesFromAdj)
    val verts = Superstep.verticesFromAdj(g.adj)
    // (vid, dist) — dist null until reached; seeds start at 0. The cut
    // and the first frontier's count run as one job
    val (init, initRow) = Superstep.cutAndAgg(
      verts
        .join(
          seeds.select(col("vid")).distinct().withColumn("isSeed", lit(true)),
          Seq("vid"),
          "left_outer",
        )
        .select(
          col("vid"),
          when(col("isSeed"), lit(0L)).otherwise(lit(null).cast("long"))
            .as("dist"),
        ),
      g.entries,
      Seq(count_if(col("dist") === 0L)),
    )
    val frontier = initRow.getLong(0)
    val (state, iter) = Superstep.iterate(
      Seq(g.adj), init, g.entries, if (frontier > 0) maxIter else 0,
      stats = Seq(count_if(col("reached"))),
      stop = (r, _) => r.getLong(0) == 0,
    ) { (state, round) =>
      // only the frontier scatters: one (vid) row per out-edge of a
      // vertex settled LAST round, aggregated to the distinct touched set
      val touched = Superstep
        .scatter(g.adj, state.where(col("dist") === round).select(col("vid")))
        .groupBy("vid").agg(count(lit(1)).as("hits"))
      state.join(touched, Seq("vid"), "left_outer")
        .select(
          col("vid"),
          coalesce(
            col("dist"),
            when(col("hits").isNotNull, lit(round + 1L)),
          ).as("dist"),
          (col("dist").isNull && col("hits").isNotNull).as("reached"),
        )
    }
    BfsResult(state.where(col("dist").isNotNull), iter)
    } // onGraph
  }
}

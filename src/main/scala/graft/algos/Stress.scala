package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals

final case class StressResult(
    scores: DataFrame,
    pairs: Long,
    rounds: Int,
)

/** Sampled STRESS centrality (Shimbel 1953; the shortest-path-COUNTING
  * member of Brandes 2008's betweenness variants), T-truncated:
  *
  *   stress_T(v) = Σ_{s ∈ seeds, s ≠ v} σ_s(v) · γ_s(v)
  *
  * the number of shortest paths of length ≤ T from a sampled seed that
  * pass through v as an INTERIOR vertex. Unlike betweenness, whose
  * backward dependency δ(v) = Σ (σ_v/σ_w)(1+δ(w)) is a float ratio,
  * stress factors into two INTEGER surfaces:
  *
  *   forward   σ_s(v) = # shortest s→v paths  (σ finalizes in the round
  *             v is first reached — every predecessor sits exactly one
  *             level up in level-synchronous BFS)
  *   backward  γ_s(v) = Σ_{w: v~w, d(w)=d(v)+1} (1 + γ_s(w))
  *             = # shortest-path tails leaving v downhill
  *
  * so the whole query crosses engines exactly by commutative BIGINT
  * adds — the Katz/HyperBall integer-surface contract — and the q_stress
  * DuckDB oracle replays both sweeps with T unrolled CTEs each. The
  * truncation (paths longer than T ignored, γ = 0 at the horizon) is the
  * deterministic fixed-work contract, and sampling seeds instead of all
  * sources is the standard scale move (Bader & Madduri / Brandes & Pich
  * pivot sampling): at 10^12 edges the cost is K truncated BFS balls,
  * not |V| full sweeps.
  *
  * Execution shape: both sweeps run on [[Superstep.onGraph]]'s packed
  * adjacency of the symmetrized simple graph (hash-partitioned by src)
  * through [[Superstep.iterate]]: per round ONE frontier scatter + ONE
  * (seed, vid)-keyed fold, one action, and the replaced state freed. The
  * backward sweep scatters over the same adjacency: on a symmetrized
  * graph, scattering from v reaches exactly the v' with v' ~ v. State is
  * the reached pair set. Work per round is proportional to the
  * frontier's out-edges — per-seed balls on the hub-capped weight≥2
  * subgraph stay small, and pairs partition by (seed, vid) hash so no
  * single seed's ball serializes.
  */
object Stress {

  /** @param seeds one column `vid`; @param rounds the truncation T. */
  def run(
      edges: Dataset[Edge],
      seeds: DataFrame,
      rounds: Int = 4,
      distinctCanonical: Boolean = false,
  ): StressResult = {
    // distinctCanonical callers take the shuffle-free symmetrize
    val simple = edges.filter(col("src") =!= col("dst"))
    val sym =
      if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(simple)
      else EdgeBuilder.symmetrize(simple)
    Superstep.onGraph(sym, Csr.WeightMode.One) { g =>
      // forward: (seed, vid, dist, sigma); seeds start the frontier
      val init = Superstep.cut(
        seeds.select(col("vid")).distinct()
          .select(
            col("vid").as("seed"),
            col("vid"),
            lit(0).as("dist"),
            lit(1L).as("sigma"),
          ))
      val (reached, _) = Superstep.iterate(Seq(g.adj), init, 0L, rounds) { (state, t) =>
        val frontier = state.where(col("dist") === t)
          .select(col("seed"), col("vid"), col("sigma"))
        // σ finalizes on first touch: only pairs not yet reached join in
        val fresh = Superstep.scatter(g.adj, frontier)
          .groupBy("seed", "vid").agg(sum("sigma").as("sigma"))
          .join(state.select(col("seed"), col("vid")), Seq("seed", "vid"),
            "left_anti")
          .select(col("seed"), col("vid"), lit(t + 1).as("dist"), col("sigma"))
        state.unionByName(fresh)
      }

      // backward: γ = 0 at the truncation horizon, then per level down:
      // γ(v) = Σ over downhill edges (1 + γ(w)); carried as a column
      // updated level-by-level (null until the pair's level is swept).
      // No round adds a pair, so the init's count is the result's
      val (down0, n) = Superstep.cutAndAgg(
        reached.withColumn(
          "gamma",
          when(col("dist") === rounds, lit(0L)).otherwise(lit(null).cast("long"))),
        0L, Seq(count(lit(1))))
      Internals.release(reached)
      val (swept, _) = Superstep.iterate(Seq(g.adj), down0, 0L, rounds) { (state, r) =>
        val bt = rounds - 1 - r
        val down = state.where(col("dist") === bt + 1)
          .select(col("seed"), col("vid"), col("gamma"))
        val gm = Superstep.scatter(g.adj, down)
          .groupBy("seed", "vid").agg(sum(col("gamma") + 1L).as("gsum"))
        state.join(gm, Seq("seed", "vid"), "left_outer")
          .select(
            col("seed"), col("vid"), col("dist"), col("sigma"),
            when(col("dist") === bt, coalesce(col("gsum"), lit(0L)))
              .otherwise(col("gamma")).as("gamma"),
          )
      }

      val scores = swept.where(col("vid") =!= col("seed"))
        .groupBy("vid")
        .agg(sum(col("sigma") * col("gamma")).as("stress"))
      StressResult(scores, n.getLong(0), rounds)
    }
  }
}

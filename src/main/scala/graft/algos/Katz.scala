package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class KatzResult(
    scores: DataFrame,
    iterations: Int,
    edgeCount: Long,
)

/** Katz centrality (Katz 1953, Psychometrika 18(1); Newman "Networks"
  * §7.3), T-truncated with attenuation α = 1/8:
  *
  *   katz(v) = Σ_{t=1..T} α^t · walks_t(v)
  *
  * where walks_t(v) = (Aᵗ·1)(v) is the number of length-t walks ending at
  * v over the symmetrized graph — EXACT integers, computed by the same
  * one-exchange-per-superstep scatter as [[Eigen]]. The engine's output
  * stays on the integer surface
  *
  *   katz_scaled(v) = Σ_{t=1..T} 8^(T−t) · walks_t(v)  =  8^T · katz(v)
  *
  * accumulated in Horner form (acc_t = 8·acc_{t−1} + walks_t), exact
  * cross-engine by commutative BIGINT adds — the same contract as
  * HyperBall's hc_scaled/sumdist_e7 — so the q_katz oracle replays it
  * bit-identically in DuckDB with T unrolled CTEs and the one float
  * centrality katz_scaled/8^T is a caller-side division. α = 1/8 keeps
  * the untruncated series convergent whenever λ_max < 8; the compare
  * contract is the fixed-T truncation regardless (the deterministic
  * stance eigen's fixed-k power iteration takes).
  *
  * Overflow: walks_t(v) ≤ maxdeg·max_u walks_{t−1}(u), so
  * katz_scaled ≤ 8^T·maxdeg^T; the EdgeBuilder star cap bounds maxdeg
  * (measured maxdeg ~5e3 at sf0.1 → katz_scaled ≲ 3e15 at T=4, four
  * orders under 2^62). Guarded twice: Spark 4's default ANSI mode makes
  * any long-sum overflow THROW rather than wrap, and a max-aggregate
  * assert folded into each round's lineage cut (no extra job) enforces
  * the 2^62 headroom explicitly.
  */
object Katz {

  /** @param distinctCanonical caller asserts one row per undirected
    *        (src < dst) pair — symmetrize skips its merge aggregation
    *        (see [[EdgeBuilder.symmetrizeDistinct]]).
    */
  def run(
      edges: Dataset[Edge],
      rounds: Int = 4,
      distinctCanonical: Boolean = false,
  ): KatzResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    val base =
      if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(edges)
      else EdgeBuilder.symmetrize(edges)
    Superstep.onGraph(base, Csr.WeightMode.One) { g =>
      // entries = |E| of the adjacency; message volume per round is |E|
      if (g.entries == 0)
        return KatzResult(
          spark.emptyDataset[(Long, Long, Long)]
            .toDF("vid", "walks", "katz_scaled"),
          0, 0L)

      // vertex universe from the packed blocks: exchange-free, ~|V| rows
      // instead of a 2|E| union+distinct (see Superstep.verticesFromAdj)
      val verts = Superstep.verticesFromAdj(g.adj)
      val nVerts = verts.count()

      // walks_0 = 1 (the empty walk), acc_0 = 0
      val init = Superstep.cut(
        verts.select(
          col("vid"),
          lit(1L).as("walks"),
          lit(0L).as("acc"),
        ),
        nVerts,
      )
      val (state, iter) = Superstep.iterate(
        Seq(g.adj), init, nVerts, rounds,
        stats = Seq(max("acc")),
        // headroom guard per round (ANSI would already have thrown on a
        // wrapped sum; this catches "legal but about to run out")
        stop = { (r, round) =>
          val maxAcc = r.getLong(0)
          require(maxAcc < (1L << 62),
            s"katz_scaled overflow risk: max acc $maxAcc at round $round")
          false
        },
      ) { (state, _) =>
        // one exchange: the walk-count message aggregation; the carry of
        // acc joins back exchange-free (both sides hash-partitioned by
        // vid at p partitions)
        val msgs = Superstep
          .scatter(g.adj, state.select(col("vid"), col("walks")))
          .groupBy("vid").agg(sum("walks").as("w"))
        state.select(col("vid"), col("acc"))
          .join(msgs, Seq("vid"), "left_outer")
          .select(
            col("vid"),
            coalesce(col("w"), lit(0L)).as("walks"),
            (col("acc") * 8L + coalesce(col("w"), lit(0L))).as("acc"),
          )
      }
      KatzResult(
        state.select(col("vid"), col("walks"), col("acc").as("katz_scaled")),
        iter, g.entries)
    }
  }
}

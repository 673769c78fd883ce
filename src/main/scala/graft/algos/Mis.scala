package graft.algos

import graft._
import graft.functions.Hash64
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class MisResult(mis: DataFrame, rounds: Int)

/** Maximal independent set via Luby's algorithm (Luby, "A Simple
  * Parallel Algorithm for the Maximal Independent Set Problem", SIAM J.
  * Comput. 1986) — the classic symmetry-breaking primitive behind
  * distributed coloring, scheduling, and clustering seeds.
  *
  * Luby's coin flips are replaced by the pluggable [[Hash64]] over
  * (round, vid) — deterministic, reproducible, and replayable in the
  * DuckDB oracle in portable mode (the q_walks contract applied to a
  * symmetry-breaking algorithm). Per round, over the still-active
  * vertices:
  *
  *   1. priority p(v) = hash(round, vid) & (2^60−1), totally ordered as
  *      (p, vid) — ties broken by vid, so adjacent actives never tie;
  *   2. v WINS (joins the MIS) iff (p(v), v) < min over active
  *      neighbors, or it has no active neighbor left;
  *   3. winners and their neighbors deactivate.
  *
  * The globally-minimum active (p, vid) always wins, so every round
  * removes at least one vertex (termination is unconditional);
  * hash-uniform priorities remove a constant fraction of EDGES per
  * round in expectation — O(log n) rounds w.h.p., each costing two
  * message exchanges over the remaining subgraph's edges (the min-
  * priority scatter and the winner notification), both with map-side
  * partial aggregation. The adjacency is CSR-built once and never
  * rewritten; deactivated vertices just stop scattering (the KCore
  * peeling contract).
  *
  * Output is EXACT-match deterministic (BASELINE.json:14): independence
  * and maximality hold by construction, and the specific set is a pure
  * function of the hash mode.
  */
object Mis {

  private val Mask60 = (1L << 60) - 1

  def run(
      edges: Dataset[Edge],
      hash: Hash64 = Hash64.Xx,
      maxRounds: Int = 256,
      distinctCanonical: Boolean = false,
  ): MisResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    // one undirected edge per direction, duplicates merged, no
    // self-loops (a self-loop would make a vertex its own neighbor and
    // empty the MIS) — the KCore base build; distinctCanonical callers
    // take the shuffle-free symmetrize
    val simple = edges.filter(col("src") =!= col("dst"))
    val sym =
      (if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(simple)
       else EdgeBuilder.symmetrize(simple))
        .select(col("src"), col("dst"), lit(1.0).as("weight"))
        .as[Edge]
    Superstep.onGraph(sym, Csr.WeightMode.One) { g =>
    // status: 0 = active, 1 = in MIS, 2 = dominated (a neighbor won)
    val (init, initRow) = Superstep.cutAndAgg(
      Superstep.verticesFromAdj(g.adj).withColumn("status", lit(0)),
      g.entries,
      Seq(count(lit(1))),
    )
    var remaining = initRow.getLong(0)
    val (state, iter) = Superstep.iterate(
      Seq(g.adj), init, g.entries, if (remaining > 0) maxRounds else 0,
      stats = Seq(count_if(col("status") === 0)),
      stop = { (r, _) => remaining = r.getLong(0); remaining == 0 },
    ) { (state, round) =>
      val pri = state.where(col("status") === 0).select(
        col("vid"),
        hash.pair(lit(round + 1), col("vid")).bitwiseAND(lit(Mask60)).as("h"),
      )
      // min active-neighbor (priority, vid) per destination: only active
      // vertices scatter, so arrivals are exactly the active neighbors
      val minNbr = Superstep
        .scatter(
          g.adj,
          pri.select(
            col("vid"),
            struct(col("h").as("h"), col("vid").as("pvid")).as("pri"),
          ),
        )
        .groupBy("vid").agg(min(col("pri")).as("mn"))
      val winners = Superstep.cut(
        pri.join(minNbr, Seq("vid"), "left_outer")
          .where(
            col("mn").isNull ||
              struct(col("h").as("h"), col("vid").as("pvid")) < col("mn")
          )
          .select(col("vid")),
        remaining,
      )
      // winner notification: neighbors of winners become dominated
      val hit = Superstep.scatter(g.adj, winners)
        .select(col("vid")).distinct()
      state
        .join(winners.withColumn("won", lit(1)), Seq("vid"), "left_outer")
        .join(hit.withColumn("dom", lit(1)), Seq("vid"), "left_outer")
        .select(
          col("vid"),
          when(col("status") =!= 0, col("status"))
            .when(col("won").isNotNull, lit(1))
            .when(col("dom").isNotNull, lit(2))
            .otherwise(lit(0)).as("status"),
        )
    }
    MisResult(state.where(col("status") === 1).select(col("vid")), iter)
    } // onGraph
  }
}

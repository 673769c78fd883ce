package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals

/** Deterministic one-level Louvain move pass (Blondel et al. 2008, "Fast
  * unfolding of communities in large networks", J. Stat. Mech. P10008) —
  * the modularity-MAXIMIZING companion to [[LabelProp]]: LP only finds
  * communities by plurality voting; this pass greedily improves Newman
  * modularity Q directly and composes with [[Modularity.of]] for scoring.
  *
  * Semantics (unweighted simple graph — the same Q that [[Modularity]]
  * scores): every vertex v considers joining the community of one of its
  * neighbors. The standard Louvain gain of moving v into community c,
  * compared across candidates with the removal-from-own-community term
  * constant, reduces to ranking candidates by
  *
  *   gain2m(v,c) = 2m·k(v,c) − deg(v)·(Σtot(c) − [c = comm(v)]·deg(v))
  *
  * where k(v,c) = #neighbors of v currently in c, Σtot(c) = Σ_{u∈c} deg(u),
  * and the [c = own] correction removes v itself from its community's
  * degree total (Blondel et al. §2; the 2m scaling clears every division so
  * the comparison is EXACT INTEGER arithmetic — decimal(38,0) here, HUGEINT
  * in the DuckDB oracle — no float ordering can diverge cross-engine).
  *
  * Determinism devices (the reference Louvain is sequential and
  * order-dependent; a naive synchronous parallel variant oscillates —
  * two adjacent vertices can swap communities forever):
  *   - synchronous rounds: all decisions read the round-START state;
  *   - strict improvement: move only if best gain2m > stay2m (= gain2m of
  *     the own community, always a candidate via a k=0 row);
  *   - smallest-community-label tie-break via max(struct(gain, -nc));
  *   - parity gating: round r only lets vertices with
  *     ((vid % 2)+2) % 2 == r % 2 move — adjacent same-round movers are
  *     halved and the alternation breaks 2-cycles (the standard
  *     distributed-Louvain mitigation, e.g. Que et al. 2015 §III-B);
  *   - singleton minimum-label guard (Lu, Halappanavar & Kalyanaraman
  *     2015, "Parallel heuristics for scalable community detection",
  *     §4.1): a SINGLETON vertex never moves to a SINGLETON community
  *     with a larger label. Without it the all-singleton first round
  *     label-chases (v→w while w→x) and permanently fragments cliques —
  *     measured on the two-K5-bridge fixture: Q 0.285 without the guard
  *     vs the optimal 0.452 with it;
  *   - a FIXED round count, mirrored exactly by the unrolled oracle — no
  *     engine-converges-early / oracle-freezes-silently slack (the q_mis
  *     fixpoint-vs-unroll hazard the round-4 ADVICE flagged is structurally
  *     absent here).
  *
  * Execution shape per round (states hash(vid)-partitioned throughout,
  * LP's scatter substrate reused): Σtot is a groupBy(comm) of state⋈deg
  * [exchange 1: by comm]; k(v,c) is the LP-style scatter with map-side
  * [[LongLongDoubleMap]] pre-reduce and ONE repartition by vid
  * [exchange 2]; candidate gains join k against Σtot on the community key
  * [exchange 3: by comm — Σtot is |communities|-sized, NOT broadcastable at
  * 10^12 scale where round 1 has |V| communities]; the argmax groups back
  * by vid [exchange 4]. Four exchanges per round is inherent to Louvain's
  * community-level bookkeeping (LP needs one; Louvain adds the Σtot
  * aggregate + redistribution) — each is a sum/count of longs with map-side
  * partial aggregation, never a fat row.
  */
object Louvain {

  /** @param edges  canonical (src<dst) simple weighted edges; weights are
    *               IGNORED (unweighted Q, matching [[Modularity.of]]).
    * @param rounds fixed synchronous move rounds (run exactly, no early
    *               exit — see determinism notes above).
    * @return (vid, comm) — comm is the smallest-label convention vid of
    *         the community each vertex ended in.
    */
  def run(
      edges: Dataset[Edge],
      rounds: Int = 4,
      distinctCanonical: Boolean = false,
  ): DataFrame = {
    // distinctCanonical callers (one row per undirected src<dst pair)
    // take the shuffle-free symmetrize — see EdgeBuilder
    val base =
      if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(edges)
      else EdgeBuilder.symmetrize(edges)
    // sym entries = 2m, m = |undirected simple edges|: candidate volume
    // per round is ~2m, so the entry count sizes the partitions
    Superstep.onGraph(base, Csr.WeightMode.One) { g =>
      val m: Long = g.entries / 2
      val adjCount = 2L * m
      // simple degree, hash(vid)-partitioned (groupBy src leaves it there)
      val degDf = Superstep.cut(
        g.base.toDF().groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .select(col("src").as("vid"), col("deg"))
      )
      val twoM = lit(2L * m).cast("decimal(38,0)")

      val (verts, vRow) = Superstep.cutAndAgg(
        Superstep.verticesFromAdj(g.adj), adjCount, Seq(count(lit(1))))
      val init = verts.select(col("vid"), col("vid").as("comm"))
      // Σtot has one row per community — bounded by the vertex count, so
      // the broadcast decision is a free, deterministic count gate (same
      // policy as KTruss/Dedup): tiny graphs ship the dimension map-side,
      // 10^10-vertex graphs shuffle it
      val nVerts = vRow.getLong(0)
      val bcastTot = nVerts <= (4L << 20)
      val (state, _) = Superstep.iterate(
        Seq(g.adj, degDf), init, adjCount, rounds,
      )((state, round) => moveRound(g.adj, state, degDf, twoM, g.p,
        round + 1, bcastTot, candRows = 2L * m + nVerts))
      Internals.release(degDf)
      state
    }
  }

  /** One synchronous gain-argmax move round. Package-visible for the
    * plan-shape suite.
    *
    * Round-6 rework — the round is now one LINEAR chain, so [[run]]
    * lineage-cuts it in a single job (the old shape materialized an
    * |E|-row candidate frame per round because `stay`, `best` and the
    * state update each re-referenced it):
    *   - the own-community candidate (k = 0) is injected BEFORE the one
    *     vid repartition, removing the second full |E|-row exchange the
    *     old union + re-repartition paid;
    *   - the own-community gain (`stay`) and size (`ownsz`, for the
    *     singleton guard) no longer come from a self-join of the
    *     candidate set: ownsz rides a state ⋈ Σtot dimension join
    *     (broadcast under the same count gate) and stay folds into the
    *     SAME per-vid aggregate as the argmax
    *     (max(when(nc = comm, gain))) — semantics unchanged, the own
    *     row is always present.
    * Exchange count per round (broadcast mode): the Σtot groupBy(comm)
    * [1] and the one vid repartition of the pre-reduced candidate
    * partials [2] — down from four.
    */
  private[graft] def moveRound(
      adj: Dataset[AdjBlock],
      state: DataFrame,
      degDf: DataFrame,
      twoM: org.apache.spark.sql.Column,
      p: Int,
      r: Int,
      bcastTot: Boolean = true,
      candRows: Long = 0L,
  ): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    // Σtot(c) = Σ_{v∈c} deg(v) and |c| (for the singleton guard) — state
    // ⋈deg is exchange-free (both hash(vid)); the groupBy(comm) is
    // exchange 1. One row per community (≤ |V|, shrinking every round) →
    // broadcast dimension under the count gate, never a shuffle of the
    // |E|-sized candidate set on nc at 10^12 scale the gate falls back
    // to a shuffle join.
    // materialize Σtot once per round: the dimension is referenced TWICE
    // (ownDf and the candidate join) and broadcast(ctot) used to plan two
    // identical broadcast-build jobs per round — each re-running the
    // state⋈deg aggregate (measured r6 via event log: 2 × ~1.3 s warm
    // per round). A lineage cut makes both references scan the same
    // cached |communities|-row frame and lets ReuseExchange collapse the
    // two broadcast exchanges into one.
    val ctot = Superstep.cut(
      state.join(degDf, "vid")
        .groupBy("comm").agg(sum("deg").as("tot"), count(lit(1)).as("csz"))
        .select(col("comm").as("nc"), col("tot"), col("csz")))
    val ctotSide = if (bcastTot) broadcast(ctot) else ctot
    // own-community size per vertex (singleton guard input): a second
    // reference to the same broadcast dimension, reused not recomputed
    val ownDf = state
      .join(ctotSide, state("comm") === ctot("nc"))
      .select(col("vid"), col("comm"), col("csz").as("ownsz"))
    // k(v,c): every neighbor scatters its community; map-side pre-reduce
    // in a primitive map (hub guard); the OWN community joins the stream
    // as a kw = 0 row so it is always a candidate and `stay` falls out
    // of the same gain column; then the ONE vid repartition (exchange 2)
    // — hash(vid) satisfies the groupBy (vid, nc) clustering and every
    // downstream vid join/aggregate, no further exchange
    val partials = Superstep.scatter(adj, state)
      .select(col("vid"), col("comm"), col("w"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val mm = new LongLongDoubleMap(1 << 12)
        it.foreach { case (v, c, w) => mm.add(v, c, w) }
        mm.iterator
      }
      .toDF("vid", "nc", "kw")
    val kAll = partials
      .unionByName(
        state.select(col("vid"), col("comm").as("nc"), lit(0.0).as("kw"))
      )
      .repartition(p, col("vid"))
      .groupBy("vid", "nc")
      .agg(sum("kw").cast("long").as("k"))
    // candidate gains + singleton minimum-label guard + argmax with
    // smallest-nc tie-break, all in one pass over the candidate rows;
    // the own community always participates — at gain == stay it can
    // win the tie but never the strict > below, so "best is own"
    // degenerates to "keep"
    val agg = kAll
      .join(ownDf, "vid")
      .join(degDf, "vid")
      .join(ctotSide, "nc")
      .select(
        col("vid"),
        col("nc"),
        col("comm"),
        col("csz"),
        col("ownsz"),
        (twoM * col("k")
          - col("deg").cast("decimal(38,0)")
            * (col("tot")
              - when(col("nc") === col("comm"), col("deg"))
                .otherwise(lit(0L))))
          .as("gain"),
      )
      .where(
        col("nc") === col("comm")
          || !(col("csz") === 1L && col("ownsz") === 1L
            && col("nc") > col("comm"))
      )
      .groupBy("vid")
      .agg(
        max(struct(col("gain"), (-col("nc")).as("nn"))).as("b"),
        max(when(col("nc") === col("comm"), col("gain"))).as("stay"),
        max(col("comm")).as("comm"), // functionally determined by vid
      )
    val parity = ((col("vid") % 2) + 2) % 2
    agg.select(
      col("vid"),
      when(parity === lit(r % 2) && col("b.gain") > col("stay"),
        -col("b.nn"))
        .otherwise(col("comm"))
        .as("comm"),
    )
  }
}

package graft.algos

import graft._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals

/** Synchronous label propagation (B3, BASELINE.json:6,14).
  *
  * Each superstep, every vertex adopts the label with the highest total
  * incident edge weight among its neighbors' CURRENT labels; ties break to
  * the SMALLEST label. Runs a fixed number of synchronous iterations (LP
  * has no convergence guarantee). Synchronous update + deterministic
  * tie-break is what makes the exact-match contract achievable — the
  * asynchronous variant is schedule-dependent (SURVEY §2.B B3).
  *
  * Exactness note: label "frequencies" are sums of edge weights. Our edge
  * weights are co-occurrence COUNTS (integer-valued doubles), so the sums
  * are exact regardless of reduction order; arbitrary fractional weights
  * would reintroduce float-order nondeterminism, in which case use
  * weighted=false.
  *
  * Execution shape — ONE exchange per superstep (same contract as
  * PageRank's): the scatter join is exchange-free (adj and state share
  * hash(vid) partitioning), per-task (vid, label) → Σw partials are
  * combined map-side in a [[LongLongDoubleMap]] (the skew guard: a hub
  * label's messages pre-reduce before the wire), then ONE repartition by
  * vid; both downstream aggregates (final per-(vid,label) sum, then
  * argmax-with-tie-break) and the state join are exchange-free because
  * hash(vid) already satisfies their clustering.
  *
  * The argmax-with-tie-break needs no UDAF: max over struct(cnt, -label)
  * picks the max count and, within equal counts, the max negated label =
  * the smallest label (SURVEY §2.A G7).
  *
  * Resumable (north_star: "all runs are resumable"): pass a
  * [[SnapshotStore]]; every `cfg.checkpointEvery` iterations (and at the
  * end) the (vid, label) state is snapshotted with iteration metrics, and
  * a fresh run resumes from the latest manifest.
  */
object LabelProp {

  def run(
      edges: Dataset[Edge],
      cfg: LpConfig = LpConfig(),
      store: Option[SnapshotStore] = None,
  ): Dataset[LabelState] = {
    val spark = edges.sparkSession
    import spark.implicits._
    // distinctCanonical inputs take the shuffle-free symmetrize
    val input = Internals.cachedLeaf(edges)
    val base =
      if (cfg.distinctCanonical) EdgeBuilder.symmetrizeDistinct(input)
      else EdgeBuilder.symmetrize(input)
    val mode = if (cfg.weighted) Csr.WeightMode.Raw else Csr.WeightMode.One
    Superstep.onGraph(base, mode) { g =>
    val (init, from, _) = Superstep.start(g, store, "label")
    val (state, _) = Superstep.iterate(
      Seq(g.adj), init, g.entries, cfg.iterations, from = from,
      store = store, checkpointEvery = cfg.checkpointEvery,
    )((state, _) => superstep(g.adj, state, g.p))
    state.select(col("vid"), col("label")).as[LabelState]
    } // onGraph
  }

  /** One synchronous superstep: (vid, label) state in, next state out.
    * Package-visible so the plan-shape suite can pin the one-exchange
    * contract without running the full loop.
    */
  private[graft] def superstep(
      adj: Dataset[AdjBlock],
      state: org.apache.spark.sql.DataFrame,
      p: Int,
  ): org.apache.spark.sql.DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    val partials = Superstep.scatter(adj, state)
      .select(col("vid"), col("label"), col("w"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val m = new LongLongDoubleMap(1 << 12)
        it.foreach { case (v, l, w) => m.add(v, l, w) }
        m.iterator
      }
      .toDF("vid", "label", "w")
    val counts = partials
      .repartition(p, col("vid")) // the ONE exchange of the superstep
      .groupBy("vid", "label")
      .agg(sum("w").as("cnt"))
    val winners = counts
      .groupBy("vid")
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col("vid"), (-col("m.nl")).as("newLabel"))
    state.join(winners, Seq("vid"), "left_outer")
      .select(
        col("vid"),
        coalesce(col("newLabel"), col("label")).as("label"),
      )
  }
}

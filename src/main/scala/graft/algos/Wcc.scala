package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel

final case class WccResult(comps: Dataset[CompState], iterations: Int)

/** Weakly-connected components (B2, BASELINE.json:6,14).
  *
  * Component id = the minimum vertex id reachable in the undirected graph.
  * Min is commutative/associative/idempotent, so the result is independent
  * of partitioning and reduction order — which is what makes the EXACT
  * match contract achievable (SURVEY §7.4.2).
  *
  * Two convergence modes:
  *   - `pointerJump = false`: plain min-label propagation — one message
  *     shuffle per round, O(diameter) rounds. The obviously-correct
  *     baseline and the cross-check for the accelerated path.
  *   - `pointerJump = true` (default): min-label + ADAPTIVE pointer
  *     jumping, comp'(v) = comp(comp(v)) — the HashToMin-style doubling
  *     activated only when plain rounds stop collapsing `changed`
  *     geometrically (see the loop comment; O(log n) bound preserved)
  *     (Rastogi et al., "Finding Connected Components in MapReduce")
  *     that converges in O(log n) rounds on ANY diameter. Chosen over
  *     Kiveris large-star/small-star because it reuses the engine's CSR
  *     adjacency and one-shuffle message reduce unchanged (large/small-star
  *     rewrites the edge multiset every round — an extra full-edge shuffle
  *     per round), with the same O(log n) round bound.
  *
  * Pointer-jump skew/scale shape: the jump lookup is restricted to the
  * CURRENT COMP IMAGE (distinct comp values). The image never grows
  * round over round — not an assumption but structural: every comp value
  * of round i+1 is `least(prev, min-of-neighbor-prevs)` or a looked-up
  * comp of such a value, i.e. ALWAYS an element of round i's image, so
  * image(i+1) ⊆ image(i) as sets. Round i's measured
  * approx_count_distinct therefore upper-bounds round i+1's lookup size
  * up to approx error only (~2% rsd), which the 2x slack below covers. In
  * the endgame — exactly when components collapse and the comp key becomes
  * skewed — the image is small, so the lookup is BROADCAST and the jump
  * costs no shuffle at all; the broadcast decision uses the previous
  * round's `approx_count_distinct(comp)` (free, rides the same action as
  * the convergence count). Early rounds have a near-uniform comp image,
  * so the fallback shuffle join is balanced.
  *
  * Correctness of the jump: comp only decreases and stays within the
  * component's vid set; at a fixpoint comp is edge-constant (= component-
  * constant) and the constant c satisfies comp(c) = c with c ≤ min (values
  * never leave the component) and c ≥ min (comp(min) ≤ min can only be
  * min) — so c IS the component minimum, same contract as min-label.
  *
  * Resumable (north_star: "all runs are resumable"): pass a
  * [[SnapshotStore]]; every `checkpointEvery` rounds (and at convergence)
  * the (vid, comp) state is snapshotted with round metrics, and a fresh
  * run resumes from the latest manifest.
  */
object Wcc {

  def run(
      edges: Dataset[Edge],
      maxIter: Int = 200,
      store: Option[SnapshotStore] = None,
      pointerJump: Boolean = true,
      checkpointEvery: Int = 8,
      broadcastJumpMax: Long = 1L << 20,
  ): WccResult = Superstep.withAqeOff(edges.sparkSession) {
    val spark = edges.sparkSession
    import spark.implicits._
    // persisted: the CSR build and the init-state cut both traverse the
    // symmetrized base (see Eigen for the measurement). Union-only
    // symmetrize (round 6): min-label propagation is IDEMPOTENT in the
    // adjacency — duplicate (u,v) entries (two-direction inputs,
    // multi-edges, self-loops) cannot change any min — so the general
    // symmetrize's merge aggregation (one full 2|E| exchange) is pure
    // overhead here for ANY input, not just canonical ones.
    val sym = EdgeBuilder.symmetrizeDistinct(Internals.cachedLeaf(edges))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adjCount = sym.count() // = adjacency entries; also sizes pEff
    val pEff = Tuning.adaptivePartitions(spark, adjCount)
    Tuning.withShufflePartitions(spark, pEff) {
    val p = pEff
    val adj = Csr.buildCut(sym, p, Csr.WeightMode.One, approxEntries = adjCount)

    val resumed = store.flatMap(_.latest(spark))
    var iter = resumed.map(_._1.iteration).getOrElse(0)
    val startIter = iter
    // lineage truncated every superstep — see PageRank for the rationale.
    // The (vid, vid AS comp) projection goes AFTER the checkpoint: of the
    // alias-induced PartitioningCollection, localCheckpoint keeps only the
    // first element (hash(comp)) — see LabelProp.
    var state: DataFrame = resumed match {
      case Some((_, df)) =>
        Superstep.cut(df.repartition(p, col("vid")), adjCount)
      case None =>
        Superstep.cut(Superstep.verticesFromAdj(adj), adjCount)
          .select(col("vid"), col("vid").as("comp"))
    }
    var changed = 1L // loop control; sentinel 1 to enter
    var img = Long.MaxValue // comp-image size upper bound (prev round)
    // ADAPTIVE jump activation: pointer jumping costs ~2 extra small jobs
    // and (when not broadcast) two extra shuffles per round — pure
    // overhead on low-diameter graphs where plain min-label already
    // collapses `changed` geometrically. Jump only once `changed` stops
    // halving round-over-round (slow front propagation = long chains).
    // The O(log n) round bound SURVIVES the adaptation: while the trigger
    // keeps failing, changed <= prevChanged/2 every round, so after
    // <= log2(|V|) plain rounds changed hits 0 (converged) or the ratio
    // trips (changed stagnant) and jumping takes over with its own
    // O(log n) doubling; once tripped it stays on (sticky).
    // chHist = (changed at round i, at round i-1), -1 = not yet measured.
    // The trigger state rides in the snapshot metrics so a RESUMED run
    // replays the exact trajectory the straight run would have taken
    // (CheckpointSpec pins resumed == straight - prefix).
    var chHist = (-1L, -1L)
    var jumpOn = false
    resumed.foreach { case (snap, _) =>
      changed = snap.metrics.getOrElse("changed", 1.0).toLong
      chHist = (
        snap.metrics.getOrElse("changed", -1.0).toLong,
        snap.metrics.getOrElse("prevChanged", -1.0).toLong,
      )
      jumpOn = snap.metrics.getOrElse("jumpOn", 0.0) > 0
      // restore the broadcast-decision bound too (plan parity with the
      // straight run; infinity → Long.MaxValue → no broadcast, safe)
      img = (snap.metrics.getOrElse("compImageApprox", Double.MaxValue) * 2)
        .toLong
    }
    while (iter < maxIter && changed > 0) {
      val t0 = System.nanoTime()
      if (pointerJump && !jumpOn && chHist._1 >= 0 && chHist._2 >= 0 &&
        chHist._1 * 2 > chHist._2) jumpOn = true
      val msgs = Superstep.scatter(adj, state)
        .groupBy("vid").agg(min("comp").as("mc"))
      val half = state.join(msgs, Seq("vid"), "left_outer")
        .select(
          col("vid"),
          least(col("comp"), coalesce(col("mc"), col("comp"))).as("comp"),
          col("comp").as("oldComp"),
        )
      val next = if (!jumpOn) half
      else {
        // half feeds the jump twice (probe + lookup): materialize once
        val h = Superstep.cut(half, adjCount)
        val imgDf = h.select(col("comp")).distinct()
          .withColumnRenamed("comp", "vid")
        // lookup: comp(c) for c in the comp image, non-root rows only
        val lookup = h.select(col("vid"), col("comp"))
          .join(imgDf, Seq("vid"), "left_semi")
          .where(col("comp") =!= col("vid"))
          .select(col("vid").as("cv"), col("comp").as("cc"))
        val looked =
          if (img <= broadcastJumpMax) broadcast(lookup) else lookup
        h.join(looked, h("comp") === col("cv"), "left_outer")
          .select(
            h("vid"),
            coalesce(col("cc"), h("comp")).as("comp"),
            col("oldComp"),
          )
      }
      // lineage cut + round stats in ONE job (round-3 verdict: the
      // separate post-cut aggregate was a second small job per round —
      // pure fixed overhead over the whole convergence trajectory)
      val (mat, stats) = Superstep.cutAndAgg(
        next.select(
          col("vid"),
          col("comp"),
          (col("comp") < col("oldComp")).as("changed"),
        ),
        adjCount,
        Seq(
          coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L)),
          approx_count_distinct(col("comp")),
        ),
      )
      changed = stats.getLong(0)
      chHist = (changed, chHist._1)
      // approx (~2% rsd) is plenty for a broadcast-threshold decision;
      // 2x slack below keeps the decision safe against the estimate error
      img = (stats.getLong(1) * 2) min Long.MaxValue
      state = mat.drop("changed")
      iter += 1
      val secs = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("GRAFT_DEBUG"))
        System.err.println(
          f"[wcc] iter=$iter changed=$changed img~${stats.getLong(1)} " +
            f"jumpOn=$jumpOn $secs%.2fs")
      val converged = changed == 0 || iter >= maxIter
      if (iter % checkpointEvery == 0 || converged) store.foreach { s =>
        s.write(
          iter,
          state,
          Map(
            "changed" -> changed.toDouble,
            "prevChanged" -> chHist._2.toDouble,
            "jumpOn" -> (if (jumpOn) 1.0 else 0.0),
            "compImageApprox" -> stats.getLong(1).toDouble,
            "seconds" -> secs,
            "numPartitions" -> p.toDouble,
          ),
        )
      }
    }
    val out = state.select(col("vid"), col("comp")).as[CompState]
    adj.unpersist(false)
    sym.unpersist(false)
    WccResult(out, iter - startIter)
    } // withShufflePartitions
  }
}

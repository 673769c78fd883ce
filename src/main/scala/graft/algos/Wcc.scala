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
  * Three modes. An input of at most `driverMaxPairs` pairs (default
  * 2^20, ~16 MB of ids) takes the first; a larger one runs the superstep
  * LOOP over the symmetrized adjacency in one of the other two:
  *   - the DRIVER PATH collects the (src, dst) pairs and runs union-find,
  *     the larger root hung under the smaller, so every root is its
  *     component's min id — the same bounded-small-side reasoning as a
  *     broadcast join's build side. One row per endpoint (a vertex whose
  *     only edge is a self-loop included), `iterations = 0`. No superstep
  *     runs: `maxIter`, `pointerJump`, `checkpointEvery` and
  *     `broadcastJumpMax` do not apply, and `store` is neither read nor
  *     written — resume matters when the rounds are the long pole, which
  *     by this bound they are not. `driverMaxPairs = 0` runs the loop on
  *     any non-empty input.
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
  * the loop snapshots the (vid, comp) state with round metrics, and a
  * fresh run that takes the loop resumes from the latest manifest.
  *
  * The input is persisted for the count unless the caller cached it; a
  * cache made here is dropped on return.
  */
object Wcc {

  def run(
      edges: Dataset[Edge],
      maxIter: Int = 200,
      store: Option[SnapshotStore] = None,
      pointerJump: Boolean = true,
      checkpointEvery: Int = 8,
      broadcastJumpMax: Long = 1L << 20,
      driverMaxPairs: Long = 1L << 20,
  ): WccResult = {
    // the count and the path it picks read one cache; both paths'
    // results are materialized before a cache made here is dropped
    val owned = edges.storageLevel == StorageLevel.NONE
    if (owned) edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val leaf = Internals.cachedLeaf(edges)
      if (leaf.count() <= driverMaxPairs) unionFind(leaf)
      else rounds(leaf, maxIter, store, pointerJump, checkpointEvery,
        broadcastJumpMax)
    } finally if (owned) edges.unpersist(false)
  }

  /** The driver path: union-find over the collected pairs. Vertex ids are
    * indexed in sorted order and a union hangs the larger root under the
    * smaller, so every root is its component's minimum id.
    */
  private def unionFind(leaf: Dataset[Edge]): WccResult = {
    val spark = leaf.sparkSession
    import spark.implicits._
    val pairs = leaf.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val ends = new Array[Long](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      ends(2 * i) = pairs(i)._1
      ends(2 * i + 1) = pairs(i)._2
      i += 1
    }
    java.util.Arrays.sort(ends)
    var n = 0
    i = 0
    while (i < ends.length) {
      if (n == 0 || ends(n - 1) != ends(i)) { ends(n) = ends(i); n += 1 }
      i += 1
    }
    val vids = java.util.Arrays.copyOf(ends, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(v: Long): Int = java.util.Arrays.binarySearch(vids, v)
    pairs.foreach { case (a, b) =>
      val ra = find(index(a)); val rb = find(index(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val comps = Seq.tabulate(n)(j => CompState(vids(j), vids(find(j))))
    WccResult(spark.createDataset(comps), 0)
  }

  /** The loop: supersteps over the symmetrized adjacency. */
  private def rounds(
      leaf: Dataset[Edge],
      maxIter: Int,
      store: Option[SnapshotStore],
      pointerJump: Boolean,
      checkpointEvery: Int,
      broadcastJumpMax: Long,
  ): WccResult = {
    val spark = leaf.sparkSession
    import spark.implicits._
    // Union-only symmetrize (round 6): min-label propagation is IDEMPOTENT
    // in the adjacency — duplicate (u,v) entries (two-direction inputs,
    // multi-edges, self-loops) cannot change any min — so the general
    // symmetrize's merge aggregation (one full 2|E| exchange) is pure
    // overhead here for ANY input, not just canonical ones.
    val sym = EdgeBuilder.symmetrizeDistinct(leaf)
    Superstep.onGraph(sym, Csr.WeightMode.One) { g =>
      val (init, from, resumed) = Superstep.start(g, store, "comp")
      val (state, iter, _) = propagate(
        g, init, g.entries, maxIter, pointerJump, broadcastJumpMax,
        from = from, resumed = resumed, store = store,
        checkpointEvery = checkpointEvery)
      WccResult(state.as[CompState], iter - from)
    }
  }

  /** Min-label propagation over `g.adj` through [[Superstep.iterate]]:
    * comp(v) ← min(comp(v), min over in-neighbors u of comp(u)), plus the
    * ADAPTIVE pointer jump when `pointerJump` is set (see [[Wcc]]). `init`
    * is the `(vid, comp)` state; `rows` sizes the cuts. [[Scc]] runs it on
    * each directed adjacency of a peel.
    *
    * The loop control (`changed`, its history, `jumpOn` and the comp-image
    * estimate) rides in the snapshot metrics, and a run from round `from`
    * reads it back from `resumed`, so a RESUMED run replays the exact
    * trajectory the straight run would have taken (CheckpointSpec pins
    * resumed == straight - prefix).
    *
    * @param keep checkpoints the rounds must not free besides `g.adj`
    *             (see [[Superstep.iterate]]): the cut `init` projects, if
    *             another reader still needs it.
    * @return the last state, the round reached, and whether the last
    *         round changed nothing.
    */
  private[algos] def propagate(
      g: Superstep.Graph,
      init: DataFrame,
      rows: Long,
      maxRounds: Int,
      pointerJump: Boolean,
      broadcastJumpMax: Long,
      keep: Seq[Dataset[_]] = Nil,
      from: Int = 0,
      resumed: Map[String, Double] = Map.empty,
      store: Option[SnapshotStore] = None,
      checkpointEvery: Int = 1,
  ): (DataFrame, Int, Boolean) = {
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
    // A fresh start reads the defaults: changed sentinel 1 to enter, no
    // history, jump off, and no comp-image bound (Long.MaxValue: no
    // broadcast).
    var changed = resumed.getOrElse("changed", 1.0).toLong
    var chHist = (
      resumed.getOrElse("changed", -1.0).toLong,
      resumed.getOrElse("prevChanged", -1.0).toLong,
    )
    var jumpOn = resumed.getOrElse("jumpOn", 0.0) > 0
    // comp-image size upper bound (prev round)
    var img = (resumed.getOrElse("compImageApprox", Double.MaxValue) * 2)
      .toLong
    val (state, round) = Superstep.iterate(
      g, init, rows, if (changed > 0) maxRounds else 0, from = from,
      // lineage cut + round stats in ONE job (round-3 verdict: the
      // separate post-cut aggregate was a second small job per round —
      // pure fixed overhead over the whole convergence trajectory)
      stats =
        Seq(count_if(col("changed")), approx_count_distinct(col("comp"))),
      stop = { (r, _) =>
        changed = r.getLong(0)
        chHist = (changed, chHist._1)
        // approx (~2% rsd) is plenty for a broadcast-threshold decision;
        // 2x slack below keeps the decision safe against the estimate error
        img = (r.getLong(1) * 2) min Long.MaxValue
        changed == 0
      },
      keep = keep,
      store = store,
      checkpointEvery = checkpointEvery,
      metrics = r => Map(
        "changed" -> changed.toDouble,
        "prevChanged" -> chHist._2.toDouble,
        "jumpOn" -> (if (jumpOn) 1.0 else 0.0),
        "compImageApprox" -> r.getLong(1).toDouble,
      ),
    ) { (state, _) =>
      if (pointerJump && !jumpOn && chHist._1 >= 0 && chHist._2 >= 0 &&
        chHist._1 * 2 > chHist._2) jumpOn = true
      val msgs = Superstep.scatter(g.adj, state)
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
        val h = Superstep.cut(half, rows)
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
      next.select(
        col("vid"),
        col("comp"),
        (col("comp") < col("oldComp")).as("changed"),
      )
    }
    (state, round, changed == 0)
  }
}

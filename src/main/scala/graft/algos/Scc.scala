package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

final case class SccResult(
    comps: DataFrame, // (vid, scc) — scc = min vid of the strongly-connected component
    peels: Int, // outer trim+FB rounds
    trimRounds: Int, // total trim sweeps across all peels
    propRounds: Int, // total min-label propagation rounds (both directions)
    edgesCut: DataFrame, // materialized deduped src=!=dst edge set (for condense)
)

final case class CondensationResult(
    levels: DataFrame, // (scc, level, size) — one row per SCC
    rounds: Int, // longest-path relaxation rounds to fixpoint (= DAG depth)
    scc: SccResult,
)

/** Strongly-connected components of a DIRECTED graph (B family — the
  * directed sibling of [[Wcc]]; on a link graph SCCs are the mutually-
  * reachable cores the bow-tie web structure is defined by, Broder et al.
  * 2000, "Graph structure in the web", WWW9).
  *
  * scc(v) = min{u : u ⇄ v} (mutual reachability, v included) — a pure
  * order-free graph property over exact integers, so the driver oracle can
  * state it DECLARATIVELY (DuckDB recursive-CTE mutual reachability) while
  * the engine computes it iteratively; no round-count coupling between the
  * two, unlike the fixed-k oracles (q_hits, q_eigen).
  *
  * Algorithm: trim + forward-backward min-label peeling — the FW-BW-Trim
  * family (Fleischer, Hendrickson & Pınar 2000, "On identifying strongly
  * connected components in parallel", IPDPS; McLendon et al. 2005), with
  * min-label propagation playing the multi-pivot role of Orzan-style
  * coloring (Orzan 2004; Hong, Rodia & Olukotun 2013 use the same
  * trim+FW-BW skeleton). Per peel:
  *
  *   1. TRIM to fixpoint: a vertex with in-degree 0 or out-degree 0 in
  *      the active graph cannot sit in a cycle there, and the active
  *      graph always contains every undecided SCC whole (only whole SCCs
  *      and singletons are ever removed), so such vertices are singleton
  *      SCCs — assigned scc = vid and removed. This is what collapses
  *      chain/tendril remainders that pure peeling would need O(length)
  *      peels for.
  *   2. FORWARD pass: fwd(v) = min id that REACHES v — [[Wcc]]'s
  *      min-label propagation with its adaptive pointer jump, run on the
  *      directed CSR through [[Superstep.iterate]] to fixpoint: one
  *      exchange-free `adj ⋈ state` join + ONE message shuffle per round,
  *      lineage cut + convergence count in one job, and each round's old
  *      state and jump cut freed when the round ends.
  *   3. BACKWARD pass: bwd(v) = min id v REACHES — the same loop on the
  *      reversed CSR. Forward and backward are data-independent, so the
  *      two fixpoints run CONCURRENTLY from two driver threads (guide
  *      §2.6 — overlap independent jobs so one loop's stragglers
  *      back-fill the other's idle capacity); results and round counts
  *      are deterministic either way (integer min fixpoints).
  *   4. DECIDE: fwd(v) == bwd(v) == m means m → v and v → m, i.e.
  *      v ∈ SCC(m). Within one SCC both labels are constant (members
  *      share reach sets), so decided vertices form WHOLE SCCs; they are
  *      assigned and their edges dropped.
  *
  * The pointer jump is VALID on the directed problem: every label stays
  * an ANCESTOR of its vertex (initially lab(v) = v; an edge round adopts
  * an in-neighbor's label, i.e. an ancestor's ancestor; a jump adopts
  * lab(lab(v)), likewise an ancestor's ancestor), labels only decrease,
  * and at any no-change fixpoint lab is edge-monotone (lab(dst) ≤
  * lab(src) across every edge). So lab(v) ≤ lab over any path from
  * fwdMin(v), while the ancestor invariant gives lab(v) ≥ fwdMin(v): the
  * fixpoint is fwdMin with or without jumping.
  *
  * Progress: after trim the active minimum m has fwd(m) = bwd(m) = m
  * (labels are ≥ m everywhere and m is in both of its own reach sets), so
  * every peel decides ≥ 1 vertex — termination in ≤ |V| peels, with the
  * practical count measured in low single digits on the testdata graphs
  * (random-orientation co-occurrence: one giant SCC + tendrils, decided
  * in peel 1 + trim). `maxPeels` is a loud backstop: a non-converged run
  * THROWS rather than returning a silently-partial assignment.
  *
  * Determinism: every label is an integer min — commutative, associative,
  * idempotent — so the result is partition- and order-independent, the
  * same exact-match contract as [[Wcc]]/[[Bfs]].
  *
  * 100 TB shape: trim is ONE degree aggregation per sweep (in/out degree
  * flags summed in a single map-side-combined groupBy — round-6 rework;
  * the old shape paid two distincts + two anti-joins per sweep); each
  * propagation round is the certified superstep exchange; decided-vertex
  * removal is two anti-joins per peel, with the count folded into the
  * lineage cut. Work per peel is proportional to the ACTIVE subgraph
  * (which shrinks by whole SCCs + tendrils), never to the full edge set
  * after peel 1 — the property that makes FW-BW-Trim the standard
  * parallel SCC skeleton. Partitions follow the measured active size
  * ([[Tuning.adaptivePartitions]]): the peeling endgame — and the whole
  * run on an induced slice — is a few hundred rows, where full-width
  * shuffles are pure scheduling overhead at ANY cluster size.
  */
object Scc {

  /** @param edges DIRECTED edges (src → dst); self-loops are ignored
    *              (a self-loop never changes SCC membership). Vertex
    *              universe = ALL edge endpoints — including endpoints
    *              whose only edges are self-loops, which are singleton
    *              SCCs (round-5 ADVICE: the old active-set-derived
    *              universe dropped them).
    */
  def run(
      edges: Dataset[Edge],
      maxPeels: Int = 64,
      maxProp: Int = 256,
      broadcastJumpMax: Long = 1L << 20,
  ): SccResult = Superstep.withAqeOff(edges.sparkSession) {
    val spark = edges.sparkSession
    import spark.implicits._

    // ONE materialization of the caller's (possibly expensive) edge
    // pipeline, BEFORE the self-loop filter so the vertex universe keeps
    // self-loop-only endpoints; everything downstream re-reads this cut
    val raw = Superstep.cut(edges.select(col("src"), col("dst")))
    val allVerts = Superstep.cut(
      raw.select(col("src").as("vid"))
        .unionByName(raw.select(col("dst").as("vid"))).distinct())
    var active: DataFrame = null
    var activeEdges = 0L
    // the active edge set shrinks by whole cuts; each replaced one is
    // freed once its successor has materialized
    def shrink(df: DataFrame): Unit = {
      val (aCut, r) = Superstep.cutAndAgg(df, 0L, Seq(count(lit(1))))
      if (active != null) Internals.release(active)
      active = aCut
      activeEdges = r.getLong(0)
    }
    shrink(raw.where(col("src") =!= col("dst")).distinct())
    // trimmed/decided frames accumulate in driver-side buffers of already
    // CHECKPOINTED frames (flat lineage) — unioned once at the end
    // instead of paying a cut job per trim sweep
    val assignedBuf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var peels = 0
    var trimRounds = 0
    var propRounds = 0

    // active-size-adaptive parallelism for the whole peeling loop: the
    // loop only ever shrinks the active set, so the initial |E| bounds
    // every round's shuffle volume (see Tuning's Scaladoc)
    val pEff = Tuning.adaptivePartitions(spark, activeEdges)

    Tuning.withShufflePartitions(spark, pEff) {
      while (activeEdges > 0 && peels < maxPeels) {
        peels += 1
        // --- 1. trim to fixpoint: indeg-0 / outdeg-0 vertices are
        // singleton SCCs of the active graph (see Scaladoc invariant).
        // Detection is ONE map-side-combined degree aggregation + the
        // count folded into the lineage cut (2 jobs per sweep total;
        // the old distinct/anti-join form paid 5)
        var trimmed = 1L
        while (trimmed > 0 && activeEdges > 0) {
          val degs = active
            .select(col("src").as("vid"), lit(1L).as("o"), lit(0L).as("i"))
            .unionByName(
              active.select(col("dst").as("vid"), lit(0L).as("o"), lit(1L).as("i")))
            .groupBy("vid").agg(sum("o").as("o"), sum("i").as("i"))
          val (tCut, tr) = Superstep.cutAndAgg(
            degs.where(col("o") === 0 || col("i") === 0).select(col("vid")),
            0L, Seq(count(lit(1))))
          trimmed = tr.getLong(0)
          if (trimmed > 0) {
            trimRounds += 1
            assignedBuf +=
              tCut.select(col("vid"), col("vid").as("scc"))
            shrink(active
              .join(tCut, active("src") === tCut("vid"), "left_anti")
              .join(tCut, active("dst") === tCut("vid"), "left_anti"))
          } else Internals.release(tCut) // the empty last sweep
        }
        if (activeEdges > 0) {
          // --- 2+3. forward/backward min-label to fixpoint on the active
          // subgraph. CSRs rebuilt per peel: the active set shrinks by
          // whole SCCs each peel, and the build is one groupBy — cheaper
          // than even a single propagation round over a stale larger graph.
          val activeDs = active
            .select(col("src"), col("dst"), lit(1.0).as("weight")).as[Edge]
          val fwd = Csr.build(activeDs, pEff, Csr.WeightMode.One)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val rev = Csr.build(
            active.select(
              col("dst").as("src"), col("src").as("dst"),
              lit(1.0).as("weight")).as[Edge],
            pEff, Csr.WeightMode.One,
          ).persist(StorageLevel.MEMORY_AND_DISK)
          val (verts, vr) = Superstep.cutAndAgg(
            active.select(col("src").as("vid"))
              .unionByName(active.select(col("dst").as("vid"))).distinct(),
            0L, Seq(count(lit(1))))
          val nVerts = vr.getLong(0)

          // the two fixpoints are independent — run them from two driver
          // threads so their jobs interleave (deterministic results: see
          // Scaladoc step 3). Both start from `verts`, so neither pass may
          // free it (`keep`); it is released once both have joined. The
          // (vid, vid AS comp) projection goes AFTER the cut, so hash(vid)
          // partitioning survives into round 1 (see Superstep.start)
          def pass(adj: Dataset[AdjBlock]): (DataFrame, Int) = {
            val (state, rounds, converged) = Wcc.propagate(
              Superstep.Graph(activeDs, activeEdges, pEff, adj),
              verts.select(col("vid"), col("vid").as("comp")), nVerts,
              maxProp, pointerJump = true, broadcastJumpMax,
              keep = Seq(verts))
            require(converged,
              s"Scc: min-label propagation did not converge in $maxProp rounds")
            (state, rounds)
          }
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          val ec = ExecutionContext.fromExecutorService(pool)
          val (f, b) =
            try {
              val fF = Future(pass(fwd))(ec)
              val fB = Future(pass(rev))(ec)
              (Await.result(fF, Duration.Inf), Await.result(fB, Duration.Inf))
            } finally {
              ec.shutdown()
            }
          propRounds += f._2 + b._2

          // --- 4. decide fwd == bwd (whole SCCs, see Scaladoc)
          val (decided, dr) = Superstep.cutAndAgg(
            f._1.join(b._1.withColumnRenamed("comp", "bcomp"), Seq("vid"))
              .where(col("comp") === col("bcomp"))
              .select(col("vid"), col("comp").as("scc")),
            0L, Seq(count(lit(1))))
          Seq(f._1, b._1, verts).foreach(Internals.release(_))
          val nDecided = dr.getLong(0)
          require(nDecided > 0, "Scc: peel decided nothing — invariant broken")
          assignedBuf += decided
          shrink(active
            .join(decided, active("src") === decided("vid"), "left_anti")
            .join(decided, active("dst") === decided("vid"), "left_anti"))
          fwd.unpersist(false)
          rev.unpersist(false)
        }
      }
      require(
        activeEdges == 0,
        s"Scc: not converged after $maxPeels peels ($activeEdges edges active)")
      // orphaned vertices (all edges vanished with removed neighbors, or
      // self-loop-only — see allVerts) are singleton SCCs
      val assigned =
        if (assignedBuf.isEmpty) Seq.empty[(Long, Long)].toDF("vid", "scc")
        else assignedBuf.reduce(_ unionByName _)
      val orphans = allVerts.join(assigned, Seq("vid"), "left_anti")
        .select(col("vid"), col("vid").as("scc"))
      val comps = Superstep.cut(assigned.unionByName(orphans))
      // the result reads `comps` and `raw` only
      (active +: allVerts +: assignedBuf.toSeq).foreach(Internals.release(_))
      SccResult(comps, peels, trimRounds, propRounds, edgesCut = raw)
    }
  }

  /** Condensation DAG + topological levels — the bow-tie structure view
    * (Broder et al. 2000): contract every SCC to one node, keep the
    * distinct cross-SCC edges (acyclic by the definition of SCC), and
    * assign level(C) = length of the longest directed path ending at C —
    * 0 for sources, so levels ARE a topological order and the level
    * histogram is the DAG's layer profile. Computed by synchronous
    * max-relaxation (level'(v) = max(level(v), 1 + max over in-neighbor
    * levels)) to fixpoint, which on a DAG converges in exactly depth
    * rounds; exact integers throughout, same order-free contract as
    * [[run]].
    *
    * 100 TB shape: the condensation is |SCCs| nodes — typically orders
    * of magnitude smaller than the graph (the giant SCC collapses to one
    * node) — and each relaxation round is one equi-join + one map-side-
    * combined max aggregation over the contracted edge set, lineage-cut
    * per round. The contracted edge set is derived from the edge cut
    * [[run]] already materialized (round-6: the old form re-ran the
    * caller's whole edge pipeline a second time), and the relaxation
    * runs at contraction-sized parallelism.
    */
  def condense(
      edges: Dataset[Edge],
      maxRounds: Int = 64,
  ): CondensationResult = Superstep.withAqeOff(edges.sparkSession) {
    val spark = edges.sparkSession
    val sccRes = run(edges)
    val comps = sccRes.comps // already lineage-cut by run()
    val e = sccRes.edgesCut.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val srcMap = comps.select(col("vid").as("src"), col("scc").as("csrc"))
    val dstMap = comps.select(col("vid").as("dst"), col("scc").as("cdst"))
    val (cd, cdr) = Superstep.cutAndAgg(
      e.join(srcMap, Seq("src")).join(dstMap, Seq("dst"))
        .where(col("csrc") =!= col("cdst"))
        .select(col("csrc").as("src"), col("cdst").as("dst")).distinct(),
      0L, Seq(count(lit(1))))
    val pEff = Tuning.adaptivePartitions(spark, cdr.getLong(0))
    Tuning.withShufflePartitions(spark, pEff) {
      val sizes = Superstep.cut(
        comps.groupBy(col("scc"))
          .agg(count(lit(1)).cast("long").as("size")))
      // lvl starts as a projection of the checkpointed sizes frame — no
      // separate cut needed (flat lineage, partitioning preserved)
      var lvl: DataFrame = sizes.select(col("scc"), lit(0L).as("level"))
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < maxRounds) {
        val msgs = cd.join(lvl, cd("src") === lvl("scc"))
          .select(col("dst").as("scc"), (col("level") + 1L).as("nl"))
          .groupBy("scc").agg(max("nl").as("ml"))
        val next = lvl.join(msgs, Seq("scc"), "left_outer")
          .select(
            col("scc"),
            greatest(col("level"), coalesce(col("ml"), col("level")))
              .as("level"),
            (coalesce(col("ml"), col("level")) > col("level")).as("chg"),
          )
        val (cut, r) = Superstep.cutAndAgg(
          next, 0L,
          Seq(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L))))
        lvl = cut.drop("chg")
        changed = r.getLong(0)
        rounds += 1
      }
      require(
        changed == 0,
        s"Scc.condense: levels did not converge in $maxRounds rounds — " +
          "contracted graph not acyclic (invariant broken) or deeper than " +
          "maxRounds")
      CondensationResult(lvl.join(sizes, Seq("scc")), rounds, sccRes)
    }
  }
}

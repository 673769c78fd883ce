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
  *      SCCs: their edges are removed, and, never decided, they end as
  *      orphans with scc = vid. This is what collapses chain/tendril
  *      remainders that pure peeling would need O(length) peels for.
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
  * 100 TB shape: a trim sweep is ONE job, a [[Superstep.iterate]] round:
  * two semi-joins keep the edges whose source has an in-edge and whose
  * destination has an out-edge (the distinct destinations and sources,
  * each map-side combined), with the edge count folded into the cut; each
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
    // decided frames accumulate in a driver-side buffer of already
    // CHECKPOINTED frames (flat lineage) — unioned once at the end
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
        // An edge s → d survives a sweep iff s has an in-edge and d an
        // out-edge: ONE job per sweep, the edge count folded into the cut
        val (trimmed, _) = Superstep.iterate(
          Nil, active, 0L, Int.MaxValue,
          stats = Seq(count(lit(1))),
          stop = { (r, _) =>
            val left = r.getLong(0)
            if (left < activeEdges) trimRounds += 1
            val done = left == 0 || left == activeEdges
            activeEdges = left
            done
          },
        ) { (state, _) =>
          val hasIn = state.select(col("dst").as("v")).distinct()
          val hasOut = state.select(col("src").as("v")).distinct()
          state
            .join(hasIn, col("src") === col("v"), "left_semi")
            .join(hasOut, col("dst") === col("v"), "left_semi")
        }
        active = trimmed
        if (activeEdges > 0) {
          // --- 2+3. forward/backward min-label to fixpoint on the active
          // subgraph. CSRs rebuilt per peel: the active set shrinks by
          // whole SCCs each peel, and the build is one groupBy — cheaper
          // than even a single propagation round over a stale larger graph.
          val fwd = Csr.build(
            active.select(col("src"), col("dst"), lit(1.0).as("weight")).as[Edge],
            pEff, Csr.WeightMode.One,
          ).persist(StorageLevel.MEMORY_AND_DISK)
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
              adj, verts.select(col("vid"), col("vid").as("comp")), nVerts,
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
      // orphaned vertices (trimmed, all edges vanished with removed
      // neighbors, or self-loop-only — see allVerts) are singleton SCCs
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
    * node). The contracted edge set is derived from the edge cut [[run]]
    * already materialized (round-6: the old form re-ran the caller's
    * whole edge pipeline a second time) and packed by
    * [[Superstep.onGraph]] at contraction-sized parallelism; each
    * relaxation round, run by [[Superstep.iterate]], is one exchange-free
    * `adj ⋈ state` scatter + one map-side-combined max aggregation, with
    * the change count folded into the round's lineage cut.
    */
  def condense(
      edges: Dataset[Edge],
      maxRounds: Int = 64,
  ): CondensationResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sccRes = run(edges)
    val comps = sccRes.comps // already lineage-cut by run()
    val e = sccRes.edgesCut.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val srcMap = comps.select(col("vid").as("src"), col("scc").as("csrc"))
    val dstMap = comps.select(col("vid").as("dst"), col("scc").as("cdst"))
    val cd = e.join(srcMap, Seq("src")).join(dstMap, Seq("dst"))
      .where(col("csrc") =!= col("cdst"))
      .select(col("csrc").as("src"), col("cdst").as("dst"), lit(1.0).as("weight"))
      .distinct().as[Edge]
    Superstep.onGraph(cd, Csr.WeightMode.One) { g =>
      val sizes = Superstep.cut(
        comps.groupBy(col("scc"))
          .agg(count(lit(1)).cast("long").as("size")))
      // the state starts as a projection of the sizes cut, which the
      // result reads too: `keep` stops round 1 from freeing it
      var changed = 1L
      val (lvl, rounds) = Superstep.iterate(
        Seq(g.adj, sizes),
        sizes.select(col("scc").as("vid"), lit(0L).as("level")), 0L,
        maxRounds,
        stats = Seq(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L))),
        stop = (r, _) => { changed = r.getLong(0); changed == 0 },
      ) { (state, _) =>
        val msgs = Superstep.scatter(g.adj, state)
          .groupBy("vid").agg(max(col("level") + 1L).as("ml"))
        state.join(msgs, Seq("vid"), "left_outer")
          .select(
            col("vid"),
            greatest(col("level"), coalesce(col("ml"), col("level")))
              .as("level"),
            (coalesce(col("ml"), col("level")) > col("level")).as("chg"),
          )
      }
      require(
        changed == 0,
        s"Scc.condense: levels did not converge in $maxRounds rounds — " +
          "contracted graph not acyclic (invariant broken) or deeper than " +
          "maxRounds")
      CondensationResult(
        lvl.withColumnRenamed("vid", "scc").join(sizes, Seq("scc")),
        rounds, sccRes)
    }
  }
}

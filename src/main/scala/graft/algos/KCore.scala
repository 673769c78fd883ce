package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel

final case class KCoreResult(core: DataFrame, iterations: Int)

/** K-core decomposition, fixed k: the maximal induced subgraph in which
  * every vertex has degree >= k in the subgraph (B-family graph analytics
  * over the same co-occurrence graph as PageRank/WCC/triangles;
  * Seidman, "Network structure and minimum degree", Social Networks 1983).
  *
  * Algorithm: synchronous peeling as message passing — NOT edge-list
  * rewriting. The undirected adjacency is CSR-built ONCE; per round every
  * still-active vertex scatters 1 along its out-block, the one shuffle
  * aggregates arrivals per destination (active-neighbor degree), and a
  * vertex stays active iff it was active and received >= k. Deactivated
  * vertices simply stop scattering — the adjacency is never touched
  * again, so each round costs exactly one message shuffle over the edges
  * of the REMAINING subgraph (shrinking monotonically), with map-side
  * partial counts. Converges when no vertex deactivates in a round; the
  * fixpoint is the k-core by the standard argument (peeling order never
  * changes the result).
  *
  * Round bound: worst case O(|V|) on adversarial chains (a path with
  * k=2 peels two endpoints per round), O(peel-depth) generally — on the
  * engine's clique-heavy co-occurrence graphs convergence is fast
  * (measured: <= 12 rounds on every sf corpus). The q_kcore oracle
  * unrolls 32 rounds; a fixpoint is stable, so extra oracle rounds are
  * harmless, and KCoreSpec pins engine convergence within the unroll
  * budget on the driver corpora.
  *
  * Multi-edges between a pair collapse to ONE undirected edge first
  * (degree = distinct-neighbor count — the standard k-core degree), and
  * self-loops are dropped by the same distinct-pair build.
  */
object KCore {

  /** @return (vid) rows of the k-core's vertex set. */
  def run(
      edges: Dataset[Edge],
      k: Int,
      maxIter: Int = 1000,
      distinctCanonical: Boolean = false,
  ): KCoreResult = Superstep.withAqeOff(edges.sparkSession) {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = edges.sparkSession
    import spark.implicits._

    // one undirected edge per unordered pair, each direction once (the
    // symmetrize groupBy merges duplicates; distinctCanonical callers
    // skip that aggregation — see EdgeBuilder.symmetrizeDistinct), no
    // self-loops: the degree a message round measures is then exactly
    // |active neighbors|
    val simple = Internals.cachedLeaf(edges).filter(col("src") =!= col("dst"))
    val sym =
      (if (distinctCanonical) EdgeBuilder.symmetrizeDistinct(simple)
       else EdgeBuilder.symmetrize(simple))
        .select(col("src"), col("dst"), lit(1.0).as("weight"))
        .as[Edge]
        // persisted: the CSR build and the init-state cut both traverse
        // the symmetrized base (see Eigen for the measurement)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val adjCount = sym.count() // = adjacency entries; also sizes pEff
    if (adjCount == 0) {
      sym.unpersist(false)
      return KCoreResult(spark.emptyDataset[Long].toDF("vid"), 0)
    }
    val pEff = Tuning.adaptivePartitions(spark, adjCount)
    Tuning.withShufflePartitions(spark, pEff) {
    val p = pEff
    val adj = Csr.buildCut(sym, p, Csr.WeightMode.One, approxEntries = adjCount)

    // (vid, active); everyone starts active
    var state: DataFrame = Superstep.cut(
      Superstep.verticesFromAdj(adj).withColumn("active", lit(true)),
      adjCount,
    )
    var activeCnt = state.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // scatter only from still-active vertices; the join against the
      // full CSR block set is exchange-free (both sides vid/src-hash
      // partitioned), the filter prunes before the explode
      val msgs = Superstep
        .scatter(adj, state.where(col("active")).select(col("vid")))
        .groupBy("vid").agg(count(lit(1)).as("activeDeg"))
      val next = state.join(msgs, Seq("vid"), "left_outer")
        .select(
          col("vid"),
          (col("active") &&
            coalesce(col("activeDeg"), lit(0L)) >= k).as("active"),
        )
      val (cut, r) = Superstep.cutAndAgg(
        next,
        adjCount,
        Seq(sum(when(col("active"), 1L).otherwise(0L))),
      )
      val newActive = if (r.isNullAt(0)) 0L else r.getLong(0)
      state = cut
      iter += 1
      converged = newActive == activeCnt
      activeCnt = newActive
      if (activeCnt == 0) converged = true
    }
    val core = state.where(col("active")).select(col("vid"))
    adj.unpersist(false)
    sym.unpersist(false)
    KCoreResult(core, iter)
    } // withShufflePartitions
  }
}

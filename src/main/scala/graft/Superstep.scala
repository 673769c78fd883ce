package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Shared superstep plumbing for the iterative algorithms (SURVEY §2.B E4).
  *
  * The core move: `adj ⋈ state` is exchange-free (both sides hash-
  * partitioned by the vertex key with the same partition count), the CSR
  * arrays are exploded inside whole-stage codegen, and the ONLY shuffle of
  * a superstep is the downstream message aggregation — whose partial
  * (map-side) HashAggregate is Spark's built-in shuffle-reduced combine.
  */
object Superstep {

  /** Rows-per-state threshold above which [[cut]] stores SERIALIZED.
    * Measured trade-off on the 32-core host (PageRank, 10 supersteps):
    * at 8M-vertex state, deserialized wins by ~1.7x (serialization
    * doubles cpu_sec while GC is only ~15 s); at 32M-vertex state,
    * serialized wins by ~1.5x (object-form states put hundreds of
    * millions of row objects on the heap and GC explodes to 150-1650 s).
    */
  val SerializedCutThreshold: Long = 16L * 1000 * 1000

  /** Per-iteration lineage cut: eager localCheckpoint.
    *
    * `approxRows` picks the storage form (see [[SerializedCutThreshold]]):
    * small states cache deserialized (fast re-reads, blocks die young);
    * huge states cache serialized (a few byte arrays per partition
    * instead of one object per row — GC tracing cost, not allocation,
    * is what kills multi-core scaling at that size). Inputs that live
    * the WHOLE run (edge tables) should use columnar Dataset.persist
    * instead, never an object-form localCheckpoint.
    */
  def cut(
      df: org.apache.spark.sql.DataFrame,
      approxRows: Long = 0L,
  ): org.apache.spark.sql.DataFrame = {
    val level =
      if (approxRows > SerializedCutThreshold)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    df.localCheckpoint(true, level)
  }

  /** Per-iteration lineage cut FUSED with a stats aggregate: the
    * localCheckpoint is taken LAZILY and the aggregate is the action that
    * materializes it — one job per round where cut-then-aggregate costs
    * two. Semantics identical to [[cut]] + `df.agg(...).head()`: the agg
    * scans every partition, so every block lands at `level` and the
    * lineage truncates at job end, and the same LogicalRDD wrapper
    * preserves partitioning/ordering for the next round's exchange-free
    * joins. Used by the algorithms whose loop control needs per-round
    * scalars (WCC's convergence count + comp-image estimate).
    * The checkpoint's size estimate is capped, or it compounds every round
    * ([[org.apache.spark.sql.graftinternal.Internals.capCheckpointStats]]).
    */
  def cutAndAgg(
      df: org.apache.spark.sql.DataFrame,
      approxRows: Long,
      aggs: Seq[org.apache.spark.sql.Column],
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Row) = {
    val level =
      if (approxRows > SerializedCutThreshold)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cp = org.apache.spark.sql.graftinternal.Internals
      .capCheckpointStats(df.localCheckpoint(false, level))
    val row = cp.agg(aggs.head, aggs.tail: _*).head()
    (cp, row)
  }

  /** Run `body` with adaptive query execution disabled, restoring the
    * previous setting afterwards. Supersteps are fixed-shape jobs where
    * AQE hurts: its plan wrapper reports UnknownPartitioning, so every
    * `localCheckpoint` would forget the hash-partitioning contract and
    * reintroduce a state exchange per superstep. Skew is handled
    * explicitly (hub salting + map-side partial aggregation), which is
    * what AQE's skew-join would otherwise backstop.
    */
  def withAqeOff[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body
    finally spark.conf.set(key, prev)
  }

  /** Distinct vertex ids of an edge table, hash-partitioned by vid. */
  def vertices(edges: Dataset[Edge]): DataFrame =
    edges.select(col("src").as("vid"))
      .unionByName(edges.select(col("dst").as("vid")))
      .distinct()

  /** Distinct vertex ids from a SYMMETRIZED graph's packed adjacency:
    * after symmetrize every edge endpoint appears as a block source, so
    * the block srcs ARE the vertex universe — and the blocks are already
    * hash-partitioned by src (Csr's layout contract), so the distinct
    * (only needed for hub salt-splits) is exchange-FREE and scans ~|V|
    * block rows instead of the 2|E| rows [[vertices]] unions (guide
    * §2.4: remove shuffles outright). Only valid on a symmetrized
    * adjacency; a directed graph's pure sinks never appear as src.
    */
  def verticesFromAdj(adj: Dataset[AdjBlock]): DataFrame =
    adj.select(col("src").as("vid")).distinct()

  /** Scatter: join per-vertex state into the adjacency and emit one row
    * per out-edge: (vid = destination, w = scatter weight, plus every
    * state column except the join key). The caller aggregates. Handles
    * both array-weighted and uniform-weight-compressed blocks.
    */
  def scatter(adj: Dataset[AdjBlock], state: DataFrame): DataFrame = {
    val stateCols =
      state.columns.filter(_ != "vid").map(c => col(c)).toSeq
    state.join(adj, state("vid") === adj("src"))
      .select(
        col("weights") +: col("uweight") +:
          posexplode(col("dsts")).as(Seq("pos", "nvid")) +: stateCols: _*
      )
      .select(
        col("nvid").as("vid") +:
          when(
            size(col("weights")) > 0,
            element_at(col("weights"), col("pos") + 1),
          ).otherwise(col("uweight")).as("w") +: stateCols: _*
      )
  }
}

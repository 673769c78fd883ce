package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel

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

  /** A kernel's graph inside [[onGraph]]: `base` read through its cache
    * leaf, its row count `entries`, the loop's partition count `p`, and
    * the lineage-cut adjacency `adj` packed from `base` at `p`.
    */
  private[graft] final case class Graph(
      base: Dataset[Edge],
      entries: Long,
      p: Int,
      adj: Dataset[AdjBlock],
  )

  /** The setup and release every single-CSR kernel loop shares. With AQE
    * off ([[withAqeOff]]), `base` is persisted (unless already cached)
    * and counted; `body` then runs at `p` shuffle partitions, sized to a
    * per-round volume of `entries * rowsPerEntry` rows
    * ([[Tuning.adaptivePartitions]]), over the [[Csr.buildCut]] adjacency.
    * The persist pays off because the count, the CSR build and the
    * kernel's own base reads each traverse `base`: uncached, each re-ran
    * the caller's edge pipeline (the sf0.1 co-occurrence build, 3x per
    * Eigen call).
    *
    * On return or throw the adjacency's checkpoint blocks are freed
    * ([[Internals.release]]) and `base` is unpersisted if this call cached
    * it; a caller's cache stays. So the result must not read `g.adj` or
    * `g.base`: results leave as round-state checkpoints or scalars.
    */
  private[graft] def onGraph[R](
      base: Dataset[Edge],
      mode: Csr.WeightMode,
      rowsPerEntry: Long = 1L,
  )(body: Graph => R): R = {
    val spark = base.sparkSession
    withAqeOff(spark) {
      val owned = base.storageLevel == StorageLevel.NONE
      if (owned) base.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val leaf = Internals.cachedLeaf(base)
        val entries = leaf.count()
        val p = Tuning.adaptivePartitions(spark, entries * rowsPerEntry)
        Tuning.withShufflePartitions(spark, p) {
          val adj = Csr.buildCut(leaf, p, mode, approxEntries = entries)
          try body(Graph(leaf, entries, p, adj))
          finally Internals.release(adj)
        }
      } finally if (owned) base.unpersist(false)
    }
  }

  /** Where a resumable loop over `g` starts: from the latest snapshot in
    * `store` (its state re-partitioned by vid and cut, its round, its
    * metrics), else from round 0 with every vertex labelled by its own id
    * in column `label`, and no metrics.
    */
  private[graft] def start(
      g: Graph,
      store: Option[SnapshotStore],
      label: String,
  ): (DataFrame, Int, Map[String, Double]) =
    store.flatMap(_.latest(g.adj.sparkSession)) match {
      case Some((snap, df)) =>
        (cut(df.repartition(g.p, col("vid")), g.entries), snap.iteration,
          snap.metrics)
      case None =>
        // (vid, vid AS label) goes AFTER the checkpoint: of the double
        // alias's PartitioningCollection(hash(label), hash(vid)),
        // localCheckpoint keeps only the first element, which would sneak
        // two exchanges into round 1 (pinned by PlanShapeSpec)
        (cut(verticesFromAdj(g.adj), g.entries)
          .select(col("vid"), col("vid").as(label)), 0, Map.empty)
    }

  /** The round cycle of a loop kernel, from round `from` until
    * `maxRounds` or until `stop` holds. `keep` holds the frames a round
    * may read besides its state: a graph kernel passes its `g.adj`.
    *
    * Round `r` builds `next = step(state, r)` and materializes it with ONE
    * action: a [[cutAndAgg]] over `stats`, or, with no `stats`, an eager
    * [[cut]] (its stats row is then empty). Both store at the level
    * `rows` picks ([[SerializedCutThreshold]]). The cut is projected back
    * to `init`'s columns, so `next` may carry columns that only `stats`
    * reads.
    *
    * Order within round `r`: `step(state, r)`, the action, then
    * `stop(row, r)` exactly once, the release, and, on a snapshot round,
    * `metrics(row)` and the write; round `r + 1`'s `step` runs after all
    * of them. So `stop` is where a kernel reads the round's
    * row: it may set kernel vars that `metrics` and the next `step` read
    * (Eigen's normalizer, Ppr's dangling mass), and a kernel that only
    * checks the row returns false.
    *
    * Release rule: once `next` has materialized, every checkpoint that the
    * replaced state or `next`'s plan reads is freed, except `keep`. So a
    * step reads only its state and `keep`: anything else a round reads,
    * such as a cut it makes itself, is gone after it.
    *
    * With a `store`, the state is snapshotted every `checkpointEvery`
    * rounds and after the last one, with `metrics` of the round's stats
    * row plus its `seconds` and `numPartitions` (the session's shuffle
    * partitions, which [[onGraph]] sets to `g.p`).
    *
    * @return the last state and the round reached (`from` plus the rounds
    *         run).
    */
  private[graft] def iterate(
      keep: Seq[Dataset[_]],
      init: DataFrame,
      rows: Long,
      maxRounds: Int,
      from: Int = 0,
      stats: Seq[Column] = Nil,
      stop: (Row, Int) => Boolean = (_, _) => false,
      store: Option[SnapshotStore] = None,
      checkpointEvery: Int = 1,
      metrics: Row => Map[String, Double] = _ => Map.empty,
  )(step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    val columns = init.columns.toSeq.map(col)
    val partitions = init.sparkSession.conf.get("spark.sql.shuffle.partitions")
    var state = init
    var round = from
    var done = false
    while (!done && round < maxRounds) {
      val t0 = System.nanoTime()
      val next = step(state, round)
      val (cp, row) =
        if (stats.isEmpty) (cut(next, rows), Row.empty)
        else cutAndAgg(next, rows, stats)
      done = stop(row, round)
      Internals.release(state, keep: _*)
      Internals.release(next, state +: keep: _*)
      state = cp.select(columns: _*)
      round += 1
      val secs = (System.nanoTime() - t0) / 1e9
      if (round % checkpointEvery == 0 || done || round >= maxRounds)
        store.foreach(_.write(round, state, metrics(row) ++
          Map("seconds" -> secs, "numPartitions" -> partitions.toDouble)))
    }
    (state, round)
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

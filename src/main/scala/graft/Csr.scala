package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import scala.collection.mutable.ArrayBuffer

/** CSR-blocked, hash-partitioned adjacency (BASELINE.json:6, SURVEY §2.B E3).
  *
  * Layout: one [[AdjBlock]] row per (source vertex, chunk). The block packs
  * the vertex's out-neighborhood as primitive arrays (dsts, weights), with
  * weights pre-divided by the vertex's total out-weight so a PageRank
  * scatter is a pure `rank * weight` multiply. Vertices whose degree
  * exceeds `maxDegPerBlock` are split into several rows with `salt` =
  * 0..k-1 — this is the explicit hub-vertex skew handling the north rule
  * demands: no single row or join key ever carries an unbounded list.
  *
  * Partitioning contract (SURVEY §4.2): every vertex-keyed dataset in a
  * superstep is hash-partitioned by `repartition(P, $"src"/$"vid")` with
  * the SAME P (= spark.sql.shuffle.partitions), so the per-superstep
  * adj⋈state join and the state⋈messages join are exchange-free: the only
  * shuffle per superstep is the message aggregation itself.
  *
  * Build cost: one shuffle for out-weight totals (groupBy src — reuses the
  * same partitioning), one repartition + partition-local sort, one
  * mapPartitions pack. Built once, persisted, reused every superstep.
  */
object Csr {

  /** How the per-edge scatter weight is derived from the edge weight. */
  sealed trait WeightMode
  object WeightMode {
    /** 1/outDegree — uniform out-distribution (unweighted PageRank). */
    case object NormUniform extends WeightMode
    /** weight/Σ out-weights — weighted PageRank. */
    case object NormWeighted extends WeightMode
    /** The raw edge weight (label propagation frequency counting). */
    case object Raw extends WeightMode
    /** Constant 1.0 (WCC — weights irrelevant). */
    case object One extends WeightMode
  }

  /** Build adjacency blocks from an edge table.
    *
    * @param maxDegPerBlock hub chunk size — bounds per-row memory and the
    *                 unit of skew-splitting.
    */
  def build(
      edges: Dataset[Edge],
      numPartitions: Int,
      mode: WeightMode = WeightMode.NormUniform,
      maxDegPerBlock: Int = 1 << 16,
  ): Dataset[AdjBlock] = {
    val spark = edges.sparkSession
    import spark.implicits._
    import WeightMode._
    val withW: org.apache.spark.sql.DataFrame = mode match {
      case Raw => edges.select(col("src"), col("dst"), col("weight").as("w"))
      case One => edges.select(col("src"), col("dst"), lit(1.0).as("w"))
      case _ =>
        val totals = edges.groupBy("src").agg(
          sum("weight").as("totW"),
          count(lit(1)).cast("double").as("deg"),
        )
        val norm =
          if (mode == NormWeighted) col("weight") / col("totW")
          else lit(1.0) / col("deg")
        edges.join(totals, "src").select(col("src"), col("dst"), norm.as("w"))
    }
    // uniform modes: every edge of a vertex has the same weight — store
    // one scalar instead of an array (halves scatter bandwidth)
    val uniform = mode == NormUniform || mode == One
    withW
      .repartition(numPartitions, col("src"))
      .sortWithinPartitions("src", "dst")
      .mapPartitions { rows: Iterator[Row] =>
        val out = ArrayBuffer.empty[AdjBlock]
        var cur = Long.MinValue
        var salt = 0
        var uw = 0.0
        var ds = new ArrayBuffer[Long](256)
        var ws = new ArrayBuffer[Double](256)
        def flush(): Unit = if (ds.nonEmpty) {
          out += AdjBlock(
            cur, salt, ds.toArray,
            if (uniform) Array.emptyDoubleArray else ws.toArray,
            if (uniform) uw else 0.0,
          )
          ds = new ArrayBuffer[Long](256)
          if (!uniform) ws = new ArrayBuffer[Double](256)
        }
        rows.foreach { r =>
          val s = r.getLong(0)
          if (s != cur) { flush(); cur = s; salt = 0 }
          else if (ds.length >= maxDegPerBlock) { flush(); salt += 1 }
          ds += r.getLong(1)
          if (uniform) uw = r.getDouble(2) else ws += r.getDouble(2)
        }
        flush()
        out.iterator
      }
      // mapPartitions erases partitioning metadata (new output attrs) but
      // NOT the physical placement — the pack is partition-local, so the
      // blocks still sit hash-partitioned by src and sorted by src within
      // each partition. Re-DECLARE those facts (the LogicalRDD mechanism
      // localCheckpoint itself uses) instead of paying a second full
      // shuffle+sort of the packed adjacency (`repartition` again was the
      // round-2 form — a structural 2x on the build's adjacency shuffle
      // volume, spent purely to restore metadata). Every subsequent
      // scatter join against vertex state is
      // exchange-free AND sort-free on the adjacency side; plan-pinned in
      // PlanShapeSpec.
      .toDF()
      .transform(df =>
        org.apache.spark.sql.graftinternal.Internals
          .assumeHashPartitioned(df, "src", numPartitions, Seq("src")))
      .as[AdjBlock]
  }

  /** [[build]] + an eager lineage cut (r6): loop kernels scan the
    * adjacency EVERY round, and a plain `.persist` leaves the full build
    * plan (source scan → co-occurrence → pack) in the RDD lineage, so
    * every round's job serializes and broadcasts it again as task binary
    * (measured ~2 MiB + ~1.1 MiB of broadcast per job at sf0.1 — pure
    * driver-side serialize/compress tax across hundreds of loop jobs per
    * bench sweep). The localCheckpoint truncates the lineage to the
    * cached blocks; the LogicalRDD wrapper keeps the declared hash(src)
    * partitioning, so the exchange-free scatter-join contract is
    * unchanged (plan-pinned in PlanShapeSpec).
    */
  def buildCut(
      edges: Dataset[Edge],
      numPartitions: Int,
      mode: WeightMode = WeightMode.NormUniform,
      maxDegPerBlock: Int = 1 << 16,
      approxEntries: Long = 0L,
  ): Dataset[AdjBlock] = {
    import edges.sparkSession.implicits._
    // approxEntries (callers pass their adjacency-entry count) picks the
    // storage form via the shared cut policy: a conservative bound —
    // block rows ≪ entries — that routes 10^8+-entry graphs to the
    // serialized level where object-form rows would tax GC tracing
    Superstep.cut(
      build(Internals.cachedLeaf(edges), numPartitions, mode, maxDegPerBlock)
        .toDF(),
      approxEntries)
      .as[AdjBlock]
  }

  /** Total adjacency entries — the |E| used for edges-traversed/sec.
    * (sum over an empty dataset is NULL — coalesce, don't NPE.)
    */
  def edgeCount(adj: Dataset[AdjBlock]): Long =
    adj.select(coalesce(sum(size(col("dsts"))), lit(0L))).head().getLong(0)

  /** Unpack blocks back to a normalized edge list (round-trip tests). */
  def unpack(adj: Dataset[AdjBlock]): Dataset[Edge] = {
    import adj.sparkSession.implicits._
    adj
      .select(
        col("src"),
        col("weights"),
        col("uweight"),
        posexplode(col("dsts")).as(Seq("pos", "dst")),
      )
      .select(
        col("src"),
        col("dst"),
        when(size(col("weights")) > 0, element_at(col("weights"), col("pos") + 1))
          .otherwise(col("uweight"))
          .as("weight"),
      )
      .as[Edge]
  }
}

package org.apache.spark.sql.graftinternal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal private[sql] bridge (the standard Spark-connector pattern of a
  * shim under `org.apache.spark.sql`): re-DECLARE physical layout facts
  * Catalyst cannot infer, using the same `LogicalRDD` mechanism that
  * `Dataset.localCheckpoint` itself uses to preserve partitioning and
  * ordering across a lineage cut.
  */
object Internals {

  /** `ds` read through its cache: when `ds` is cached, a Dataset whose
    * plan is that cache's `InMemoryRelation` with `ds`'s own output
    * attributes (columns resolved against `ds` still resolve); otherwise
    * `ds` itself.
    *
    * `persist` does not shorten a plan: every frame derived from a cached
    * `ds` re-embeds its whole lineage, which Catalyst re-analyzes and
    * re-matches against the cache per frame (per embedded copy, in a
    * self-join). Cache substitution ends at this same `InMemoryRelation`,
    * so optimized plans do not change; only the analyzed plan shrinks.
    *
    * Use it only where everything derived from the result runs before
    * the call returns (results leave as checkpoints or scalars). A frame
    * derived from the leaf that runs after `ds` is unpersisted rebuilds
    * and persists `ds`'s cache outside the CacheManager, where neither
    * `unpersist` nor `clearCache` reaches it; it stays until that frame
    * is garbage-collected, or for as long as that frame's own cache
    * entry lives. Never `persist` the result: its plan matches no cache
    * entry, so that caches a copy of the cache.
    */
  def cachedLeaf[T](
      ds: org.apache.spark.sql.Dataset[T],
  ): org.apache.spark.sql.Dataset[T] = {
    val d = ds.asInstanceOf[Dataset[T]]
    d.sparkSession.sharedState.cacheManager.lookupCachedData(d) match {
      case Some(cached) =>
        val leaf = cached.cachedRepresentation
          .withOutput(d.queryExecution.analyzed.output)
        new Dataset[T](d.sparkSession, leaf, d.encoder)
      case None => ds
    }
  }

  /** `df` with its checkpoint's size estimate capped at `Long.MaxValue`.
    *
    * A localCheckpoint keeps its input's optimized-plan statistics. A
    * state joined with messages derived from itself multiplies those
    * `BigInt` sizes again every round, so the estimate compounds round
    * over round and, in a long run, computing it dominates the driver. Any
    * estimate that large is far above every broadcast threshold, so the
    * cap changes no planning decision. Other frames are returned as is.
    */
  def capCheckpointStats(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    d.logicalPlan match {
      case r: LogicalRDD if r.stats.sizeInBytes > Long.MaxValue =>
        val capped = r.stats.copy(sizeInBytes = BigInt(Long.MaxValue))
        Dataset.ofRows(d.sparkSession,
          r.copy()(d.sparkSession, Some(capped), Some(r.constraints)))
      case _ => df
    }
  }

  /** Free the checkpoint blocks `df` reads, except those `keep` reads:
    * unpersist the RDD under each `LogicalRDD` leaf of its plan.
    *
    * A localCheckpoint is not a CacheManager entry, so
    * `Dataset.unpersist` does not reach its blocks; without this they stay
    * until the frame is garbage-collected. A released checkpoint cannot be
    * recomputed: call it only once nothing reads `df` again.
    */
  def release(
      df: org.apache.spark.sql.Dataset[_],
      keep: org.apache.spark.sql.Dataset[_]*,
  ): Unit = {
    def checkpoints(d: org.apache.spark.sql.Dataset[_]) =
      d.queryExecution.analyzed.collectLeaves().collect {
        case r: LogicalRDD => r.rdd.id
      }
    val kept = keep.flatMap(checkpoints).toSet
    // once per RDD (a self-join lists its leaf twice), and through the
    // context: RDD.unpersist warns on every local checkpoint that it
    // cannot be recomputed, which is the intent here
    checkpoints(df).distinct.filterNot(kept)
      .foreach(df.sparkSession.sparkContext.unpersistRDD(_, blocking = false))
  }

  /** Wrap `df`'s physical RDD in a scan that declares
    * `HashPartitioning(hashCol, n)` and `[sortCols ASC]` WITHOUT moving
    * any data.
    *
    * ONLY correct when the rows are already factually laid out that way —
    * e.g. after `repartition(n, col) → sortWithinPartitions → a
    * partition-local mapPartitions` whose output stays in place: the
    * narrow transform erases the catalyst metadata but not the physical
    * placement, and without this shim the only way to get the metadata
    * back is a SECOND full shuffle+sort of the transformed data
    * (`repartition` again), which at the design scale re-shuffles the
    * entire packed adjacency for nothing.
    */
  def assumeHashPartitioned(
      df: DataFrame,
      hashCol: String,
      n: Int,
      sortCols: Seq[String],
  ): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val attrs = df.queryExecution.analyzed.output
    def attr(name: String) = attrs
      .find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no column $name in ${attrs.map(_.name)}"))
    val partitioning = HashPartitioning(Seq(attr(hashCol)), n)
    val ordering = sortCols.map(c => SortOrder(attr(c), Ascending))
    val rdd0 = df.queryExecution.toRdd
    // cheap sanity guard: a caller whose upstream does NOT actually have
    // n partitions would silently produce wrong exchange-free joins; the
    // partition count is free to check (driver-side metadata only).
    // Exception: an EMPTY upstream (Catalyst's empty-relation propagation
    // collapses it to 0/1 partitions) — no rows, no layout to violate,
    // but the declared n-partition layout must still be PHYSICALLY true:
    // a downstream exchange-free zip join would throw on unequal
    // partition counts. Substitute an n-partition empty RDD. The isEmpty
    // job only runs on the mismatch path and costs ~nothing there. Full
    // per-row hash validation stays opt-in via the debug property (it
    // forces an extra pass over the data).
    val rdd =
      if (rdd0.getNumPartitions == n) rdd0
      else {
        require(rdd0.isEmpty(),
          s"assumeHashPartitioned($hashCol, $n): upstream has " +
            s"${rdd0.getNumPartitions} partitions — the declared layout " +
            "is false")
        spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.catalyst.InternalRow], n)
      }
    if (sys.props.get("graft.internals.verifyLayout").contains("true")) {
      val hashIdx = attrs.indexWhere(_.name == hashCol)
      val bad = rdd.mapPartitionsWithIndex { (pid, rows) =>
        // allocation-free per row: the same murmur3(long, seed=42) + pmod
        // that HashPartitioning's partitionIdExpression computes
        val mismatched = rows.exists { r =>
          val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
            .hashLong(r.getLong(hashIdx), 42)
          ((h % n) + n) % n != pid
        }
        if (mismatched) Iterator.single(pid) else Iterator.empty
      }.take(1)
      require(bad.isEmpty,
        s"assumeHashPartitioned($hashCol, $n): rows in partition " +
          s"${bad.headOption.getOrElse(-1)} violate the declared hash layout")
    }
    Dataset.ofRows(
      spark,
      LogicalRDD(attrs, rdd, partitioning, ordering,
        isStreaming = false)(spark),
    )
  }
}

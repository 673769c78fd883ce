package graft.algos

import graft._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals
import org.apache.spark.storage.StorageLevel

final case class TriResult(global: Long, perVertex: DataFrame)

/** Exact triangle counting (B4, BASELINE.json:6,14).
  *
  * Degree-ordered orientation + sorted-adjacency intersection — the
  * standard shuffle-lean distributed scheme:
  *
  *   1. canonicalize to undirected distinct pairs (u < v);
  *   2. orient each edge from the endpoint with the SMALLER (degree, vid)
  *      to the larger. Every vertex's oriented out-degree is then O(√|E|)
  *      even for hubs — this is the skew kill switch: without it a
  *      hub's adjacency intersection work is quadratic in its degree
  *      (SURVEY §7.4.4; orientation is mandatory, not a tweak);
  *   3. gather oriented adjacency as sorted arrays per source;
  *   4. for each oriented edge (u,v): triangles through it =
  *      |adj(u) ∩ adj(v)| via array_intersect — each triangle counted
  *      exactly once (at its lowest-ordered edge);
  *   5. per-vertex counts: u and v get |∩| each, every w ∈ ∩ gets 1.
  *
  * Deterministic and exact: set intersection has no float or ordering
  * sensitivity. Invariant Σ_v tri(v) = 3·T is asserted in tests.
  */
object Triangles {

  /** Global count only — skips the per-vertex aggregation entirely (it
    * roughly doubles the work; callers that just need T shouldn't pay
    * for it).
    */
  def globalCount(
      edges: Dataset[Edge],
      distinctCanonical: Boolean = false,
  ): Long =
    run(edges, perVertex = false, distinctCanonical = distinctCanonical).global

  /** @param distinctCanonical caller asserts one row per unordered pair,
    *        already oriented src < dst with no self-loops (the
    *        EdgeBuilder.cooccurrence contract) — skips the canonicalize
    *        + distinct pass, one full |E| exchange (round 6).
    */
  def run(
      edges: Dataset[Edge],
      perVertex: Boolean = true,
      distinctCanonical: Boolean = false,
  ): TriResult = {
    val spark = edges.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val input = Internals.cachedLeaf(edges)
    // Peak-memory discipline (round-3 verdict: four simultaneous
    // MEMORY_AND_DISK caches — und, oriented, adj, tri with materialized
    // witness ARRAYS — made this the engine's most memory-hungry plan and
    // collapsed under host memory pressure). Now exactly TWO real caches
    // live during the heavy intersection phase (oriented + adj; deg is one
    // row per vertex — negligible): `und` is released the moment oriented
    // and deg are materialized, and the witness arrays are never cached —
    // each intersection explodes straight into (vid, c) corner rows inside
    // the same codegen pass.
    val und =
      (if (distinctCanonical)
         input.select(col("src").as("a"), col("dst").as("b"))
       else
         input
           .select(
             least(col("src"), col("dst")).as("a"),
             greatest(col("src"), col("dst")).as("b"),
           )
           .where(col("a") =!= col("b"))
           .distinct())
        .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("vid"))
      .unionByName(und.select(col("b").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // orient: keep u -> v iff (deg(u), u) < (deg(v), v)
    val oriented = und
      .join(deg.withColumnRenamed("vid", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("vid", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(
          col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          col("a"),
        ).otherwise(col("b")).as("u"),
        when(
          col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          col("b"),
        ).otherwise(col("a")).as("v"),
      )
      .repartition(p, col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-vertex path only: materialize oriented + deg NOW so und's cache
    // can be dropped before the memory-heavy intersection phase begins.
    // The global-only path never materializes witness arrays — its peak
    // is low enough that paying two extra materialization jobs to retire
    // und early is a net loss (measured +~2 s at sf0.1)
    if (perVertex) {
      oriented.count()
      deg.count()
      und.unpersist(false)
    }
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val triBase = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(
        adj.select(col("u").as("v"), col("nbrs").as("nv")),
        Seq("v"),
      )
    if (!perVertex) {
      // global-only fast path: never materialize the witness arrays —
      // one pass summing intersection sizes
      val global = triBase
        .select(size(array_intersect(col("nu"), col("nv"))).as("c"))
        .agg(coalesce(sum("c"), lit(0L)))
        .head().getLong(0)
      und.unpersist(false)
      oriented.unpersist(false)
      adj.unpersist(false)
      deg.unpersist(false)
      // typed empty frame, not emptyDataFrame: callers that uniformly
      // select vid/triangles must get an empty relation, not an
      // AnalysisException on a schema-less one
      val emptyPerVertex = spark
        .createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vid",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("triangles",
              org.apache.spark.sql.types.LongType, nullable = false),
          )),
        )
      return TriResult(global, emptyPerVertex)
    }
    // per-vertex corners in the SAME pass as the intersection: for each
    // oriented edge (u,v) with witnesses ws = adj(u) ∩ adj(v), emit
    // (u, |ws|), (v, |ws|), and (w, 1) for every w — via one explode of a
    // concat'd struct array, entirely inside whole-stage codegen, with no
    // cached witness arrays and no second read of an intermediate.
    val corners = triBase
      .select(
        col("u"),
        col("v"),
        array_intersect(col("nu"), col("nv")).as("ws"),
      )
      .where(size(col("ws")) > 0)
      .select(
        explode(
          concat(
            array(
              struct(col("u").as("vid"), size(col("ws")).cast("long").as("c")),
              struct(col("v").as("vid"), size(col("ws")).cast("long").as("c")),
            ),
            transform(col("ws"),
              w => struct(w.as("vid"), lit(1L).as("c"))),
          )
        ).as("x")
      )
      .select(col("x.vid").as("vid"), col("x.c").as("c"))
      .groupBy("vid").agg(sum("c").as("c"))
    // vertices in no triangle get an explicit 0. Materialize eagerly
    // (localCheckpoint) BEFORE releasing the caches: perVertex still
    // depends on deg/oriented/adj, so unpersisting first would force a
    // full recompute when the caller finally acts on it — and the
    // intermediate caches must not outlive the call (round-1 leak).
    val perVertexDf = Superstep.cut(
      deg.select(col("vid"))
        .join(corners, Seq("vid"), "left_outer")
        .select(col("vid"), coalesce(col("c"), lit(0L)).as("triangles"))
    )
    // Σ_v tri(v) = 3·T exactly (each triangle contributes one u-corner,
    // one v-corner, one witness), so the global count reads off the
    // already-materialized per-vertex frame — no separate pass over a
    // cached intermediate
    val global =
      perVertexDf.agg(coalesce(sum("triangles"), lit(0L)))
        .head().getLong(0) / 3
    oriented.unpersist(false)
    adj.unpersist(false)
    deg.unpersist(false)
    TriResult(global, perVertexDf)
  }
}

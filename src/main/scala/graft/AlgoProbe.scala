package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.algos.{Bfs, Mis, Sssp}

/** Dev tool: run BFS / SSSP over the driver-testdata co-occurrence graph
  * and print convergence evidence (rounds, reached counts, max/total
  * distance) — used to size the unrolled-round oracles (each oracle must
  * unroll at least the engine's measured fixpoint round count; committed
  * numbers in SURVEY §2.B / the oracle comments). Usage:
  *   runMain graft.AlgoProbe [bfs|sssp|both] [sfDir] [minWeight]
  */
object AlgoProbe {
  def main(args: Array[String]): Unit = {
    val which = if (args.length > 0) args(0) else "both"
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val minW = if (args.length > 2) args(2).toDouble else 2.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // lazy: the ktruss mode synthesizes its own graph and reuses
    // args(1)/args(2) as sizes, so the testdata read must not run there
    lazy val edges = EdgeBuilder
      .cooccurrence(
        spark.read.parquet(s"$sfDir/lineitem.parquet"),
        "l_orderkey",
        "l_partkey",
      )
      .select(col("src"), col("dst"), col("weight").cast("double"))
      .as[Edge]
      .filter(col("weight") >= minW)
    lazy val seeds = Superstep.vertices(edges).where(col("vid") % 10 === 0)
    lazy val nSeeds = seeds.count()
    if (which == "bfs" || which == "both") {
      val r = Bfs.run(edges, seeds)
      val row = r.dists.agg(count(lit(1)), max(col("dist"))).head()
      println(s"[algoprobe] bfs sf=$sfDir minW=$minW seeds=$nSeeds " +
        s"iterations=${r.iterations} reached=${row.getLong(0)} " +
        s"maxHop=${row.get(1)}")
    }
    if (which == "sssp" || which == "both") {
      val r = Sssp.run(edges, seeds)
      val row = r.dists.agg(count(lit(1)), max(col("dist"))).head()
      println(s"[algoprobe] sssp sf=$sfDir minW=$minW seeds=$nSeeds " +
        s"iterations=${r.iterations} reached=${row.getLong(0)} " +
        s"maxDist=${row.get(1)}")
    }
    if (which == "mis") {
      // portable mode: the exact configuration q_mis's oracle replays
      val r = Mis.run(edges, graft.functions.Hash64.Portable)
      println(s"[algoprobe] mis sf=$sfDir minW=$minW " +
        s"rounds=${r.rounds} misSize=${r.mis.count()}")
    }
    if (which == "coloring") {
      // portable mode: the exact configuration q_coloring's oracle replays
      val r = graft.algos.Coloring
        .speculative(edges, hash = graft.functions.Hash64.Portable)
      val row = r.colors.agg(max(col("color")), count(lit(1))).head()
      println(s"[algoprobe] coloring(speculative) sf=$sfDir minW=$minW " +
        s"rounds=${r.rounds} maxColor=${row.get(0)} verts=${row.getLong(1)}")
    }
    if (which == "ktruss") {
      // Incremental-vs-full support maintenance at scale (round-4 verdict
      // plan-audit item). Synthetic gradual-peel graph: `nCliques` disjoint
      // K7s (the stable bulk — every edge support 5 >= minSup 4 at k=6)
      // plus a band-4 chain of `chainN` vertices that peels in three small
      // cascading rounds. The default gate takes the incremental path on
      // every drop round (d << m/8); the forced-full run recounts the
      // whole surviving graph each round. Results are checked identical.
      //   runMain graft.AlgoProbe ktruss [nCliques] [chainN]
      val nCliques = if (args.length > 1) args(1).toLong else 100000L
      val chainN = if (args.length > 2) args(2).toLong else 2000L
      val pairs = (for {
        i <- 0 until 7; j <- (i + 1) until 7
      } yield (i.toLong, j.toLong)).toDF("i", "j")
      val cliqueEdges = spark.range(nCliques).crossJoin(pairs)
        .select(
          (lit(10000000L) + col("id") * 7 + col("i")).as("src"),
          (lit(10000000L) + col("id") * 7 + col("j")).as("dst"),
        )
      val chainEdges = spark.range(chainN + 1)
        .select(col("id").as("i"),
          explode(array((1 to 4).map(d => lit(d.toLong)): _*)).as("d"))
        .where(col("i") + col("d") <= chainN)
        .select(col("i").as("src"), (col("i") + col("d")).as("dst"))
      val synth = Superstep.cut(
        cliqueEdges.unionByName(chainEdges).withColumn("weight", lit(1.0))
      ).as[Edge]
      val m0 = synth.count()
      def sig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val row = df
          .agg(count(lit(1)),
            expr("bit_xor(xxhash64(src, dst))")) // overflow-free, order-free
          .head()
        (row.getLong(0), row.getLong(1))
      }
      def once(label: String, factor: Long): (Long, Long) = {
        val t0 = System.nanoTime()
        val r = graft.algos.KTruss.run(synth, 6, fullRecountFactor = factor)
        val s = sig(r.edges)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[algoprobe] ktruss($label) m=$m0 wall=$secs%.2fs " +
          s"survivors=${s._1} trace=${r.rounds.mkString(" ")}")
        s
      }
      val a = once("incremental-gate", 8L)
      val b = once("forced-full", Long.MaxValue)
      require(a == b, s"path results diverge: $a vs $b")
      println(s"[algoprobe] ktruss paths identical: count=${a._1} sig=${a._2}")
    }
    spark.stop()
  }
}

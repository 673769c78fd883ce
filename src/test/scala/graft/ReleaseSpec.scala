package graft

import graft.algos._
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.grafttest.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Every loop kernel (the single-CSR kernels and Scc) releases what it
  * caches on return: after the
  * kernel runs and its result is collected, the only new persistent RDDs
  * are the checkpoints its result frames read (the RDDs under their
  * `LogicalRDD` leaves) — no adjacency, no replaced round state, no
  * intermediate cut and no edge base. A caller's cached input keeps its
  * storage level. On graph 1 each kernel also starts a pinned number of
  * Spark jobs: a round that adds an action changes it.
  */
class ReleaseSpec extends GraftSuite {
  import spark.implicits._

  /** PropertySpec's seeded random graphs. */
  private def graph(seed: Int): Seq[(Long, Long, Double)] = {
    val r = new scala.util.Random(seed)
    val n = 30 + r.nextInt(40)
    (1 to 150)
      .map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .distinct
      .map { case (a, b) => (a, b, 1.0 + r.nextInt(3).toDouble) }
  }

  private def seeds(g: Seq[(Long, Long, Double)]): DataFrame =
    Seq(g.headOption.fold(0L)(_._1)).toDF("vid")

  /** Each kernel with the Spark jobs its run starts on graph 1 (before
    * its result is collected) and the result frames it returns.
    */
  private def kernels(
      g: Seq[(Long, Long, Double)],
  ): Seq[(String, Int, Dataset[Edge] => Seq[Dataset[_]])] = Seq(
    ("bfs", 8, e => Seq(Bfs.run(e, seeds(g)).dists)),
    ("sssp", 9, e => Seq(Sssp.run(e, seeds(g)).dists)),
    ("kcore", 5, e => Seq(KCore.run(e, 3).core)),
    ("mis", 7, e => Seq(Mis.run(e).mis)),
    ("coloring", 11, e => Seq(Coloring.speculative(e, palette = 4).colors)),
    ("katz", 7, e => Seq(Katz.run(e, rounds = 3).scores)),
    ("louvain", 16, e => Seq(Louvain.run(e, rounds = 2))),
    ("eigen", 7, e => Seq(Eigen.run(e, EcConfig(iterations = 3)).scores)),
    ("labelprop", 6, e => Seq(LabelProp.run(e, LpConfig(iterations = 3)))),
    ("wcc", 4, e => Seq(Wcc.run(e).comps)),
    ("wcc loop", 14, e => Seq(Wcc.run(e, driverMaxPairs = 0).comps)),
    ("hyperball", 6, { e =>
      val c = HyperBall.chain(e, rounds = 2)
      c.state +: c.perRound
    }),
    ("ppr", 12, e => Seq(Ppr.run(e, seeds(g), PrConfig(maxIter = 3)).ranks)),
    ("hits", 10, e => Seq(Hits.run(e, iterations = 3).scores)),
    ("scc", 52, { e => val r = Scc.run(e); Seq(r.comps, r.edgesCut) }),
  )

  /** Ids of the RDDs under the `LogicalRDD` leaves of `df`'s plan. */
  private def checkpointIds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRDD => r.rdd.id
    }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Spark jobs started by `body` on this thread, counted under a job
    * group.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"release-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .contains(group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try body
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Runs every kernel on `g` (on a caller-persisted input if `cached`)
    * and checks what each leaves registered.
    */
  private def check(what: String, g: Seq[(Long, Long, Double)], cached: Boolean): Unit = {
    val input = edgeDs(g)
    if (cached) { input.persist(); input.count() }
    kernels(g).foreach { case (name, _, run) =>
      val before = persistentIds
      val frames = run(input)
      frames.foreach(_.collect())
      val left = persistentIds -- before
      val read = frames.flatMap(checkpointIds).toSet
      assert(left == read,
        s"$name on $what: ${(left -- read).size} persistent RDDs beyond " +
          s"the ${read.size} its result reads")
      if (cached)
        assert(input.storageLevel == StorageLevel.MEMORY_AND_DISK,
          s"$name on $what dropped the caller's cache")
    }
    if (cached) input.unpersist(true)
  }

  test("kernels leave registered only the checkpoints their result reads") {
    check("graph 1", graph(1), cached = false)
  }

  test("a caller's cached input stays cached, and nothing else is left") {
    check("graph 7", graph(7), cached = true)
  }

  test("every kernel handles the empty graph and leaves nothing behind") {
    check("the empty graph", Seq.empty, cached = false)
  }

  test("each kernel starts its pinned number of Spark jobs on graph 1") {
    val g = graph(1)
    val ks = kernels(g)
    val got = ks.map { case (name, _, run) =>
      var frames = Seq.empty[Dataset[_]]
      val jobs = jobsOf { frames = run(edgeDs(g)) }
      frames.foreach(_.collect())
      name -> jobs
    }
    assert(got == ks.map { case (name, jobs, _) => name -> jobs })
  }
}

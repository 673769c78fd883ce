package graft

import graft.algos.Wcc
import graft.oracle.Oracles
import java.nio.file.Files

/** Wcc's two paths: the driver-side union-find taken at or under
  * `driverMaxPairs` input pairs, and the superstep loop over it
  * (`driverMaxPairs = 0` forces the loop on any non-empty input). Both
  * must give the oracle's components exactly.
  */
class WccSpec extends GraftSuite {
  import spark.implicits._

  /** PropertySpec's seeded random graphs. */
  private def seeded(seed: Int): Seq[(Long, Long, Double)] = {
    val r = new scala.util.Random(seed)
    val n = 30 + r.nextInt(40)
    (1 to 150)
      .map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .distinct
      .map { case (a, b) => (a, b, 1.0 + r.nextInt(3).toDouble) }
  }

  private def unit(pairs: (Int, Int)*): Seq[(Long, Long, Double)] =
    pairs.map { case (a, b) => (a.toLong, b.toLong, 1.0) }

  private val graphs: Seq[(String, Seq[(Long, Long, Double)])] =
    Seq(1, 7, 23).map(s => s"seeded graph $s" -> seeded(s)) ++ Seq(
      "duplicate pairs in both directions" ->
        unit((1, 2), (1, 2), (2, 1), (3, 4), (4, 3), (4, 5), (5, 4), (2, 1)),
      "self-loop-only vertices" ->
        unit((1, 2), (2, 3), (7, 7), (9, 9), (9, 9), (3, 1)),
      // the pairs of PipelineOpsSpec's clustersFromPairs test
      "dedup pairs" -> unit((1, 2), (2, 3), (5, 6), (10, 1)),
      "the empty graph" -> Seq.empty,
    )

  private def comps(r: graft.algos.WccResult): Map[Long, Long] =
    r.comps.collect().map(c => c.vid -> c.comp).toMap

  for ((name, g) <- graphs) {
    test(s"driver path and loop match the oracle exactly on $name") {
      val want = Oracles.wcc(g)
      val driver = Wcc.run(edgeDs(g))
      assert(driver.iterations == 0)
      exactMatch(comps(driver), want)
      for (jump <- Seq(true, false)) {
        val loop = Wcc.run(edgeDs(g), pointerJump = jump, driverMaxPairs = 0)
        if (g.nonEmpty)
          assert(loop.iterations > 0, s"pointerJump = $jump ran no round")
        exactMatch(comps(loop), want)
      }
    }
  }

  test("a pair count equal to the bound takes the driver path, one over runs the loop") {
    val path = unit((1 until 7).map(i => (i, i + 1)): _*)
    val want = Oracles.wcc(path)
    val at = Wcc.run(edgeDs(path), driverMaxPairs = path.size.toLong)
    assert(at.iterations == 0)
    exactMatch(comps(at), want)
    val over = Wcc.run(edgeDs(path), driverMaxPairs = path.size - 1L)
    assert(over.iterations > 0)
    exactMatch(comps(over), want)
  }

  test("the driver path neither reads nor writes the store") {
    val path = unit((1 until 40).map(i => (i, i + 1)): _*)
    val root = Files.createTempDirectory("graft-wcc").toString
    // a bogus state that a resumed loop would start from
    val store = new ParquetSnapshotStore(root, "seeded")
    store.write(3, Seq((1L, 99L), (2L, 99L)).toDF("vid", "comp"),
      Map("changed" -> 1.0))
    val r = Wcc.run(edgeDs(path), store = Some(store))
    assert(r.iterations == 0)
    exactMatch(comps(r), Oracles.wcc(path))
    assert(store.latest(spark).map(_._1.iteration) == Some(3))
    val fresh = new ParquetSnapshotStore(root, "fresh")
    Wcc.run(edgeDs(path), store = Some(fresh)).comps.collect()
    assert(fresh.latest(spark).isEmpty, "the driver path wrote a snapshot")
  }
}

package graft

import graft.algos.Scc
import graft.oracle.Oracles

/** Strongly-connected components vs the plain-Scala iterative-Tarjan
  * oracle (a DIFFERENT algorithm from the engine's trim+FW-BW min-label
  * peeling — agreement is evidence, not tautology).
  */
class SccSpec extends GraftSuite {
  import spark.implicits._

  private def run(g: Seq[(Long, Long, Double)]) = Scc.run(edgeDs(g))

  private def got(g: Seq[(Long, Long, Double)]): Map[Long, Long] =
    run(g).comps.as[(Long, Long)].collect().toMap

  test("scc hand fixtures: cycle, chain, bridge, bow-tie") {
    // one 4-cycle → one SCC rooted at its min
    val cycle = Seq((3L, 5L), (5L, 9L), (9L, 4L), (4L, 3L))
      .map { case (a, b) => (a, b, 1.0) }
    assert(got(cycle) == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 4L -> 3L))

    // directed chain → all singletons (the pure-trim path: FB alone
    // would peel one end per round)
    val chain = (0L until 6L).map(i => (i, i + 1, 1.0))
    val chainRes = run(chain)
    assert(chainRes.comps.as[(Long, Long)].collect().toMap ==
      (0L to 6L).map(v => v -> v).toMap)
    assert(chainRes.peels == 1, s"chain should fully trim in one peel")

    // two cycles joined by a one-way bridge → two SCCs, bridge respected
    val two = Seq(
      (0L, 1L, 1.0), (1L, 0L, 1.0), // SCC {0,1}
      (1L, 7L, 1.0), // bridge, one-way
      (7L, 8L, 1.0), (8L, 7L, 1.0), // SCC {7,8}
    )
    assert(got(two) == Map(0L -> 0L, 1L -> 0L, 7L -> 7L, 8L -> 7L))

    // bow-tie: tendril-in → core 3-cycle → tendril-out
    val bow = Seq(
      (10L, 1L, 1.0), // in-tendril
      (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), // core
      (3L, 20L, 1.0), // out-tendril
    )
    assert(got(bow) ==
      Map(10L -> 10L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 20L))
  }

  test("scc ignores self-loops and duplicate edges") {
    val g = Seq(
      (4L, 4L, 1.0), (4L, 6L, 1.0), (4L, 6L, 1.0), (6L, 4L, 1.0),
    )
    assert(got(g) == Map(4L -> 4L, 6L -> 4L))
  }

  test("a vertex with ONLY a self-loop is a singleton SCC (r5 advice)") {
    // 9's only edge is (9,9): it must still appear in the output as a
    // singleton — the vertex universe is ALL edge endpoints, matching
    // Oracles.scc's verticesOf and Wcc's symmetrize behaviour
    val g = Seq((9L, 9L, 1.0), (1L, 2L, 1.0), (2L, 1L, 1.0))
    assert(got(g) == Map(9L -> 9L, 1L -> 1L, 2L -> 1L))
  }

  test("scc matches the Tarjan oracle on seeded random directed graphs") {
    Seq(17L, 211L, 977L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // mean out-degree ~2.5: past the giant-SCC threshold, so the
      // fixture has one giant component + tendrils + small cycles
      val g = (0 until 100).flatMap { _ =>
        val a = rnd.nextInt(40).toLong
        val b = rnd.nextInt(40).toLong
        if (a == b) None else Some((a, b, 1.0))
      }.distinct
      val r = run(g)
      val want = Oracles.scc(g)
      assert(r.comps.as[(Long, Long)].collect().toMap == want,
        s"scc mismatch seed=$seed")
      // the random graphs must exercise a real multi-vertex SCC
      assert(want.groupBy(_._2).values.map(_.size).max > 1,
        s"fixture degenerate (all singletons) seed=$seed")
    }
  }

  test("condensation levels: layered fixture and Tarjan cross-check") {
    // two cycles joined by a bridge, plus an out-tendril:
    // {0,1} -> {7,8} -> 9 : levels 0, 1, 2; sizes 2, 2, 1
    val g = Seq(
      (0L, 1L, 1.0), (1L, 0L, 1.0),
      (1L, 7L, 1.0),
      (7L, 8L, 1.0), (8L, 7L, 1.0),
      (8L, 9L, 1.0),
    )
    val r = Scc.condense(edgeDs(g))
    val got = r.levels.as[(Long, Long, Long)].collect()
      .map { case (s, l, n) => s -> ((l, n)) }.toMap
    assert(got == Map(0L -> ((0L, 2L)), 7L -> ((1L, 2L)), 9L -> ((2L, 1L))))
    // two rounds raise a level, the third finds no change
    assert(r.rounds == 3)

    // random graphs: per-SCC sizes must agree with Tarjan, levels must
    // respect every contracted edge (level(dst) >= level(src) + 1) and
    // every non-source must have a predecessor exactly one level below
    val rnd = new scala.util.Random(59L)
    val rg = (0 until 100).flatMap { _ =>
      val a = rnd.nextInt(40).toLong
      val b = rnd.nextInt(40).toLong
      if (a == b) None else Some((a, b, 1.0))
    }.distinct
    val want = Oracles.scc(rg)
    val wantSizes = want.groupBy(_._2).map { case (s, m) => s -> m.size.toLong }
    val cr = Scc.condense(edgeDs(rg))
    val levels = cr.levels.as[(Long, Long, Long)].collect()
    assert(levels.map { case (s, _, n) => s -> n }.toMap == wantSizes)
    val lvlOf = levels.map { case (s, l, _) => s -> l }.toMap
    val cEdges = rg.map { case (a, b, _) => (want(a), want(b)) }
      .filter { case (x, y) => x != y }.distinct
    cEdges.foreach { case (x, y) =>
      assert(lvlOf(y) >= lvlOf(x) + 1, s"edge ($x,$y) violates levels")
    }
    lvlOf.filter(_._2 > 0).foreach { case (y, ly) =>
      assert(cEdges.exists { case (x, yy) => yy == y && lvlOf(x) == ly - 1 },
        s"node $y at level $ly has no predecessor at ${ly - 1}")
    }
  }

  test("scc propagation trajectory: peels, trim sweeps and rounds") {
    // ReleaseSpec's graph 1 (PropertySpec's seeded random graph, seed 1)
    val r = new scala.util.Random(1)
    val n = 30 + r.nextInt(40)
    val g1 = (1 to 150)
      .map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .distinct
      .map { case (a, b) => (a, b, 1.0 + r.nextInt(3).toDouble) }
    val r1 = run(g1)
    assert(r1.comps.as[(Long, Long)].collect().toMap == Oracles.scc(g1))
    assert((r1.peels, r1.trimRounds, r1.propRounds) == ((1, 3, 10)))
    // a directed 64-cycle: nothing trims, and plain propagation would
    // need ~64 rounds per direction, so the pointer jump must engage
    val cycle = (0L until 64L).map(i => (i, (i + 1) % 64, 1.0))
    val rc = run(cycle)
    assert(rc.comps.as[(Long, Long)].collect().toMap == Oracles.scc(cycle))
    assert((rc.peels, rc.trimRounds, rc.propRounds) == ((1, 0, 72)))
  }

  test("scc on a symmetrized graph equals WCC components") {
    val rnd = new scala.util.Random(31L)
    val und = (0 until 50).flatMap { _ =>
      val a = rnd.nextInt(30).toLong
      val b = rnd.nextInt(30).toLong
      if (a == b) None else Some((a, b, 1.0))
    }.distinct
    // both directions present → strong connectivity == weak connectivity
    val sym = und ++ und.map { case (a, b, w) => (b, a, w) }
    assert(got(sym.distinct) == Oracles.wcc(und))
  }
}

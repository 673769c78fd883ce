package graft

import graft.algos.{LabelProp, PageRank, Triangles, Wcc}
import graft.oracle.Oracles

/** Engine vs in-repo oracle on every golden fixture (SURVEY §5.1, §5.4).
  *
  * PageRank uses tol = 0 + fixed maxIter so engine and oracle execute the
  * identical recurrence for the identical number of steps — the allclose
  * check then verifies pure semantics, not stopping behavior (stopping is
  * covered by the convergence test below).
  */
class AlgoFixtureSpec extends GraftSuite {

  private def collectRanks(res: graft.algos.PrResult): Map[Long, Double] =
    res.ranks.collect().map(r => r.vid -> r.rank).toMap

  for ((name, g) <- Fixtures.all) {
    test(s"pagerank matches oracle on $name (unweighted)") {
      val cfg = PrConfig(tol = 0.0, maxIter = 25)
      val got = collectRanks(PageRank.run(edgeDs(g), cfg))
      allclose(got, Oracles.pageRank(g, cfg))
    }

    test(s"wcc matches oracle exactly on $name (pointer-jump + plain)") {
      val want = Oracles.wcc(g)
      val jumped = Wcc.run(edgeDs(g), driverMaxPairs = 0)
        .comps.collect().map(c => c.vid -> c.comp).toMap
      exactMatch(jumped, want)
      val plain = Wcc.run(edgeDs(g), pointerJump = false, driverMaxPairs = 0)
        .comps.collect().map(c => c.vid -> c.comp).toMap
      exactMatch(plain, want)
      val driver = Wcc.run(edgeDs(g))
        .comps.collect().map(c => c.vid -> c.comp).toMap
      exactMatch(driver, want)
    }

    test(s"label propagation matches oracle exactly on $name") {
      val cfg = LpConfig(iterations = 4)
      val got =
        LabelProp.run(edgeDs(g), cfg).collect().map(l => l.vid -> l.label).toMap
      exactMatch(got, Oracles.labelProp(g, cfg))
    }

    test(s"triangles match oracle exactly on $name") {
      val res = Triangles.run(edgeDs(g))
      val (wantGlobal, wantPer) = Oracles.triangles(g)
      assert(res.global == wantGlobal, s"global: ${res.global} vs $wantGlobal")
      val got = res.perVertex.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exactMatch(got, wantPer)
      // invariant: sum of per-vertex counts = 3 * global
      assert(got.values.sum == 3 * wantGlobal)
    }
  }

  test("pagerank weighted matches oracle on danglers + powerlaw1k") {
    val cfg = PrConfig(tol = 0.0, maxIter = 25, weighted = true)
    for (g <- Seq(Fixtures.danglers, Fixtures.powerlaw1k)) {
      val got = collectRanks(PageRank.run(edgeDs(g), cfg))
      allclose(got, Oracles.pageRank(g, cfg))
    }
  }

  test("pagerank converges on cycle6: uniform 1/6, few iterations") {
    val cfg = PrConfig(tol = 1e-12, maxIter = 50)
    val res = PageRank.run(edgeDs(Fixtures.cycle6), cfg)
    val got = collectRanks(res)
    got.values.foreach(r => assert(math.abs(r - 1.0 / 6) < 1e-12))
    assert(res.iterations < 5, s"took ${res.iterations} iterations")
  }

  test("pagerank mass conservation on twoCliquesBridge (symmetrized)") {
    val g = Fixtures.twoCliquesBridge
    val sym = g ++ g.map { case (s, t, w) => (t, s, w) }
    val cfg = PrConfig(tol = 1e-10, maxIter = 100)
    val got = collectRanks(PageRank.run(edgeDs(sym), cfg))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("wcc: twoCliquesBridge is one component, comp = min vid") {
    val got = Wcc.run(edgeDs(Fixtures.twoCliquesBridge)).comps.collect()
    assert(got.map(_.comp).distinct.toSeq == Seq(1L))
  }

  test("wcc pointer jumping: path-1024 converges in O(log n), not O(n) rounds") {
    val path = (1L until 1024L).map(i => (i, i + 1, 1.0))
    val res = Wcc.run(edgeDs(path), maxIter = 40, driverMaxPairs = 0)
    assert(res.iterations <= 25,
      s"pointer jumping took ${res.iterations} rounds on a 1024-path")
    val got = res.comps.collect().map(c => c.vid -> c.comp).toMap
    exactMatch(got, Oracles.wcc(path))
  }

  test("label propagation: twoCliquesBridge splits into 2 communities") {
    val got = LabelProp
      .run(edgeDs(Fixtures.twoCliquesBridge), LpConfig(iterations = 4))
      .collect().map(l => l.vid -> l.label).toMap
    // the two cliques agree internally
    assert((1L to 5L).map(got).distinct.size == 1)
    assert((6L to 10L).map(got).distinct.size == 1)
  }

  test("salted pagerank == unsalted pagerank (hub skew path, J8)") {
    val g = Fixtures.powerlaw1k
    val cfg = PrConfig(tol = 0.0, maxIter = 10)
    val plain = collectRanks(PageRank.run(edgeDs(g), cfg))
    // tiny block size forces hub splitting + salted partitioning
    val salted = collectRanks(
      PageRank.run(edgeDs(g), cfg, salted = true, maxDegPerBlock = 8)
    )
    allclose(salted, plain, atol = 1e-12, rtol = 1e-9)
  }
}

package graft

import graft.algos.{LabelProp, PageRank, Wcc}
import graft.oracle.Oracles
import java.nio.file.Files

/** Snapshot/resume semantics (SURVEY §5.2): running k iterations straight
  * must equal running part-way, "crashing", and resuming from the latest
  * manifest (BASELINE.json:6,14 "resumable from snapshot checkpoints").
  */
class CheckpointSpec extends GraftSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("run 10 straight == run 5, kill, resume 5 (same store)") {
    val g = Fixtures.powerlaw1k
    val straight = PageRank
      .run(edgeDs(g), PrConfig(tol = 0.0, maxIter = 10))
      .ranks.collect().map(r => r.vid -> r.rank).toMap

    val root = tmp()
    val store = new ParquetSnapshotStore(root, "run1")
    // phase 1: stop at 5 (checkpointEvery=5 guarantees a snapshot at 5)
    PageRank.run(
      edgeDs(g),
      PrConfig(tol = 0.0, maxIter = 5, checkpointEvery = 5),
      store = Some(store),
    )
    // phase 2: resume from the snapshot, run to 10
    val resumed = PageRank.run(
      edgeDs(g),
      PrConfig(tol = 0.0, maxIter = 10, checkpointEvery = 5),
      store = Some(store),
    )
    assert(resumed.iterations == 5, "resume continues, not restarts")
    val got = resumed.ranks.collect().map(r => r.vid -> r.rank).toMap
    allclose(got, straight, atol = 1e-12, rtol = 1e-9)
  }

  test("manifest carries iteration metrics and per-partition lineage") {
    val root = tmp()
    val store = new ParquetSnapshotStore(root, "runM")
    PageRank.run(
      edgeDs(Fixtures.danglers),
      PrConfig(tol = 0.0, maxIter = 3, checkpointEvery = 3),
      store = Some(store),
    )
    val (snap, df) = store.latest(spark).get
    assert(snap.iteration == 3)
    assert(snap.files.nonEmpty, "per-partition file lineage present")
    assert(snap.files.forall(_._2 > 0))
    for (k <- Seq("delta", "danglingMass", "edgesTraversed", "seconds"))
      assert(snap.metrics.contains(k), s"metric $k missing")
    assert(df.count() == 4)
  }

  test("wcc: resume continues from the snapshot and matches the oracle") {
    // a path has enough rounds (even with pointer jumping) that a
    // 3-round prefix is genuinely partial
    val path = (1L until 256L).map(i => (i, i + 1, 1.0))
    val straight = Wcc.run(edgeDs(path), driverMaxPairs = 0)
    val store = new ParquetSnapshotStore(tmp(), "wcc1")
    Wcc.run(edgeDs(path), maxIter = 3, store = Some(store),
      checkpointEvery = 3, driverMaxPairs = 0)
    val resumed =
      Wcc.run(edgeDs(path), store = Some(store), driverMaxPairs = 0)
    // every op is exact integer min/jump — the resumed trajectory equals
    // the straight one from round 3 on
    assert(resumed.iterations == straight.iterations - 3,
      s"resumed ${resumed.iterations} vs straight ${straight.iterations}")
    exactMatch(
      resumed.comps.collect().map(c => c.vid -> c.comp).toMap,
      Oracles.wcc(path),
    )
  }

  test("labelprop: run 6 straight == run 3, kill, resume to 6 (same store)") {
    val g = Fixtures.twoCliquesBridge
    val straight = LabelProp.run(edgeDs(g), LpConfig(iterations = 6))
      .collect().map(l => l.vid -> l.label).toMap
    val store = new ParquetSnapshotStore(tmp(), "lp1")
    LabelProp.run(
      edgeDs(g),
      LpConfig(iterations = 3, checkpointEvery = 3),
      store = Some(store),
    )
    val resumed = LabelProp.run(
      edgeDs(g),
      LpConfig(iterations = 6, checkpointEvery = 3),
      store = Some(store),
    ).collect().map(l => l.vid -> l.label).toMap
    exactMatch(resumed, straight)
  }

  test("checkpointed run still matches the oracle") {
    val g = Fixtures.twoCliquesBridge
    val cfg = PrConfig(tol = 0.0, maxIter = 9, checkpointEvery = 4)
    val store = new ParquetSnapshotStore(tmp(), "runO")
    val got = PageRank.run(edgeDs(g), cfg, store = Some(store))
      .ranks.collect().map(r => r.vid -> r.rank).toMap
    allclose(got, Oracles.pageRank(g, cfg))
  }
}

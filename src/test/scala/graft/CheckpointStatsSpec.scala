package graft

import graft.algos.Wcc

/** A superstep state's checkpoint records its input's size estimate; the
  * next round joins the state with messages derived from itself, which
  * multiplies that estimate again. `Superstep.cutAndAgg` caps it at
  * `Long.MaxValue` so it stays a machine-sized number however many
  * rounds run.
  */
class CheckpointStatsSpec extends GraftSuite {

  test("Wcc's state size estimate stays within Long.MaxValue over 16+ rounds") {
    // plain min-label propagation moves the minimum one hop per round, so
    // an 18-vertex chain runs 17 changing rounds plus the converged one
    val chain = (0L until 17L).map(i => (i, i + 1, 1.0))
    val r = Wcc.run(edgeDs(chain), pointerJump = false)
    assert(r.iterations >= 16, s"only ${r.iterations} rounds")
    val size = r.comps.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size.bitLength <= 63, s"the estimate is a ${size.bitLength}-bit number")
    assert(r.comps.collect().forall(_.comp == 0L))
  }
}

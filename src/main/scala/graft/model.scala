package graft

/** Core data model of the engine.
  *
  * Provenance: the input schema `(repo, path, commit, lang, content)` and the
  * per-row sha256 invariant come from BASELINE.json:15 (input_hint); the
  * graph abstractions (edge table, CSR-blocked hash-partitioned vertex
  * groups, per-vertex state) from BASELINE.json:6,14. See SURVEY.md §1.
  */

/** One row of the source-code table (BASELINE.json:15). */
final case class SourceFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
)

/** A weighted directed edge between vertex ids. */
final case class Edge(src: Long, dst: Long, weight: Double)

/** Dictionary row mapping a vertex id to its string key (repo + "/" + path).
  * Ids are xxhash64(key) (seed 42) — deterministic across runs; collisions
  * are asserted away at build time (SURVEY.md §2.3 E2).
  */
final case class VertexKey(vid: Long, key: String)

/** CSR-blocked adjacency: one row per (source vertex, salt chunk).
  *
  * A "vertex group" holds the out-neighborhood of one source vertex as
  * packed arrays. Hub vertices whose degree exceeds the configured chunk
  * size are split into multiple rows (`salt` = 0..k-1) so that no single
  * row, task, or join key carries an unbounded neighbor list — the explicit
  * skew handling required by BASELINE.json:6,14. `weights` are pre-divided
  * by the vertex's TOTAL out-weight, so a scatter step is a pure multiply.
  *
  * Uniform-weight compression: when every out-edge of the vertex carries
  * the same scatter weight (unweighted PageRank's 1/deg, WCC's 1.0) the
  * `weights` array is EMPTY and `uweight` holds the single value — at
  * 10^12 edges this halves the bytes the scatter streams per superstep.
  */
final case class AdjBlock(
    src: Long,
    salt: Int,
    dsts: Array[Long],
    weights: Array[Double],
    uweight: Double,
)

/** Per-vertex rank state carried across PageRank supersteps.
  * `dangling` = vertex has no out-edges (its mass teleports uniformly).
  */
final case class RankState(vid: Long, rank: Double, dangling: Boolean)

/** Per-vertex component state (WCC). */
final case class CompState(vid: Long, comp: Long)

/** Per-vertex label state (label propagation). */
final case class LabelState(vid: Long, label: Long)

/** Per-vertex centrality score (eigenvector centrality). */
final case class ScoreState(vid: Long, score: Double)

/** PageRank configuration — shared verbatim by the engine and the in-repo
  * oracle so dangling/teleport semantics cannot drift (SURVEY.md §7.4.6).
  */
final case class PrConfig(
    damping: Double = 0.85,
    tol: Double = 1e-10,
    maxIter: Int = 100,
    weighted: Boolean = false,
    checkpointEvery: Int = 8,
)

/** Label-propagation configuration. Synchronous, fixed iteration count,
  * smallest-label tie-break — the deterministic variant that makes exact
  * matching possible (BASELINE.json:14, SURVEY.md §2.B B3).
  */
final case class LpConfig(
    iterations: Int = 5,
    weighted: Boolean = true,
    checkpointEvery: Int = 8,
    // caller asserts the input has ONE row per undirected (src < dst)
    // pair (e.g. an EdgeBuilder.cooccurrence output): symmetrize then
    // skips its merge aggregation (EdgeBuilder.symmetrizeDistinct)
    distinctCanonical: Boolean = false,
)

/** Eigenvector-centrality configuration. Fixed iteration count (power
  * iteration has no universal convergence guarantee — bipartite graphs
  * oscillate), L1 normalization each step; `weighted` scatters the raw
  * edge weight instead of 1.0.
  */
final case class EcConfig(
    iterations: Int = 8,
    weighted: Boolean = false,
    // see LpConfig.distinctCanonical
    distinctCanonical: Boolean = false,
)

/** Edge-builder configuration (SURVEY.md §2.A J2).
  *
  * `maxGroup`: commits touching more than this many files do NOT produce
  * all-pairs edges (quadratic — a 1e6-file commit would emit 5e11 edges at
  * the 1e12-file design scale); instead each file links to the group's
  * minimum-vid file (a star), preserving connectivity at O(group) cost.
  */
final case class EdgeConfig(
    byCommit: Boolean = true,
    byPath: Boolean = false,
    maxGroup: Int = 1024,
)

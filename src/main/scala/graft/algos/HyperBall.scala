package graft.algos

import graft._
import graft.functions.Hash64
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class HyperBallResult(
    sketches: DataFrame, // (vid, idx, val) — sparse HLL registers
    estimates: DataFrame, // (vid, present, s_scaled, est_e7)
    rounds: Int,
)

final case class HarmonicResult(
    // (vid, ball_e7, hc_scaled) — hc_scaled = Σ_t Δball_e7(t) · L/t,
    // an exact BIGINT with L = lcm(1..rounds)
    centralities: DataFrame,
    rounds: Int,
    scale: Long, // L — divide hc_scaled by L·1e7 for the real-valued HC
)

/** One materialized HyperBall register chain: the final sparse state
  * plus the per-round estimate frames (t = 0..rounds, each
  * (vid, present, s_scaled, est_e7) over that round's CUT state).
  * Every HyperBall product — final estimates, harmonic centrality, the
  * neighborhood function — is a cheap derivation over these frames, so
  * callers that need several products build the chain ONCE and derive
  * (the round-4 advice: the three driver queries used to re-run the
  * identical 4-round scatter chain each).
  */
final case class HyperBallChain(
    state: DataFrame,
    perRound: Vector[DataFrame],
    rounds: Int,
)

/** Approximate neighborhood function via HyperBall (Boldi & Vigna,
  * "In-Core Computation of Geometric Centralities with HyperBall",
  * 2013): after t rounds, each vertex holds a HyperLogLog sketch of its
  * distance-≤t ball, from which ball sizes — and from their growth, the
  * effective diameter — are estimated at 16 registers per vertex
  * instead of a per-vertex visited set. THE technique for "how connected
  * is this graph" at 10^12 edges, where exact neighborhood functions are
  * hopeless.
  *
  * Determinism contract (BASELINE.json:14 applied to an approximate
  * algorithm): the SKETCH is deterministic even though the estimate is
  * approximate. Register init comes from the pluggable [[Hash64]]
  * (portable mode replays in DuckDB), merges are elementwise integer
  * max (order-free), and the estimator is evaluated in EXACT integer
  * arithmetic up to one final double division:
  *
  *   S_scaled(v) = Σ_j 2^(58 − reg_j)   (empty register ⇒ 2^58),
  *   est(v)      = α₁₆·m² / Σ 2^(−reg_j) = 172.288 · 2^58 / S_scaled
  *
  * with reg values in [1, 57] so every 2^(58−reg) is an exact BIGINT
  * and S_scaled ≤ 16·2^57 < 2^63. The raw HLL estimator is used
  * deliberately — the standard small-range linear-counting correction
  * needs ln(), which is not bit-portable across engines; the register
  * table itself is the exact-match surface, the estimate a derived
  * column.
  *
  * Execution shape: registers are SPARSE (vid, idx, val) rows — a
  * vertex's absent registers are zero, so a fresh vertex carries ONE
  * row, and a t-ball sketch at most 16. One superstep = scatter the
  * rows along edges + union the previous state + ONE repartition by
  * vid; the (vid, idx) max-aggregate needs no further exchange because
  * hash(vid) already clusters (vid, idx) — the exact plan shape of the
  * label-propagation superstep. The chain keeps its own round loop,
  * not [[Superstep.iterate]]: its result reads every round's state
  * (`perRound`), and `iterate`'s release rule would free those states.
  */
object HyperBall {

  /** m = 16 registers (regBits = 4); α₁₆ = 0.673 (Flajolet et al. 2007). */
  val Registers = 16
  val Alpha16 = 0.673
  val MaxRho = 57 // 56 payload bits after the 4 index bits, +1 sentinel

  /** rho(q) = 1 + trailing zeros of q, capped for q = 0 — a when-chain of
    * pure integer masks so DuckDB evaluates it bit-identically.
    */
  private def rho(q: Column): Column = {
    val base = when(q === 0L, lit(MaxRho))
    (1 to MaxRho - 1).foldLeft(base) { (acc, r) =>
      acc.when(
        q.bitwiseAND(lit((1L << r) - 1L)) === lit(1L << (r - 1)),
        lit(r),
      )
    }.otherwise(lit(MaxRho))
  }

  /** Run the register chain ONCE: T supersteps, each round's state cut
    * (materialized), with the per-round estimate frames collected lazily
    * over those cut states (they cost nothing until an action reads
    * them). All public products derive from the returned chain.
    */
  def chain(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): HyperBallChain = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // union-only symmetrize is valid UNCONDITIONALLY here: register
    // merging is a max — idempotent — so duplicate adjacency entries
    // (two-direction inputs, multi-edges) cannot change any register,
    // the same argument as Wcc's min (round 6)
    val base = EdgeBuilder.symmetrizeDistinct(edges)
    // per-superstep message volume is ~Registers·|E| (one row per
    // (register, out-edge)); size the loop's partitions to that
    Superstep.onGraph(base, Csr.WeightMode.One, rowsPerEntry = Registers) { g =>
    // vertex universe from the packed blocks: exchange-free, ~|V| rows
    // instead of a 2|E| union+distinct (see Superstep.verticesFromAdj)
    val nVerts = Superstep.verticesFromAdj(g.adj).count()

    // each vertex inserts ITSELF into its own sketch: index = low 4 hash
    // bits, rho over the remaining bits (shift, not divide — a double
    // division would lose bits past 2^53). Portable hashes are >= 0;
    // xxhash64 can be negative, so mask to 60 bits first on BOTH paths.
    val h = hash.one(col("vid")).bitwiseAND(lit((1L << 60) - 1L))
    var state: DataFrame = Superstep.cut(
      Superstep.verticesFromAdj(g.adj)
        .select(
          col("vid"),
          h.bitwiseAND(lit(15L)).cast("int").as("idx"),
          rho(shiftright(h, 4)).as("val"),
        ),
      nVerts,
    )
    var perRound = Vector(estimateFrame(state))
    var iter = 0
    while (iter < rounds) {
      val msgs = Superstep
        .scatter(g.adj, state)
        .select(col("vid"), col("idx"), col("val"))
      val merged = msgs
        .unionByName(state)
        .repartition(g.p, col("vid")) // the ONE exchange of the superstep
        .groupBy("vid", "idx") // hash(vid) clusters (vid, idx): no re-exchange
        .agg(max("val").as("val"))
      state = Superstep.cut(merged, nVerts * Registers)
      iter += 1
      perRound :+= estimateFrame(state)
    }
    // every round's state stays: the perRound frames read them lazily
    HyperBallChain(state, perRound, rounds)
    } // onGraph
  }

  def run(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): HyperBallResult = estimatesOf(chain(edges, rounds, hash))

  /** Final-round estimates from an existing chain (no new supersteps). */
  def estimatesOf(c: HyperBallChain): HyperBallResult =
    HyperBallResult(c.state, c.perRound.last, c.rounds)

  /** Ball-size estimate per vertex from a sparse register state:
    * (vid, present, s_scaled, est_e7). Exact integer arithmetic up to
    * the one double division (see the object Scaladoc).
    */
  private def estimateFrame(state: DataFrame): DataFrame = state
    .groupBy("vid")
    .agg(
      count(lit(1)).as("present"),
      // shiftleft(Column, Int) has no column-shift overload — SQL form
      sum(expr("shiftleft(CAST(1 AS BIGINT), 58 - val)")).as("sp"),
    )
    .select(
      col("vid"),
      col("present"),
      (col("sp") + (lit(16L) - col("present")) * lit(1L << 58))
        .as("s_scaled"),
    )
    .select(
      col("vid"),
      col("present"),
      col("s_scaled"),
      // α₁₆·m²/Σ2^-reg = 0.673·256·2^58/S_scaled; 256·2^58 = 2^66 is
      // exact in double, and the op order (fold α·2^66, divide, scale)
      // mirrors the oracle SQL token-for-token
      round(
        lit(Alpha16) * lit((1L << 58).toDouble * 256.0) /
          col("s_scaled").cast("double") * 1e7,
        0,
      ).cast("long").as("est_e7"),
    )

  /** Harmonic centrality — THE application HyperBall was built for
    * (Boldi & Vigna 2013, §4: "Geometric Centralities"):
    *
    *   HC(v) = Σ_{t=1..T} (|B(v,t)| − |B(v,t−1)|) / t
    *
    * i.e. every vertex reachable within T hops contributes 1/distance.
    * Exact HC needs all-pairs distances; HyperBall's per-round ball
    * estimates make it O(T) supersteps at 16 registers a vertex.
    *
    * Determinism: registers only grow, so s_scaled is non-increasing and
    * est_e7 non-decreasing per round — each round's est_e7 is a BIGINT
    * (one rounded double division, the q_hyperball contract). The 1/t
    * weights are cleared by L = lcm(1..T) and the sum telescoped to
    * integer coefficients
    *
    *   hc_scaled = Σ_{t=0..T} c_t · est_e7(t),
    *   c_0 = −L, c_t = L/t − L/(t+1) (0<t<T), c_T = L/T
    *
    * so hc_scaled is EXACT cross-engine (commutative BIGINT adds; true
    * HC ≈ hc_scaled / (L·1e7)). Safe while ball estimates stay below
    * ~9e11 (est_e7·L under 2^63) — at 10^12 vertices switch L out for a
    * double sum and a tolerance contract.
    *
    * Cost on top of [[run]]: one |V|-row estimate aggregate per round —
    * O(T·|V|) next to the scatter's O(T·|E|), and each aggregate reads a
    * state that is already hash-partitioned by vid (no extra exchange
    * for the grouping's first key).
    */
  def harmonic(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): HarmonicResult = harmonicOf(chain(edges, rounds, hash))

  /** Harmonic centrality from an existing chain: one union-aggregate
    * over the already-cut per-round frames — no new supersteps.
    */
  def harmonicOf(c: HyperBallChain): HarmonicResult = {
    val rounds = c.rounds
    val l = (1 to rounds).foldLeft(1L)((acc, t) => lcm(acc, t.toLong))
    def coef(t: Int): Long =
      if (t == 0) -l
      else if (t == rounds) l / rounds
      else l / t - l / (t + 1)
    val centralities = c.perRound.zipWithIndex.map { case (f, t) =>
      f.select(
        col("vid"),
        col("est_e7"),
        lit(coef(t)).as("c"),
        lit(t).as("t"),
      )
    }.reduce(_ unionByName _)
      .groupBy("vid")
      .agg(
        max(when(col("t") === rounds, col("est_e7"))).as("ball_e7"),
        sum(col("est_e7") * col("c")).as("hc_scaled"),
      )
    HarmonicResult(centralities, rounds, l)
  }

  /** Closeness / Lin's-index ingredients from an existing chain — the
    * remaining geometric centralities of Boldi & Vigna 2013 §4 next to
    * [[harmonicOf]]: closeness(v) = 1/Σ_u d(v,u) and Lin's index
    * r(v)²/Σ d(v,u), both defined by the same T-truncated
    * sum-of-distances
    *
    *   Σd(v) = Σ_{t=1..T} t · (|B(v,t)| − |B(v,t−1)|)
    *         = T·|B(v,T)| − Σ_{t=0..T−1} |B(v,t)|
    *
    * which telescopes to INTEGER coefficients over the per-round BIGINT
    * estimates (c_T = T, c_t = −1 otherwise) — so sumdist_e7 is exact
    * cross-engine by commutative BIGINT adds, like hc_scaled. The output
    * stays on the integer surface (vid, ball_e7, sumdist_e7); the float
    * centralities derive as 1e7/sumdist_e7·1e7 (closeness) and
    * ball_e7²/(1e7·sumdist_e7) (Lin) — divisions the CALLER performs, so
    * no engine-internal float ordering crosses the contract. Registers
    * only grow, so est_e7 is non-decreasing per round and sumdist_e7 is
    * always ≥ 0 (spec-pinned). Cost: one |V|-row aggregate over the
    * already-cut frames — no new supersteps.
    */
  def closeness(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = closenessOf(chain(edges, rounds, hash))

  def closenessOf(c: HyperBallChain): DataFrame = {
    val rounds = c.rounds
    def coef(t: Int): Long = if (t == rounds) rounds.toLong else -1L
    c.perRound.zipWithIndex.map { case (f, t) =>
      f.select(
        col("vid"),
        col("est_e7"),
        lit(coef(t)).as("c"),
        lit(t).as("t"),
      )
    }.reduce(_ unionByName _)
      .groupBy("vid")
      .agg(
        max(when(col("t") === rounds, col("est_e7"))).as("ball_e7"),
        sum(col("est_e7") * col("c")).as("sumdist_e7"),
      )
  }

  /** Approximate NEIGHBORHOOD FUNCTION and effective diameter — the
    * other headline HyperBall application (Boldi & Vigna 2013, §5;
    * Palmer et al.'s ANF): N(t) = Σ_v |B(v,t)| estimated per round, and
    * the 90%-effective diameter = the smallest t whose N(t) reaches 90%
    * of N(T). THE "how far apart is this graph" summary at 10^12 edges,
    * where an exact distance distribution is hopeless.
    *
    * Determinism: each per-vertex, per-round est_e7 is the q_hyperball
    * BIGINT (exact registers through the pluggable hash + one rounded
    * double division), N(t) is their commutative BIGINT sum, and the
    * 90% test is the exact integer comparison `N(t)·10 ≥ N(T)·9` — no
    * float crosses a decision boundary. Registers only grow, so N(t) is
    * non-decreasing in t (spec-pinned).
    *
    * Cost on top of [[run]]: one |V|-row sum per round over a state
    * that is already hash-partitioned by vid — O(T·|V|) next to the
    * scatter's O(T·|E|). The output is T+1 rows regardless of scale.
    *
    * @return (t, nf_e7, reach90) for t = 0..rounds; the effective
    *         diameter is `min t with reach90` (t=rounds always
    *         qualifies).
    */
  def neighborhoodFunction(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = neighborhoodOf(chain(edges, rounds, hash))

  /** Neighborhood function + 90% reach test from an existing chain:
    * one |V|-row sum per round over the already-cut frames.
    */
  def neighborhoodOf(c: HyperBallChain): DataFrame = {
    val nf = c.perRound.zipWithIndex.map { case (f, t) =>
      f.select(lit(t).as("t"), col("est_e7"))
    }.reduce(_ unionByName _)
      .groupBy("t")
      .agg(sum(col("est_e7")).as("nf_e7"))
    val last = nf.where(col("t") === c.rounds)
      .select(col("nf_e7").as("nf_last"))
    nf
      .join(broadcast(last))
      .select(
        col("t"),
        col("nf_e7"),
        (col("nf_e7") * 10L >= col("nf_last") * 9L).as("reach90"),
      )
  }

  private def lcm(a: Long, b: Long): Long = {
    @annotation.tailrec def gcd(x: Long, y: Long): Long =
      if (y == 0) x else gcd(y, x % y)
    a / gcd(a, b) * b
  }
}

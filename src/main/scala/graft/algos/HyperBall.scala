package graft.algos

import graft._
import graft.functions.Hash64
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class HyperBallResult(
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

/** One materialized HyperBall register chain: one checkpointed row per
  * vertex, (vid, r0..r15, e0..e<rounds>), holding its 16 registers after
  * the last round and its est_e7 after every round t = 0..rounds.
  * Every HyperBall product — final estimates, harmonic centrality,
  * closeness, the neighborhood function — is one projection or one
  * aggregate over this frame, so callers that need several products
  * build the chain ONCE and derive.
  */
final case class HyperBallChain(
    state: DataFrame,
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
  * with reg values in [1, 57], and 0 for an empty register, so every
  * term is an exact BIGINT and S_scaled ≤ 16·2^58 < 2^63. The raw HLL estimator is used
  * deliberately — the standard small-range linear-counting correction
  * needs ln(), which is not bit-portable across engines; the register
  * table itself is the exact-match surface, the estimate a derived
  * column.
  *
  * Execution shape: the state is DENSE, one row per vertex carrying its
  * 16 registers as INT columns r0..r15 and its per-round estimates as
  * BIGINT columns e0..e<rounds> (null until their round runs). One
  * superstep = scatter the registers along edges + union the previous
  * state + ONE repartition by vid + a `max` per column (fixed-width
  * buffers, so a codegen'd HashAggregate), then the round's estimate
  * from the merged registers into the first null e_t — the plan shape
  * of the label-propagation superstep, run by [[Superstep.iterate]].
  * Every product reads only the last state, since it carries every
  * round's estimate.
  */
object HyperBall {

  /** m = 16 registers (regBits = 4); α₁₆ = 0.673 (Flajolet et al. 2007). */
  val Registers = 16
  val Alpha16 = 0.673
  val MaxRho = 57 // 56 payload bits after the 4 index bits, +1 sentinel

  private val registers = (0 until Registers).map(j => col(s"r$j"))
  private def estimate(t: Int): Column = col(s"e$t")

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

  /** S_scaled = Σ_j 2^(58 − r_j) over the register columns; an empty
    * register (0) adds 2^58 with no special case.
    */
  private def sScaled: Column = registers
    // shiftleft(Column, Int) has no column-shift overload — SQL form
    .map(r => expr(s"shiftleft(CAST(1 AS BIGINT), 58 - $r)"))
    .reduce(_ + _)

  /** est_e7 from S_scaled: α₁₆·m²/Σ2^-reg = 0.673·256·2^58/S_scaled;
    * 256·2^58 = 2^66 is exact in double, and the op order (fold α·2^66,
    * divide, scale) mirrors the oracle SQL token-for-token.
    */
  private def estE7(s: Column): Column = round(
    lit(Alpha16) * lit((1L << 58).toDouble * 256.0) / s.cast("double") * 1e7,
    0,
  ).cast("long")

  /** Run the register chain ONCE: T supersteps through
    * [[Superstep.iterate]], each round's state cut. All public products
    * derive from the returned chain.
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
    // a round's message row carries all 16 registers of one out-edge,
    // about the bytes of up to 16 one-register rows; size p to that
    Superstep.onGraph(base, Csr.WeightMode.One, rowsPerEntry = Registers) { g =>
    // each vertex inserts ITSELF into its own sketch: index = low 4 hash
    // bits, rho over the remaining bits (shift, not divide — a double
    // division would lose bits past 2^53). Portable hashes are >= 0;
    // xxhash64 can be negative, so mask to 60 bits first on BOTH paths.
    val h = hash.one(col("vid")).bitwiseAND(lit((1L << 60) - 1L))
    // rho gets its own projection, so its 57-branch CASE is evaluated
    // once per vertex, not inlined into all 16 register columns
    val seeded = Superstep.verticesFromAdj(g.adj).select(
      col("vid"),
      h.bitwiseAND(lit(15L)).cast("int").as("idx"),
      rho(shiftright(h, 4)).as("rho"),
    )
    val regs = seeded.select(col("vid") +: registers.indices.map { j =>
      when(col("idx") === j, col("rho")).otherwise(0).as(s"r$j")
    }: _*)
    val init = Superstep.cut(
      regs.select((col("vid") +: registers :+ estE7(sScaled).as("e0")) ++
        (1 to rounds).map(t => lit(null).cast("long").as(s"e$t")): _*),
      g.entries,
    )
    val (state, _) = Superstep.iterate(Seq(g.adj), init, g.entries, rounds)(
      (state, _) => superstep(g.adj, state, g.p))
    HyperBallChain(state, rounds)
    } // onGraph
  }

  /** One round of the chain: (vid, r0..r15, e0..) state in, next state
    * out, with the round's estimate from the merged registers in the
    * first null e_t. Package-visible so the plan-shape suite can pin its
    * one exchange and HashAggregate without running the loop.
    */
  private[graft] def superstep(
      adj: Dataset[AdjBlock],
      state: DataFrame,
      p: Int,
  ): DataFrame = {
    val maxes = state.columns.toSeq.filter(_ != "vid").map(c => max(c).as(c))
    // the round's estimate fills the first null e_t: no expression names
    // the round, so every round reuses one set of generated classes
    val es = state.columns.toSeq.filter(_.startsWith("e"))
    val filled = es.sliding(2).map { case Seq(prev, e) =>
      coalesce(col(e), when(col(prev).isNotNull, col("est"))).as(e)
    }.toSeq
    Superstep.scatter(adj, state.select(col("vid") +: registers: _*))
      .drop("w")
      .unionByName(state, allowMissingColumns = true)
      .repartition(p, col("vid")) // the ONE exchange of the superstep
      .groupBy("vid")
      .agg(maxes.head, maxes.tail: _*)
      .withColumn("est", estE7(sScaled))
      .select((col("vid") +: registers :+ col(es.head)) ++ filled: _*)
  }

  def run(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): HyperBallResult = estimatesOf(chain(edges, rounds, hash))

  /** Final-round estimates from an existing chain (no new supersteps):
    * (vid, present, s_scaled, est_e7), exact integer arithmetic up to
    * the one double division (see the object Scaladoc).
    */
  def estimatesOf(c: HyperBallChain): HyperBallResult = HyperBallResult(
    c.state.select(
      col("vid"),
      registers.map(r => (r > 0).cast("long")).reduce(_ + _).as("present"),
      sScaled.as("s_scaled"),
      estimate(c.rounds).as("est_e7"),
    ),
    c.rounds,
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
    * HC ≈ hc_scaled / (L·1e7)). Safe as long as ball estimates stay below
    * ~9e11 (est_e7·L under 2^63) — at 10^12 vertices switch L out for a
    * double sum and a tolerance contract.
    *
    * Cost on top of [[run]]: one projection over the chain's state,
    * which already carries every round's estimate.
    */
  def harmonic(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): HarmonicResult = harmonicOf(chain(edges, rounds, hash))

  /** Harmonic centrality from an existing chain — no new supersteps. */
  def harmonicOf(c: HyperBallChain): HarmonicResult = {
    val rounds = c.rounds
    val l = (1 to rounds).foldLeft(1L)((acc, t) => lcm(acc, t.toLong))
    val centralities = telescoped(c, "hc_scaled") { t =>
      if (t == 0) -l
      else if (t == rounds) l / rounds
      else l / t - l / (t + 1)
    }
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
    * always ≥ 0 (spec-pinned). Cost: one projection over the chain's
    * state — no new supersteps.
    */
  def closeness(
      edges: Dataset[Edge],
      rounds: Int,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = closenessOf(chain(edges, rounds, hash))

  def closenessOf(c: HyperBallChain): DataFrame =
    telescoped(c, "sumdist_e7")(t => if (t == c.rounds) c.rounds.toLong else -1L)

  /** (vid, ball_e7, `name`) with `name` = Σ_{t=0..T} coef(t)·est_e7(t),
    * exact BIGINT arithmetic over the chain's per-round estimates.
    */
  private def telescoped(c: HyperBallChain, name: String)(
      coef: Int => Long,
  ): DataFrame = c.state.select(
    col("vid"),
    estimate(c.rounds).as("ball_e7"),
    (0 to c.rounds).map(t => estimate(t) * lit(coef(t))).reduce(_ + _).as(name),
  )

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
    * Cost on top of [[run]]: one global aggregate over the chain's
    * state — O(|V|) next to the scatter's O(T·|E|). The output is T+1
    * rows regardless of scale (none on an empty graph).
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
    * one global sum per round's estimate column.
    */
  def neighborhoodOf(c: HyperBallChain): DataFrame = c.state
    .agg(array((0 to c.rounds).map(t => sum(estimate(t))): _*).as("nf"))
    // a global aggregate emits one (null) row even over an empty state
    .where(col("nf")(0).isNotNull)
    .select(
      posexplode(col("nf")).as(Seq("t", "nf_e7")),
      col("nf")(c.rounds).as("nf_last"),
    )
    .select(
      col("t"),
      col("nf_e7"),
      (col("nf_e7") * 10L >= col("nf_last") * 9L).as("reach90"),
    )

  private def lcm(a: Long, b: Long): Long = {
    @annotation.tailrec def gcd(x: Long, y: Long): Long =
      if (y == 0) x else gcd(y, x % y)
    a / gcd(a, b) * b
  }
}

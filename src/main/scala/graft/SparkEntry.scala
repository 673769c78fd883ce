package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.algos.{Bfs, Coloring, Eigen, Hits, HyperBall, Katz, KCore, KTruss, LabelProp, LinkPred, Louvain, Mis, Modularity, NeighborSample, PageRank, Ppr, Scc, Sssp, Stress, Triangles, Walks, Wcc}
import graft.functions.{Hash64, Text}
import graft.operators.{Corpus, Dedup, Multimodal, Relational, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible query ships a DuckDB oracle in [[oracleSql]];
  * column names AND types are aligned on both sides (longs for counts,
  * DECIMAL(18,2) for money sums — double sums are reduction-order
  * dependent and would hash-mismatch). Iterative graph algorithms and
  * xxhash64-based sketches are not expressible in portable SQL and are
  * covered by the in-repo oracle suites instead (SURVEY §5.1).
  *
  * The test graph for the graph-operator queries is lineitem part
  * co-occurrence (parts sharing an l_orderkey), structurally mirroring
  * the commit co-occurrence of the engine's source-code input
  * (FIXTURES.md §3).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Parallelize heavy per-row work after a narrow scan (guide §2.5,
    * "input skew: one huge unsplittable file"): the testdata parquet
    * files are one file of one row group each, so every scan is ONE task
    * and the expensive per-row stages (tokenize / shingle / minhash
    * signatures / SRP projections / regex) that run before the first
    * exchange would execute single-threaded. When the scan reads
    * materially fewer files than the session's shuffle parallelism, one
    * round-robin repartition spreads the rows first; production
    * multi-file scans already arrive parallel and pass through untouched
    * (the condition is derived from the scan's file list, never a
    * constant). The file list comes from the optimized logical plan, so
    * the gate plans no physical scan (`df.rdd` would).
    * Results are unaffected: every downstream contract in this file is
    * partitioning-independent by design (exact-integer or per-row
    * surfaces — the cross-engine hash-match requirement already forbids
    * reduction-order-sensitive floats).
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.inputFiles.length * 2 < p) df.repartition(p) else df
  }

  /** [[spread]] + one materialization for queries whose plan consumes
    * the spread rows in SEVERAL branches (each branch would otherwise
    * re-scan and re-shuffle the input).
    */
  private def spreadCut(df: DataFrame): DataFrame =
    Superstep.cut(spread(df))

  private def partEdges(s: SparkSession, dir: String): DataFrame =
    EdgeBuilder.cooccurrence(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")

  private def partEdgeDs(s: SparkSession, dir: String) = {
    import s.implicits._
    partEdges(s, dir)
      .select(col("src"), col("dst"), col("weight").cast("double"))
      .as[Edge]
  }

  /** Loud guard for a query whose DuckDB oracle unrolls `unroll` rounds:
    * a dataset needing more would converge fine in the engine but FREEZE
    * mid-run in the oracle, so fail naming the cause instead of surfacing
    * as an opaque hash mismatch.
    */
  private def withinUnroll(query: String, rounds: Int, unroll: Int): Unit =
    require(rounds <= unroll, s"$query: engine took $rounds rounds but the " +
      s"unrolled oracle covers $unroll — widen the oracle unroll")

  /** One HyperBall register chain per (session, dir, hash mode), shared
    * by q_hyperball / q_harmonic / q_neighborhood / q_closeness — the
    * four queries are pure derivations over the same chain (round-4
    * advice: each used to rebuild and re-run the identical 4-round
    * scatter chain). Results are unchanged — the chain's cut state is
    * deterministic and session-stable — so per-query independence is
    * preserved in OUTPUT; only the redundant recompute is gone. The memo
    * holds one checkpointed |V|-row frame per key (registers plus every
    * round's estimate), keyed on the sketch-hash mode because Verify
    * flips it.
    */
  private val hbMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Boolean), graft.algos.HyperBallChain]
  private def hbChain(s: SparkSession, d: String): graft.algos.HyperBallChain =
    hbMemo.computeIfAbsent(
      (s, d, sketchHash eq Hash64.Portable),
      _ => HyperBall.chain(
        partEdgeDs(s, d).filter(col("weight") >= 2.0),
        rounds = 4,
        hash = sketchHash,
      ),
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full pipeline — co-occurrence edge build → PageRank → top parts.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ranks = PageRank
      .run(partEdgeDs(spark, dir), PrConfig(tol = 1e-8, maxIter = 20))
      .ranks
    ranks.toDF()
      .join(
        t(spark, dir, "part"),
        col("vid") === col("p_partkey"),
        "inner",
      )
      .select(col("vid"), col("p_name"), col("rank"))
      .orderBy(col("rank").desc, col("vid"))
      .limit(10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- graph substrate: BGP-style co-occurrence join (J2/E1) ----
    "q_edges" -> ((s, d) => partEdges(s, d)),
    "q_degrees" -> { (s, d) =>
      val e = partEdges(s, d)
      e.select(col("src").as("vid"), col("weight"))
        .unionByName(e.select(col("dst").as("vid"), col("weight")))
        .groupBy("vid")
        .agg(count(lit(1)).as("degree"), sum("weight").as("wdegree"))
    },
    "q_top_hubs" -> { (s, d) =>
      val e = partEdges(s, d)
      e.select(col("src").as("vid"), col("weight"))
        .unionByName(e.select(col("dst").as("vid"), col("weight")))
        .groupBy("vid")
        .agg(count(lit(1)).as("degree"), sum("weight").as("wdegree"))
        .orderBy(col("wdegree").desc, col("degree").desc, col("vid"))
        .limit(20)
    },
    // ---- graph algorithms (B1-B4) ----
    "q_tri_global" -> { (s, d) =>
      import s.implicits._
      val g = Triangles.globalCount(partEdgeDs(s, d), distinctCanonical = true)
      s.createDataset(Seq(g)).toDF("triangles")
    },
    "q_tri_pervertex" -> ((s, d) =>
      Triangles.run(partEdgeDs(s, d), distinctCanonical = true).perVertex),
    // ranks are compared as round(rank*1e7) BIGINTs on both sides: raw
    // float64 ranks differ across engines in the last ulps (shuffle
    // reduction order), and decimal STRINGS are halfway-unsafe (Java
    // format_string rounds HALF_UP, DuckDB printf half-to-even, and
    // doubles like 2^-8 DO land exactly on a 7-decimal halfway point).
    // Both engines' numeric round() on DOUBLE is half-away-from-zero
    // (verified), so the integer quantization agrees even at halfway.
    "q_pagerank_top20" -> { (s, d) =>
      import s.implicits._
      // materialize the co-occurrence build ONCE: Csr.build traverses its
      // input ~3x (normalization agg, verts, outs) and the lazy self-join
      // plan re-ran each time — the same caller-side cut q_ppr_top20 and
      // q_modularity already use (PageRank.scala itself stays untouched
      // to preserve the scaling-gate's frozen-file rule). The fused count
      // sizes the loop's adaptive partitions (r6, see Tuning) — a
      // caller-side conf wrap, the certified loop file is unchanged.
      val (eCut, eRow) = Superstep.cutAndAgg(
        partEdgeDs(s, d).toDF(), 0L, Seq(count(lit(1))))
      Tuning.withShufflePartitions(
        s, Tuning.adaptivePartitions(s, eRow.getLong(0))) {
        PageRank
          .run(eCut.as[Edge], PrConfig(tol = 0.0, maxIter = 8))
      }
        .ranks.toDF()
        .select(
          col("vid"),
          round(col("rank") * 1e7, 0).cast("long").as("rank_e7"),
        )
        .orderBy(col("rank_e7").desc, col("vid"))
        .limit(20)
    },
    // weighted PageRank: scatter share = weight/Σ out-weights (engine
    // WeightMode.NormWeighted) instead of 1/outdeg; same 8 fixed
    // supersteps + rank_e7 quantization contract as q_pagerank_top20.
    // Integral co-occurrence weights make nw = w/Σw the identical IEEE
    // division on both engines; message-sum order differences are ulp
    // noise far below the e7 grid.
    "q_pagerank_w20" -> { (s, d) =>
      import s.implicits._
      // same caller-side edge-base cut + adaptive-partition wrap as
      // q_pagerank_top20 (see there)
      val (eCut, eRow) = Superstep.cutAndAgg(
        partEdgeDs(s, d).toDF(), 0L, Seq(count(lit(1))))
      Tuning.withShufflePartitions(
        s, Tuning.adaptivePartitions(s, eRow.getLong(0))) {
        PageRank
          .run(eCut.as[Edge], PrConfig(tol = 0.0, maxIter = 8, weighted = true))
      }
        .ranks.toDF()
        .select(
          col("vid"),
          round(col("rank") * 1e7, 0).cast("long").as("rank_e7"),
        )
        .orderBy(col("rank_e7").desc, col("vid"))
        .limit(20)
    },
    "q_wcc_sizes" -> { (s, d) =>
      Wcc.run(partEdgeDs(s, d)).comps.toDF()
        .groupBy("comp").agg(count(lit(1)).as("cnt"))
    },
    "q_labelprop_sizes" -> { (s, d) =>
      LabelProp.run(
        partEdgeDs(s, d),
        LpConfig(iterations = 3, distinctCanonical = true)).toDF()
        .groupBy("label").agg(count(lit(1)).as("cnt"))
    },
    // personalized PageRank: walk-with-restart into the vid%10==0 seed
    // set, 8 fixed supersteps, same rank_e7 quantization contract as
    // q_pagerank_top20 (see that query's comment)
    "q_ppr_top20" -> { (s, d) =>
      import s.implicits._
      // one materialized build feeds seed derivation AND the loop.
      // Ppr.run additionally persists this base internally — that is a
      // cache OVER the checkpoint scan (cheap re-read, not a rebuild of
      // the co-occurrence self-join), accepted as the per-query-
      // independence convention rather than threaded through Ppr's API.
      val edges = Superstep.cut(partEdgeDs(s, d).toDF()).as[Edge]
      val seeds = Superstep.vertices(edges).where(col("vid") % 10 === 0)
      Ppr.run(edges, seeds, PrConfig(tol = 0.0, maxIter = 8))
        .ranks.toDF()
        .select(
          col("vid"),
          round(col("rank") * 1e7, 0).cast("long").as("rank_e7"),
        )
        .orderBy(col("rank_e7").desc, col("vid"))
        .limit(20)
    },
    // k=3 core of the REPEAT-co-occurrence subgraph (edges with weight
    // >= 2, i.e. parts that co-occurred in at least two orders): the
    // full co-occurrence graph is min-degree ~49 and its 3-core is
    // trivially everything, while the weight>=2 subgraph peels for real
    // (sf0.01: 935 of 1880 vertices survive after 10 synchronous
    // rounds — measured, well inside the oracle's 32-round unroll)
    "q_kcore" -> { (s, d) =>
      val res = KCore.run(
        partEdgeDs(s, d).filter(col("weight") >= 2.0),
        k = 3, distinctCanonical = true)
      // `iterations` counts the last round too, which deactivates nobody
      // unless it empties the graph, so the guard holds one round slack
      withinUnroll("q_kcore", res.iterations, 32)
      res.core
    },
    // multi-source BFS hop distance from the vid%10==0 seed set over the
    // same weight>=2 subgraph (the full graph has diameter ~2; the
    // subgraph reaches hop 5-7 with genuinely unreachable vertices —
    // sf0.1: 1628 of 5922 reached, max hop 7, measured; the oracle
    // unrolls 16 relaxation rounds, 2x slack)
    "q_bfs_hops" -> { (s, d) =>
      import s.implicits._
      val edges = Superstep
        .cut(partEdgeDs(s, d).filter(col("weight") >= 2.0).toDF()).as[Edge]
      val seeds = Superstep.vertices(edges).where(col("vid") % 10 === 0)
      val res = Bfs.run(edges, seeds, distinctCanonical = true)
      // `iterations` = max hop + 1 (the last round reaches nothing), so
      // the guard holds one round slack
      withinUnroll("q_bfs_hops", res.iterations, 16)
      res.dists
    },
    // sampled stress centrality (Shimbel 1953) over the same weight>=2
    // subgraph, seeds vid%20==0, T=4 truncation: # shortest paths of
    // length <=4 from a seed through each interior vertex — betweenness'
    // integer-valued sibling; forward sigma + backward gamma sweeps are
    // both exact BIGINT (see Stress's Scaladoc), so no quantization
    "q_stress" -> { (s, d) =>
      import s.implicits._
      val edges = Superstep
        .cut(partEdgeDs(s, d).filter(col("weight") >= 2.0).toDF()).as[Edge]
      val seeds = Superstep.vertices(edges).where(col("vid") % 20 === 0)
      Stress.run(edges, seeds, rounds = 4, distinctCanonical = true).scores
    },
    // weighted shortest path (delta Bellman-Ford) from the same seed set
    // over the same weight>=2 subgraph: min total co-occurrence weight.
    // Engine fixpoint measured at 3/6/8 rounds at sf0.001/0.01/0.1
    // (maxDist 4/10/14) — the 16-round unrolled oracle carries 2x slack,
    // asserted below. Weights are integral counts, so distances are
    // exact integers in a double → cast BIGINT is lossless on both sides.
    "q_sssp_cost" -> { (s, d) =>
      import s.implicits._
      val edges = Superstep
        .cut(partEdgeDs(s, d).filter(col("weight") >= 2.0).toDF()).as[Edge]
      val seeds = Superstep.vertices(edges).where(col("vid") % 10 === 0)
      val res = Sssp.run(edges, seeds, distinctCanonical = true)
      // `iterations` counts the last round too, which improves nobody,
      // so the guard holds one round slack
      withinUnroll("q_sssp_cost", res.iterations, 16)
      res.dists.select(col("vid"), col("dist").cast("long").as("dist"))
    },
    // k-truss (k=3) of the repeat-co-occurrence subgraph: the maximal
    // subgraph where every edge closes >= 1 triangle WITHIN it —
    // synchronous peeling, fixpoint measured at 2 rounds on every sf
    // (oracle unrolls 8, stable past convergence like q_kcore);
    // sf0.01: 181 of 3445 edges survive
    "q_ktruss" -> { (s, d) =>
      val res =
        KTruss.run(partEdgeDs(s, d).filter(col("weight") >= 2.0), k = 3)
      // `iterations` also counts the trace's closing "fixpoint" row when
      // edges survive, so the guard then holds one round slack
      withinUnroll("q_ktruss", res.iterations, 8)
      res.edges
    },
    // HyperBall 4-round neighborhood sketches over the weight>=2
    // subgraph: per-vertex HLL registers (exact-match integers through
    // the pluggable hash) + the raw-estimator ball size, one double
    // division e7-quantized — approximate value, deterministic bits
    "q_hyperball" -> { (s, d) =>
      HyperBall.estimatesOf(hbChain(s, d)).estimates
    },
    // harmonic centrality over the same subgraph — HyperBall's headline
    // application (Σ_t Δball(t)/t per vertex): every per-round ball
    // estimate is the q_hyperball BIGINT, and the 1/t weights are
    // cleared by L = lcm(1..4) = 12 and telescoped to exact integer
    // coefficients (−12, 6, 2, 1, 3), so hc12_e7 is bit-exact
    "q_harmonic" -> { (s, d) =>
      HyperBall.harmonicOf(hbChain(s, d)).centralities
        .select(col("vid"), col("ball_e7"), col("hc_scaled").as("hc12_e7"))
    },
    // speculative graph coloring (Gebremedhin-Manne with deterministic
    // hash priorities) over the weight>=2 subgraph: hash-palette init,
    // then per round every vertex sharing its color with a higher-
    // priority neighbor recolors to the mex of its neighbors' colors.
    // Engine fixpoint measured at 5/3/2 rounds at sf0.001/0.01/0.1 —
    // the 8-round unrolled oracle carries slack
    // (a fixpoint is stable: conflict-free rounds are no-ops)
    "q_coloring" -> { (s, d) =>
      val res = Coloring.speculative(
        partEdgeDs(s, d).filter(col("weight") >= 2.0),
        palette = 256,
        hash = sketchHash,
        distinctCanonical = true,
      )
      // `rounds` ends with the first round that finds no conflict and
      // recolors nobody, so the guard holds one round slack
      withinUnroll("q_coloring", res.rounds, 8)
      res.colors
    },
    // neighborhood function N(t) + 90%-effective diameter from the same
    // HyperBall chain: N(t) = exact BIGINT sum of the per-vertex ball
    // estimates per round, reach90 = the exact integer test
    // N(t)·10 >= N(4)·9 — the ANF "how far apart is this graph" summary
    "q_neighborhood" -> { (s, d) =>
      HyperBall.neighborhoodOf(hbChain(s, d))
    },
    // closeness / Lin's-index ingredients from the same HyperBall chain:
    // the T-truncated sum of distances telescoped to exact integer
    // coefficients over the per-round ball estimates (4·e4 − e0 − e1 −
    // e2 − e3) — with q_harmonic this completes Boldi & Vigna 2013 §4's
    // geometric-centrality family; the float centralities (1/Σd, r²/Σd)
    // are caller-side divisions off this exact-integer surface
    "q_closeness" -> { (s, d) =>
      HyperBall.closenessOf(hbChain(s, d))
    },
    // deterministic random-walk corpus (DeepWalk input): 4 hash-indexed
    // steps per vid%20==0 seed over the weight>=2 subgraph; the pluggable
    // sketch hash makes every step replayable in the DuckDB oracle
    // (portable mode), exactly like the minhash/LSH pipelines
    "q_walks" -> { (s, d) =>
      import s.implicits._
      val edges = Superstep
        .cut(partEdgeDs(s, d).filter(col("weight") >= 2.0).toDF()).as[Edge]
      val seeds = Superstep.vertices(edges).where(col("vid") % 20 === 0)
      Walks.run(edges, seeds, steps = 4, maxNbrs = 64, hash = sketchHash)
    },
    // GraphSAGE-style fixed-fanout neighbor sampling (8 then 4) from the
    // vid%20==0 seeds over the weight>=2 subgraph: hash-ranked picks per
    // (seed, src) make the minibatch subgraph deterministic and the
    // DuckDB oracle replays both hops exactly in portable mode
    "q_neighbor_sample" -> { (s, d) =>
      import s.implicits._
      val edges = Superstep
        .cut(partEdgeDs(s, d).filter(col("weight") >= 2.0).toDF()).as[Edge]
      val seeds = Superstep.vertices(edges).where(col("vid") % 20 === 0)
      NeighborSample.run(
        edges, seeds, fanouts = Seq(8, 4), maxNbrs = 64, hash = sketchHash)
    },
    // maximal independent set (Luby, hash priorities) over the weight>=2
    // subgraph: exact-match deterministic through the pluggable hash —
    // the oracle replays every round's (priority, vid) competitions.
    // Engine fixpoint measured at 4/3/2 rounds at sf0.001/0.01/0.1 —
    // the 8-round unrolled oracle carries 2x slack
    // (a fixpoint is stable: once active is empty, rounds are no-ops)
    "q_mis" -> { (s, d) =>
      val res = Mis.run(
        partEdgeDs(s, d).filter(col("weight") >= 2.0),
        hash = sketchHash,
        distinctCanonical = true,
      )
      // `rounds` ends with the round that settles the last vertex, so
      // the guard is exact
      withinUnroll("q_mis", res.rounds, 8)
      res.mis
    },
    // eigenvector centrality: 8 L1-normalized power-iteration steps over
    // the symmetrized graph; same e7 quantization contract as the rank
    // queries (per-edge term is (1.0·y)/T == y/T bit-exactly — see
    // Eigen's Scaladoc for why the normalizer divides inside the scatter)
    "q_eigen_top20" -> { (s, d) =>
      Eigen.run(
        partEdgeDs(s, d),
        EcConfig(iterations = 8, distinctCanonical = true))
        .scores.toDF()
        .select(
          col("vid"),
          round(col("score") * 1e7, 0).cast("long").as("score_e7"),
        )
        .orderBy(col("score_e7").desc, col("vid"))
        .limit(20)
    },
    // Katz centrality, T=4 truncation, attenuation 1/8: walk counts are
    // exact BIGINTs and the 8^(T−t)-weighted sum accumulates in Horner
    // form, so the whole output is on the exact integer surface — no
    // quantization at all (see Katz's Scaladoc); the float centrality is
    // katz_scaled/8^T, a caller-side division
    "q_katz" -> { (s, d) =>
      Katz.run(partEdgeDs(s, d), rounds = 4, distinctCanonical = true).scores
    },
    // HITS hubs/authorities: 8 L1-normalized rounds over the DIRECTED
    // canonical (src < dst) edge orientation — hub and authority are
    // distinct roles only on a directed graph (symmetrized HITS collapses
    // into eigenvector centrality, covered by q_eigen_top20); same
    // divide-inside-the-scatter + e7 quantization contract as the rank
    // queries (see Hits' Scaladoc)
    "q_hits_top20" -> { (s, d) =>
      Hits.run(partEdgeDs(s, d), iterations = 8)
        .scores
        .select(
          col("vid"),
          round(col("hub") * 1e7, 0).cast("long").as("hub_e7"),
          round(col("auth") * 1e7, 0).cast("long").as("auth_e7"),
        )
        .orderBy(col("hub_e7").desc, col("auth_e7").desc, col("vid"))
        .limit(20)
    },
    // strongly-connected components of the hash-oriented co-occurrence
    // subgraph (both endpoints vid % 8 == 0): each canonical src<dst edge
    // is directed by the parity of the 64-bit sketch hash of "src,dst" —
    // deterministic, mirrored bit-identically in DuckDB under the
    // portable mode, and (unlike the canonical orientation itself, a DAG
    // by construction) it produces genuine cycles and a giant SCC plus
    // tendrils, the bow-tie shape SCC exists for. scc = min mutually-
    // reachable vid: a pure order-free property over exact integers, so
    // the oracle is DECLARATIVE (recursive-CTE mutual reachability) and
    // no round-count slack contract is needed (see Scc's Scaladoc)
    "q_scc" -> { (s, d) =>
      import s.implicits._
      val e8 = partEdgeDs(s, d)
        .where(col("src") % 8 === 0 && col("dst") % 8 === 0)
      val even = sketchHash.pair(col("src"), col("dst")) % 2 === 0
      val oriented = e8.select(
        when(even, col("src")).otherwise(col("dst")).as("src"),
        when(even, col("dst")).otherwise(col("src")).as("dst"),
        lit(1.0).as("weight"),
      ).as[Edge]
      Scc.run(oriented).comps
    },
    // condensation DAG over the SPARSER vid%16 induced slice (the %8
    // slice q_scc uses is dense enough to be one giant SCC — correct but
    // a thin condensation; at %16 the mean degree drops to ~2 per
    // direction and the bow-tie regime appears: giant SCC + tendrils +
    // small cycles): SCCs contracted to nodes, level = longest directed
    // path ending at each node (0 for sources — the topological layer
    // profile). Exact integers; the oracle unrolls 16 max-relaxation
    // rounds over the contracted edges (fixpoint measured at 1/3/5
    // rounds at sf0.001/0.01/0.1, i.e. DAG depth 0/2/4, with 80 SCC
    // nodes at sf0.1 — asserted loudly here so a deeper dataset fails
    // with a cause, not an opaque hash mismatch)
    "q_condensation" -> { (s, d) =>
      import s.implicits._
      val e8 = partEdgeDs(s, d)
        .where(col("src") % 16 === 0 && col("dst") % 16 === 0)
      val even = sketchHash.pair(col("src"), col("dst")) % 2 === 0
      val oriented = e8.select(
        when(even, col("src")).otherwise(col("dst")).as("src"),
        when(even, col("dst")).otherwise(col("src")).as("dst"),
        lit(1.0).as("weight"),
      ).as[Edge]
      val res = Scc.condense(oriented)
      // `rounds` = DAG depth + 1 (the last round raises no level)
      withinUnroll("q_condensation", res.rounds, 16)
      res.levels.select(col("scc"), col("level"), col("size"))
    },
    // link prediction: resource-allocation index over non-adjacent pairs
    // (1.0/deg is a correctly-rounded IEEE division both engines produce
    // bit-identically — the reason RA is used instead of Adamic-Adar's
    // unportable ln); maxDeg=64 exercises the hub cap for real (the
    // co-occurrence graph's hubs exceed it at every sf)
    "q_linkpred" -> { (s, d) =>
      LinkPred.resourceAllocation(
        partEdgeDs(s, d), maxDeg = 64, distinctCanonical = true)
        .select(
          col("src"), col("dst"), col("cn"),
          round(col("ra") * 1e7, 0).cast("long").as("ra_e7"),
        )
        .orderBy(col("ra_e7").desc, col("src"), col("dst"))
        .limit(50)
    },
    // modularity of the 3-iteration LP partition — the "how good are the
    // communities" score composed from two verified pieces (LP's labels
    // are hash-checked by q_labelprop_sizes; the metric's moments are
    // exact integers, one double expression at the end — see Modularity)
    "q_modularity" -> { (s, d) =>
      import s.implicits._
      // the co-occurrence build is materialized once and feeds both LP
      // and the metric (each would otherwise re-run it through lineage)
      val edges = Superstep.cut(partEdgeDs(s, d).toDF()).as[Edge]
      val labels = LabelProp
        .run(edges, LpConfig(iterations = 3, distinctCanonical = true)).toDF()
      Modularity.of(edges, labels)
    },
    // deterministic one-level Louvain (gain-argmax move rounds, parity-
    // gated, strict improvement, smallest-label ties — see Louvain's
    // Scaladoc): 4 FIXED synchronous rounds, mirrored round-for-round by
    // the unrolled oracle in exact HUGEINT/decimal(38,0) arithmetic, so
    // there is no fixpoint slack to freeze silently. Output is the
    // community-size histogram, same contract as q_labelprop_sizes.
    "q_louvain" -> { (s, d) =>
      import s.implicits._
      val edges = Superstep.cut(partEdgeDs(s, d).toDF()).as[Edge]
      Louvain.run(edges, rounds = 4, distinctCanonical = true)
        .groupBy("comm").agg(count(lit(1)).as("cnt"))
    },
    // composed analytics: global clustering coefficient = 3T / wedges
    // over the simple undirected graph — triangle machinery + the degree
    // aggregate in one row; cc quantized e7 like the rank queries
    "q_clustering" -> { (s, d) =>
      import s.implicits._
      // one materialized build feeds the triangle count AND the wedge
      // aggregate (previously two independent builds + re-scans)
      val e = Superstep.cut(partEdgeDs(s, d).toDF())
      val tri = Triangles.globalCount(e.as[Edge], distinctCanonical = true)
      e.select(col("src").as("vid"))
        .unionByName(e.select(col("dst").as("vid")))
        .groupBy("vid").agg(count(lit(1)).as("deg"))
        .agg(sum(col("deg") * (col("deg") - 1L)).as("w2"))
        .select(
          lit(tri).as("triangles"),
          (col("w2") / 2).cast("long").as("wedges"),
          when(
            col("w2") > 0,
            round(lit(6.0) * tri / col("w2") * 1e7, 0).cast("long"),
          ).as("cc_e7"),
        )
    },
    // composed analytics: per-vertex LOCAL clustering coefficient
    // (Watts & Strogatz 1998) — the per-vertex complement of
    // q_clustering's global transitivity: lcc(v) = 2·tri(v) /
    // (deg(v)·(deg(v)−1)) over the simple undirected graph. tri and deg
    // stay exact BIGINTs; the one division is e7-quantized with the
    // identical operand order on both engines (the q_clustering
    // contract). deg<=1 vertices have undefined lcc -> NULL
    "q_lcc" -> { (s, d) =>
      import s.implicits._
      val e = Superstep.cut(partEdgeDs(s, d).toDF())
      val tri = Triangles.run(e.as[Edge], distinctCanonical = true).perVertex
      val deg = e.select(col("src").as("vid"))
        .unionByName(e.select(col("dst").as("vid")))
        .groupBy("vid").agg(count(lit(1)).as("deg"))
      tri.join(deg, "vid")
        .select(
          col("vid"),
          col("triangles"),
          col("deg"),
          when(
            col("deg") > 1,
            round(
              lit(2.0) * col("triangles")
                / (col("deg") * (col("deg") - 1L)) * 1e7,
              0,
            ).cast("long"),
          ).as("lcc_e7"),
        )
    },
    // composed analytics: degree assortativity (Newman 2002) — Pearson
    // correlation of endpoint degrees over the symmetrized edge list.
    // Every moment is an exact BIGINT (degrees are integers; per-edge
    // products <= maxdeg^2 ~ 2.5e7, sums <= 2|E|*maxdeg^2 ~ 6e13); only
    // the 128-bit products m*sjk and sj^2 (~1e20) need decimal/HUGEINT,
    // cast to DOUBLE with the IDENTICAL operand order on both engines
    // before the one e7-quantized division.
    "q_assortativity" -> { (s, d) =>
      // materialized once: the degree table and the directed expansion
      // each scan the built edge list twice
      val e = Superstep.cut(partEdges(s, d))
      val deg = e.select(col("src").as("vid"))
        .unionByName(e.select(col("dst").as("vid")))
        .groupBy("vid").agg(count(lit(1)).as("deg"))
      val dir = e.select(col("src"), col("dst"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val dec = "decimal(38,0)"
      dir
        .join(deg.select(col("vid").as("src"), col("deg").as("jdeg")), "src")
        .join(deg.select(col("vid").as("dst"), col("deg").as("kdeg")), "dst")
        .agg(
          count(lit(1)).as("m"),
          sum(col("jdeg") * col("kdeg")).as("sjk"),
          sum(col("jdeg")).as("sj"),
          sum(col("jdeg") * col("jdeg")).as("sj2"),
        )
        .select(
          col("m"), col("sjk"), col("sj"), col("sj2"),
          when(
            col("m").cast(dec) * col("sj2") - col("sj").cast(dec) * col("sj") =!= 0,
            round(
              (col("m").cast(dec) * col("sjk") - col("sj").cast(dec) * col("sj"))
                .cast("double")
                / (col("m").cast(dec) * col("sj2") - col("sj").cast(dec) * col("sj"))
                  .cast("double")
                * 1e7,
              0,
            ).cast("long"),
          ).as("r_e7"),
        )
    },
    // ---- relational / SPARQL-algebra layer (P/J/G/W/O/U) ----
    "q1_agg" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"),
          count(lit(1)).as("cnt"),
        )
    },
    "q_market_join" -> { (s, d) =>
      t(s, d, "orders")
        .join(
          t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("orders_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"),
        )
    },
    "q_cust_no_orders" -> { (s, d) =>
      t(s, d, "customer")
        .join(
          t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"),
          "left_anti",
        )
        .select("c_custkey")
    },
    "q_cust_big_spenders" -> { (s, d) =>
      t(s, d, "customer")
        .join(
          t(s, d, "orders").where(col("o_totalprice") > 40000),
          col("c_custkey") === col("o_custkey"),
          "left_semi",
        )
        .select("c_custkey", "c_mktsegment")
    },
    "q_window_top_orders" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          row_number().over(w).cast("long").as("rnk"),
        )
        .where(col("rnk") <= 2)
    },
    "q_events_hourly" -> { (s, d) =>
      t(s, d, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"),
        )
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)"))
            .cast("double").as("sum_value"),
        )
    },
    "q_events_json" -> { (s, d) =>
      t(s, d, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
        )
    },
    // J10 as-of join: each event gets the user's most recent order at or
    // before the event timestamp (right side deduped per (custkey, date)
    // so the match is unique — both engines apply the same dedup)
    "q_asof_order" -> { (s, d) =>
      val o = Relational.latestPerKeyTs(
        t(s, d, "orders"), "o_custkey", "o_orderdate", "o_orderkey")
      Relational.asofJoin(
        t(s, d, "events").select("event_id", "user_id", "ts"),
        o.select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        "user_id", "ts",
        "o_custkey", "o_orderdate",
      ).select(
        col("event_id"),
        col("user_id"),
        col("o_orderkey"),
        col("o_totalprice"),
      )
    },
    // hot-key-safe as-of variant: window partitioned by (key, month
    // bucket) + carry-in pass — same semantics, so it shares q_asof_order's
    // DuckDB ASOF oracle; a viral user id splits across its months
    "q_asof_bucketed" -> { (s, d) =>
      val o = Relational.latestPerKeyTs(
        t(s, d, "orders"), "o_custkey", "o_orderdate", "o_orderkey")
      Relational.asofJoinBucketed(
        t(s, d, "events").select("event_id", "user_id", "ts"),
        o.select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        "user_id", "ts",
        "o_custkey", "o_orderdate",
        tsCol => date_trunc("month", tsCol),
      ).select(
        col("event_id"),
        col("user_id"),
        col("o_orderkey"),
        col("o_totalprice"),
      )
    },
    // G8 grouping sets: rollup over (priority, status) with subtotal and
    // grand-total rows (NULL-marked, like the SQL standard)
    "q_rollup_orders" -> { (s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"),
        )
    },
    // G8b cube: all 2^2 grouping sets over (priority, status) — the
    // full-lattice sibling of q_rollup_orders
    "q_cube_orders" -> { (s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"),
        )
    },
    // G9 exact quantiles: per-flag median + p90 quantity via Spark's
    // exact percentile (linear interpolation between order statistics —
    // the same definition as DuckDB's quantile_cont); integral inputs
    // quantized e6 after ONE interpolation expression per engine
    // exact per-group quantiles with the interpolation computed
    // EXPLICITLY and mirrored token-for-token in the oracle (round-4
    // ADVICE: relying on Spark `percentile` and DuckDB `quantile_cont`
    // producing bit-identical doubles from engine-INTERNAL interpolation
    // was the one cross-engine equality resting on unpinned arithmetic).
    // Both sides now evaluate: pos = p·(n−1); lo/hi = order statistics at
    // floor(pos)+1 / min(floor(pos)+2, n); val = lo + (pos−floor(pos))·
    // (hi−lo) — the same IEEE ops in the same order. Ties in x are safe:
    // row_number among equal values is arbitrary but picks equal x.
    // Scale note: per-group sort — the exact path; q_quantiles_approx is
    // the 100-TB path (mergeable sketch, no global per-group sort).
    "q_quantiles" -> { (s, d) =>
      val w = Window.partitionBy("flag").orderBy("x")
      val ranked = t(s, d, "lineitem")
        .select(
          col("l_returnflag").as("flag"),
          col("l_quantity").cast("double").as("x"),
        )
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("flag")))
      def lo(p: Double) = max(
        when(
          col("rn") === floor(lit(p) * (col("n") - 1)).cast("long") + 1L,
          col("x"),
        ))
      def hi(p: Double) = max(
        when(
          col("rn") === least(
            floor(lit(p) * (col("n") - 1)).cast("long") + 2L,
            col("n"),
          ),
          col("x"),
        ))
      def lerp(p: Double, l: Column, h: Column) = {
        val pos = lit(p) * (col("cnt") - 1)
        l + (pos - floor(pos)) * (h - l)
      }
      ranked
        .groupBy("flag")
        .agg(
          count(lit(1)).as("cnt"),
          lo(0.5).as("lo50"), hi(0.5).as("hi50"),
          lo(0.9).as("lo90"), hi(0.9).as("hi90"),
        )
        .select(
          col("flag"),
          round(lerp(0.5, col("lo50"), col("hi50")) * 1e6, 0)
            .cast("long").as("p50_e6"),
          round(lerp(0.9, col("lo90"), col("hi90")) * 1e6, 0)
            .cast("long").as("p90_e6"),
          col("cnt"),
        )
    },
    // approximate per-group quantiles — the 100-TB path: Spark's
    // approx_percentile (Greenwald-Khanna summaries, mergeable map-side
    // partials, NO per-group sort). NOT cross-engine bit-portable by
    // construction: Spark merges GK summaries, DuckDB's approx_quantile
    // is a t-digest — different sketches, different interpolations — so
    // this query carries no oracleSql (driver records rows>0) and its
    // accuracy contract lives in PipelineOpsSpec: |approx − exact| must
    // respect the GK rank-error bound at accuracy 10000 (rank error
    // ≤ n/10000, converted to a value bound via the exact order stats).
    "q_quantiles_approx" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50"),
          expr("approx_percentile(l_quantity, 0.9, 10000)").as("p90"),
          count(lit(1)).as("cnt"),
        )
    },
    // P5 pivot: status-wide quantity matrix per return flag — Spark's
    // relational PIVOT with an EXPLICIT value list (deterministic
    // columns, single scan, map-side partial per (flag, status));
    // decimal-exact sums, the q1_agg cast convention
    "q_pivot" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .select(
          col("flag"),
          coalesce(col("O"), lit(0.0)).as("qty_o"),
          coalesce(col("F"), lit(0.0)).as("qty_f"),
        )
    },
    // P6 unpivot (melt): the same per-flag totals back to long form —
    // Spark's Dataset.unpivot, a per-row codegen expansion (no shuffle
    // beyond the aggregate that feeds it)
    "q_unpivot" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(
          sum(when(col("l_linestatus") === "O",
            col("l_quantity").cast("decimal(18,2)")))
            .cast("double").as("qty_o"),
          sum(when(col("l_linestatus") === "F",
            col("l_quantity").cast("decimal(18,2)")))
            .cast("double").as("qty_f"),
        )
        .unpivot(
          Array(col("flag")),
          Array(col("qty_o"), col("qty_f")),
          "status",
          "qty",
        )
        .where(col("qty").isNotNull)
    },
    // ---- training-data layer: dedup / text / similarity ----
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")),
    "q_text_stats" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.distinctTokenCount(col("text")).cast("long")
          .as("n_distinct_tokens"),
        Text.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        Text.punctCount(col("text")).cast("long").as("n_punct"),
        col("n_chars"),
      )
    },
    "q_lang_guess" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        Text.stopwordCount(col("text"), Text.StopEn).cast("long")
          .as("en_cnt"),
        Text.stopwordCount(col("text"), Text.StopDe).cast("long")
          .as("de_cnt"),
        Text.langGuess(col("text")).as("guess"),
      )
    },
    "q_fingerprint" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
    },
    "q_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairsWithin(t(s, d, "documents"), "doc_id", "text",
        "source")),
    // deterministic stratified sample: 20 docs per source by smallest
    // (hash(id), id) — exact per-stratum quota, reproducible, no RNG
    "q_sample_stratified" -> ((s, d) =>
      operators.Corpus.stratifiedSample(
        t(s, d, "documents").select("doc_id", "source"),
        "source", "doc_id", n = 20, hash = sketchHash)),
    // per-doc top-3 TF-IDF terms (tf * ln(N/df), rounded, term tiebreak)
    "q_tfidf_top" -> ((s, d) =>
      operators.Corpus.tfidfTopTerms(
        spreadCut(t(s, d, "documents")), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("score"), col("rk"))),
    // substring-level dedup (ExactSubstr half of Lee et al. 2022):
    // maximal runs of 8-token windows whose fingerprint repeats anywhere
    // in the corpus → (doc_id, start token offset, token length)
    "q_substr_spans" -> ((s, d) =>
      Dedup.duplicateSpans(spread(t(s, d, "documents")), "doc_id", "text",
        k = 8, hash = sketchHash)
        .select(col("id").as("doc_id"), col("start"), col("len"))),
    // Gopher-family quality signals (the exact, cross-engine subset):
    // word count, mean word length, distinct-word fraction, top-bigram
    // share; keep flag applies thresholds to the ROUNDED metrics.
    // Thresholds straddle the corpus quantiles so both branches occur.
    "q_quality" -> ((s, d) =>
      operators.Corpus.qualitySignals(
        spreadCut(t(s, d, "documents")), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"),
          col("mean_word_len"), col("distinct_word_frac"),
          col("top_bigram_frac"), col("keep"))),
    // Gopher repetition filters (within-doc): the corpus is single-line,
    // so the query plants line repetition — every 4th doc duplicates its
    // own line, every 5th gains two identical filler lines (mirrored
    // verbatim in the oracle SQL) — and checks all four repetition
    // metrics plus the keep flag at Gopher's published thresholds
    "q_repetition" -> { (s, d) =>
      // spreadCut: three explode+aggregate branches consume the docs
      val aug = spreadCut(t(s, d, "documents")).select(
        col("doc_id"),
        concat(
          col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("\n"), col("text"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("\nRepeated filler line\nRepeated filler line"))
            .otherwise(lit("")),
        ).as("text2"),
      )
      operators.Corpus.repetitionSignals(aug, "doc_id", "text2")
        .select(col("id").as("doc_id"), col("n_lines"),
          col("dup_line_frac"), col("dup_line_char_frac"),
          col("top_3gram_frac"), col("top_4gram_frac"), col("keep_rep"))
    },
    // source-level reputation (the URL/domain-blocklist stage of C4 /
    // RefinedWeb pipelines, over the corpus's source column): the
    // doc-level quality gate aggregated per source; sources whose keep
    // rate is under the threshold are dropped wholesale. A pure
    // composition — qualitySignals → per-source aggregate — whose
    // result is a broadcastable dimension at any corpus scale (source/
    // domain cardinality ≪ doc cardinality)
    "q_source_rep" -> { (s, d) =>
      val docs = spreadCut(t(s, d, "documents"))
      val q = operators.Corpus.qualitySignals(docs, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"), col("keep"))
      docs.select(col("doc_id"), col("source"))
        .join(q, Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("keep").cast("double")), 6).as("keep_frac"),
          round(avg(col("n_words").cast("double")), 6).as("mean_words"),
        )
        .select(col("*"), (col("keep_frac") >= 0.25).as("keep_source"))
    },
    // exact n-gram decontamination: same parity train/eval split as
    // q_contamination; the corpus's exact-duplicate groups guarantee
    // cross-split verbatim overlap, so both flag branches occur
    "q_ngram_contam" -> { (s, d) =>
      val docs = spreadCut(t(s, d, "documents"))
      Dedup.ngramContamination(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", n = 8, hash = sketchHash)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hits"),
          col("hit_frac"), col("contaminated"))
    },
    // PII detection + redaction: the corpus has no organic PII, so the
    // query plants deterministic emails/IPs (pure column expressions,
    // mirrored verbatim in the oracle SQL) and checks match counts plus
    // the sha256 of the redacted text — every byte of the redaction
    // output is pinned without shipping the text itself
    "q_pii_redact" -> { (s, d) =>
      val aug = t(s, d, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" from 10.0."),
              pmod(col("doc_id"), lit(256)).cast("string"),
              lit(".25 logged"))).otherwise(lit("")),
        ).as("text2"),
      )
      aug.select(
        col("doc_id"),
        Text.piiCount(col("text2"), Text.EmailPattern).cast("long")
          .as("email_cnt"),
        Text.piiCount(col("text2"), Text.Ipv4Pattern).cast("long")
          .as("ip_cnt"),
        sha2(Text.redactPii(col("text2")), 256).as("red_sha"),
      )
    },
    // cross-doc boilerplate line removal (RefinedWeb-style): the corpus
    // is single-line, so the query plants line structure — a universal
    // license footer plus a 1-in-3 generated-by footer; the operator
    // must drop exactly those lines and keep every original line
    "q_line_dedup" -> { (s, d) =>
      val aug = t(s, d, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit("\nLicense: synthetic corpus boilerplate v1"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("\nFooter: generated by graft")).otherwise(lit("")),
        ).as("text2"),
      )
      Dedup.dropBoilerplateLines(aug, "doc_id", "text2", minDocs = 2,
        hash = sketchHash)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_dropped"),
          col("clean_sha"))
    },
    // deterministic 90/5/5 split: bucket = hash(doc_id) mod 100 — split
    // membership is a pure function of the id (stable under corpus
    // growth, no RNG state)
    "q_split_assign" -> ((s, d) =>
      operators.Corpus.splitAssign(
        t(s, d, "documents").select("doc_id"), "doc_id",
        hash = sketchHash)),
    // sequence-packing layout: 8 shards, start offset = exclusive
    // running token sum in (hash, id) order within the shard
    "q_pack_shards" -> ((s, d) =>
      operators.Corpus.packIntoShards(
        t(s, d, "documents").select("doc_id", "text"), "doc_id", "text",
        nShards = 8, hash = sketchHash)
        .select(col("id").as("doc_id"), col("shard"), col("start_tok"),
          col("n_tokens"))),
    // the composed production cleaning decision: a doc ships iff it
    // passes the quality gate AND survives near-dup clustering — the
    // two independent pipelines join on doc id (what a real cleaning
    // job runs as one plan)
    "q_clean_corpus" -> { (s, d) =>
      val docs = spreadCut(t(s, d, "documents"))
      val quality = operators.Corpus
        .qualitySignals(docs, "doc_id", "text")
        .select(col("id").as("doc_id"), col("keep"))
      val dedup = Dedup
        .nearDupClusters(docs, "doc_id", "text", threshold = 0.5,
          hash = sketchHash)
        .select(col("id").as("doc_id"), col("is_survivor"))
      quality
        .join(dedup, Seq("doc_id"))
        .select(
          col("doc_id"),
          (col("keep") && col("is_survivor")).as("ship"),
        )
    },
    // corpus-level heavy hitters: top-20 3-gram shingles by frequency
    // (the "most common boilerplate phrases" report a cleaning pipeline
    // reviews before writing removal rules) — partial map-side counts
    // then TakeOrderedAndProject, no full sort
    "q_top_ngrams" -> { (s, d) =>
      spread(t(s, d, "documents"))
        .select(explode(Text.shingles(col("text"), 3)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(20)
        .select(col("gram"), col("cnt"))
    },
    "q_ann_cosine" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
        emb,
        emb.where(col("vec_id") < 10),
        "vec_id",
        "embedding",
        k = 5,
      )
    },
    // the FakeDecoder is deterministic (dims from byte length, "pixels"
    // = utf8 bytes), so the whole media pipeline is DuckDB-expressible:
    // the histogram is serialized to a CSV string (the driver's pandas
    // row-compare cannot hash an array cell)
    "q_media_features" -> { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.fromText(t(s, d, "documents"), "doc_id", "text", "image")
      ).toDF()
        .select(
          col("media_id"),
          col("kind"),
          col("num_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          concat_ws(",", col("brightness_histogram")).as("hist"),
          col("frames_sampled").cast("long").as("frames_sampled"),
        )
    },
    // ---- sketch pipelines (minhash/simhash/LSH/IVF). Hash mode is
    //      sketchHash: xxhash64 (production, codegen-fast) by default;
    //      Verify — the driver's ORACLE dump — switches to
    //      Hash64.Portable (md5-derived 60-bit, computable bit-identically
    //      in DuckDB) so the driver hash-checks the FULL pipeline —
    //      banding, candidate joins, bucket routing, verify — against the
    //      SQL oracles below. Same operator code either way, only the
    //      hash expression swaps; the xxhash64 mode's semantics are
    //      covered by the scalatest recall/completeness oracles, and
    //      Bench times the production hash (md5 costs ~2x on
    //      q_minhash_pairs/q_lsh_ann, measured). ----
    // threshold 0.5 (the operator default): lshParams gives r=3/b=10
    // banding — honest recall at the threshold AND a random-pair
    // candidate rate of ~10·j³, which keeps the candidate join linear-ish.
    // (Round 1 ran threshold=0.3 with banding that silently missed ~94%
    // of threshold-grazing pairs; with CORRECT banding for 0.3 the
    // candidate rate is ~16·j² and the verify join dominates the bench —
    // pick the threshold for the recall you need, the contract holds
    // either way.)
    "q_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(spread(t(s, d, "documents")), "doc_id", "text",
        threshold = 0.5, hash = sketchHash)),
    // pairs → WCC components → min-id survivor: the production dedup
    // output (one row per doc with its cluster + keep/drop decision)
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(spread(t(s, d, "documents")), "doc_id", "text",
        threshold = 0.5, hash = sketchHash)),
    // benchmark decontamination: near-dup pairs ACROSS a train/eval
    // split (eval = doc_id % 5 == 0; 14 of the corpus's 25 near-dup
    // pairs cross that split) — eval-leakage hygiene riding the verified
    // minhash pipeline through a parity id remap
    "q_contamination" -> { (s, d) =>
      val docs = spreadCut(t(s, d, "documents"))
      Dedup.crossCorpusContamination(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", threshold = 0.5, hash = sketchHash)
    },
    // DSIR-style importance weights: raw = doc_id % 7 != 0 scored
    // against target = doc_id % 7 == 0 over 4096 hashed unigram+bigram
    // buckets; per-bucket log-ratio quantized to e6 (ONE double
    // expression, the tfidf ln convention), per-doc score an exact
    // BIGINT dot product — the "select web data that looks like the
    // target corpus" stage, reproducible end to end
    "q_importance" -> { (s, d) =>
      val docs = spreadCut(t(s, d, "documents"))
      Corpus.importanceWeights(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", buckets = 4096, hash = sketchHash)
    },
    // CCNet-style bigram-LM perplexity filter: add-one-smoothed hashed
    // bigram model trained on target = doc_id % 4 == 0, scoring
    // raw = the rest; per-pair −ln P quantized e6 (ONE double
    // expression), per-doc nll an exact BIGINT dot product, and the
    // keep cut an exact BIGINT comparison (avg NLL ≤ 4.92 nats — the
    // corpus median, so the cut is exercised both ways)
    "q_perplexity" -> { (s, d) =>
      val docs = spreadCut(t(s, d, "documents"))
      Corpus.bigramLmScore(
        docs.where(pmod(col("doc_id"), lit(4)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(4)) === 0),
        "doc_id", "text", buckets = 1024,
        thresholdNllE6 = 4920000L, hash = sketchHash)
    },
    "q_simhash" -> ((s, d) =>
      Dedup.simhashSignatures(t(s, d, "documents"), "doc_id", "text",
        sketchHash)
        .select(col("id").as("doc_id"), col("sim").as("simhash"))),
    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(spread(t(s, d, "documents")), "doc_id", "text",
        maxHamming = 3, chunks = 4, hash = sketchHash)),
    "q_lsh_ann" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(
        emb,
        emb.where(col("vec_id") < 10),
        "vec_id",
        "embedding",
        k = 5,
        bandBits = 4,
        hash = sketchHash,
      )
    },
    "q_ivf_ann" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(
        emb,
        emb.where(col("vec_id") < 10),
        "vec_id",
        "embedding",
        k = 5,
        nlist = 16,
        nprobe = 4,
        hash = sketchHash,
      )
    },
    // IVF with the oversized-list cap BINDING (maxList=16 vs lists of
    // ~30-125 at every sf): lists keep their 16 smallest ids, overflow
    // members are not scan candidates — the deterministic bound that
    // keeps a degenerate single-mode corpus from melting one centroid
    // key at 100 TB (the jaccard/cosine maxBucket policy applied to
    // inverted lists). Oracle mirrors the cap with a per-cent
    // row_number.
    "q_ivf_capped" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(
        emb,
        emb.where(col("vec_id") < 10),
        "vec_id",
        "embedding",
        k = 5,
        nlist = 16,
        nprobe = 4,
        hash = sketchHash,
        maxList = 16,
      )
    },
    // multi-band SRP cosine near-dup pairs (4 bands x 4 bits, per-bucket
    // cap, exact rounded-cosine verify at threshold 0.4 — this corpus's
    // max pairwise cosine is ~0.51, so a "near-dup" threshold returns
    // nothing to check; 0.4 exercises the full pipeline with 32 rows)
    "q_cosine_dups" -> { (s, d) =>
      Similarity.cosineNearDupCandidates(
        spread(t(s, d, "embeddings")),
        "vec_id",
        "embedding",
        threshold = 0.4,
        bandBits = 4,
        numBands = 4,
        hash = sketchHash,
      )
    },
    // embedding-level dup clusters: the q_cosine_dups pair pipeline →
    // the shared WCC clustering core → min-id survivor (the semantic-
    // dedup dual of q_dedup_clusters; same output contract)
    "q_cosine_clusters" -> ((s, d) =>
      Similarity.cosineDupClusters(
        spread(t(s, d, "embeddings")), "vec_id", "embedding",
        threshold = 0.4, bandBits = 4, numBands = 4,
        hash = sketchHash)),
    // one deterministic Lloyd refinement on top of the hash-sampled
    // centroids (list-balance hedge): integer-quantized elementwise means,
    // so the refined centroids are bit-identical cross-engine
    "q_ivf_refined" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(
        emb,
        emb.where(col("vec_id") < 10),
        "vec_id",
        "embedding",
        k = 5,
        nlist = 16,
        nprobe = 4,
        hash = sketchHash,
        refineIters = 1,
      )
    },
    // margin-ranked multi-probe: each query also probes the buckets at
    // its 2 nearest-margin bit flips (recall recovers toward brute force;
    // corpus is still bucketed once — the multiplier rides the query side)
    "q_lsh_ann_mp" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(
        emb,
        emb.where(col("vec_id") < 10),
        "vec_id",
        "embedding",
        k = 5,
        bandBits = 4,
        hash = sketchHash,
        numProbes = 2,
      )
    },
  )

  /** Hash powering the sketch queries above: xxhash64 unless the
    * `graft.sketch.hash=portable` system property is set (done by
    * [[Verify]], whose output feeds the driver's DuckDB compare — the 5
    * sketch oracleSql entries mirror the PORTABLE hash and only match
    * that mode).
    */
  def sketchHash: Hash64 =
    if (sys.props.get("graft.sketch.hash").contains("portable"))
      Hash64.Portable
    else Hash64.Xx

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = {
    // DuckDB mirror of Hash64.Portable (kept in Hash64.duckdb so the two
    // forms can only drift together)
    def ph(e: String): String = Hash64.duckdb(e)
    // MATERIALIZED: DuckDB inlines plain CTEs per reference; the unrolled
    // iterative oracles below reference each CTE 2-3x per iteration,
    // which goes exponential over 8 chained iterations without it
    val edgesCte =
      """m AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS vid FROM lineitem),
        |e AS MATERIALIZED (SELECT a.vid AS src, b.vid AS dst, count(*) AS weight
        |      FROM m a JOIN m b ON a.grp = b.grp AND a.vid < b.vid
        |      GROUP BY 1, 2)""".stripMargin
    // one synchronous weighted LP superstep: per-vertex argmax of summed
    // neighbor-label weights, ties to the smallest label, vertices with
    // no messages keep their label — mirrors LabelProp.run exactly
    def lpIter(prev: String): String =
      s"""MATERIALIZED (
         |  SELECT v.vid, coalesce(w.newlabel, v.label) AS label
         |  FROM $prev v LEFT JOIN (
         |    SELECT vid, newlabel FROM (
         |      SELECT n.dst AS vid, s.label AS newlabel, sum(n.weight) AS cnt,
         |             row_number() OVER (PARTITION BY n.dst
         |               ORDER BY sum(n.weight) DESC, s.label) AS rn
         |      FROM sym n JOIN $prev s ON n.src = s.vid
         |      GROUP BY n.dst, s.label
         |    ) WHERE rn = 1
         |  ) w ON v.vid = w.vid
         |)""".stripMargin
    // one PageRank superstep: out-normalized uniform scatter + dangling
    // mass redistribution + teleport — mirrors PageRank.run exactly
    def prIter(prev: String): String =
      s"""MATERIALIZED (
         |  SELECT v.vid, v.outdeg,
         |    (1-0.85)/(SELECT n FROM nn) + 0.85 * (coalesce(msg.m, 0)
         |      + (SELECT coalesce(sum(rank),0) FROM $prev WHERE outdeg IS NULL)
         |        /(SELECT n FROM nn)) AS rank
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS vid, sum(r.rank / r.outdeg) AS m
         |    FROM e JOIN $prev r ON e.src = r.vid GROUP BY 1
         |  ) msg ON v.vid = msg.vid
         |)""".stripMargin
    val prChain = (1 to 8)
      .map(i => s"r$i AS ${prIter(s"r${i - 1}")}")
      .mkString(",\n")
    // 3 unrolled LP supersteps — shared by q_labelprop_sizes (the label
    // histogram) and q_modularity (the partition-quality metric)
    val lpChain3 =
      s"""sym AS MATERIALIZED (SELECT src, dst, weight FROM e
         |        UNION ALL SELECT dst AS src, src AS dst, weight FROM e),
         |verts AS (SELECT DISTINCT src AS vid FROM sym),
         |s0 AS MATERIALIZED (SELECT vid, vid AS label FROM verts),
         |s1 AS ${lpIter("s0")},
         |s2 AS ${lpIter("s1")},
         |s3 AS ${lpIter("s2")}""".stripMargin
    val degreesSql =
      s"""WITH $edgesCte,
         |u AS (SELECT src AS vid, weight FROM e
         |      UNION ALL SELECT dst, weight FROM e)
         |SELECT vid, count(*) AS degree,
         |       CAST(sum(weight) AS BIGINT) AS wdegree
         |FROM u GROUP BY 1""".stripMargin
    // HyperBall register chain over the weight>=2 subgraph — relational
    // HLL: init from the portable hash (idx = low 4 bits, rho = 1 +
    // trailing zeros of the rest, the SAME integer-mask chain the engine
    // evaluates), then 4 unrolled max-merge rounds r1..r4. Shared by
    // q_hyperball (final-round estimates) and q_harmonic (per-round
    // estimates telescoped into harmonic centrality).
    val hyperballChainCtes: String = {
      val mask = (1L << 60) - 1
      val rhoCase = {
        val whens = (1 to 56)
          .map(r => s"WHEN (q & ${(1L << r) - 1}) = ${1L << (r - 1)} THEN $r")
          .mkString(" ")
        s"CASE WHEN q = 0 THEN 57 $whens ELSE 57 END"
      }
      def hbIter(prev: String, i: Int): String =
        s"""r$i AS MATERIALIZED (
           |  SELECT vid, idx, max(val) AS val FROM (
           |    SELECT s.dst AS vid, r.idx, r.val
           |    FROM sym s JOIN $prev r ON s.src = r.vid
           |    UNION ALL SELECT vid, idx, val FROM $prev
           |  ) GROUP BY 1, 2)""".stripMargin
      val chain = (1 to 4).map(i => hbIter(s"r${i - 1}", i)).mkString(",\n")
      s"""$edgesCte,
         |e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
         |sym AS MATERIALIZED (SELECT src, dst FROM e2
         |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
         |verts AS (SELECT DISTINCT src AS vid FROM sym),
         |h0 AS (SELECT vid,
         |  (${ph("CAST(vid AS VARCHAR)")}) & $mask AS h FROM verts),
         |q0 AS (SELECT vid, CAST((h & 15) AS INT) AS idx,
         |  (h >> 4) AS q FROM h0),
         |r0 AS MATERIALIZED (SELECT vid, idx, $rhoCase AS val FROM q0),
         |$chain""".stripMargin
    }
    Map(
      "q_edges" ->
        s"WITH $edgesCte SELECT src, dst, weight FROM e",
      "q_degrees" -> degreesSql,
      "q_top_hubs" ->
        s"""SELECT * FROM ($degreesSql)
           |ORDER BY wdegree DESC, degree DESC, vid LIMIT 20""".stripMargin,
      "q_tri_global" ->
        s"""WITH $edgesCte
           |SELECT count(*) AS triangles
           |FROM e e1 JOIN e e2 ON e1.dst = e2.src
           |JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin,
      // unrolled pointer-jumping WCC (replaces the recursive-CTE form,
      // whose UNION state goes quadratic on near-connected graphs —
      // >100 CPU-min at sf0.1 vs ~8 s for this): each round takes the
      // neighbor-min of comps then doubles pointers (comp := comp(comp)),
      // reaching 2^k hops after k rounds; 16 rounds converge for any
      // diameter up to ~2^16 (validated against union-find on the sf
      // corpora AND a 50k-vertex path)
      "q_wcc_sizes" -> {
        val wccChain = (1 to 16).map { k =>
          val prev = s"d${k - 1}"
          s"""n$k AS MATERIALIZED (
             |  SELECT v.vid, least(v.comp, coalesce(min(c.comp), v.comp)) AS comp
             |  FROM $prev v LEFT JOIN sym s ON s.src = v.vid
             |  LEFT JOIN $prev c ON c.vid = s.dst
             |  GROUP BY v.vid, v.comp),
             |d$k AS MATERIALIZED (
             |  SELECT a.vid, b.comp AS comp FROM n$k a JOIN n$k b ON a.comp = b.vid)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgesCte,
           |sym AS MATERIALIZED (SELECT src, dst FROM e
           |        UNION ALL SELECT dst AS src, src AS dst FROM e),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |d0 AS MATERIALIZED (SELECT vid, vid AS comp FROM verts),
           |$wccChain
           |SELECT comp, count(*) AS cnt FROM d16 GROUP BY 1""".stripMargin
      },
      "q_labelprop_sizes" ->
        s"""WITH $edgesCte,
           |$lpChain3
           |SELECT label, count(*) AS cnt FROM s3 GROUP BY 1""".stripMargin,
      // modularity of the same 3-round LP partition: every moment is an
      // exact integer (m, within-edges A, per-community degree sums D_c);
      // D_c² goes through HUGEINT (decimal(38,0) on the Spark side) and
      // B = ΣD_c² ≤ (2m)² is EXACT in a double at every test scale, so
      // the single double expression A/m - B/(4·m·m) is the identical
      // correctly-rounded IEEE evaluation on both engines before the one
      // e7 quantization
      "q_modularity" ->
        s"""WITH $edgesCte,
           |$lpChain3,
           |mm AS (SELECT count(*) AS m FROM e),
           |aw AS (SELECT CAST(sum(CASE WHEN sa.label = sb.label THEN 1 ELSE 0 END) AS BIGINT) AS a_within
           |       FROM e JOIN s3 sa ON e.src = sa.vid
           |       JOIN s3 sb ON e.dst = sb.vid),
           |deg AS (SELECT vid, count(*) AS deg FROM (
           |        SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)
           |        GROUP BY 1),
           |bb AS (SELECT sum(CAST(dc AS HUGEINT) * dc) AS bsum FROM (
           |        SELECT s.label, sum(d.deg) AS dc
           |        FROM deg d JOIN s3 s ON d.vid = s.vid GROUP BY 1))
           |SELECT m, a_within, CAST(bsum AS BIGINT) AS b,
           |  CASE WHEN m > 0 THEN
           |    CAST(round((CAST(a_within AS DOUBLE) / m
           |      - CAST(bsum AS DOUBLE) / (4.0 * m * m)) * 1e7) AS BIGINT)
           |  END AS q_e7
           |FROM mm, aw, bb""".stripMargin,
      // deterministic one-level Louvain — 4 unrolled gain-argmax move
      // rounds mirroring Louvain.moveRound EXACTLY: candidate gains
      // gain2m = 2m·k(v,c) − deg(v)·(Σtot(c) − [c=own]·deg(v)) in
      // HUGEINT (decimal(38,0) on the Spark side — exact integers, no
      // float ordering), own community always a candidate via a k=0 row,
      // strict > vs the stay gain, smallest-nc tie-break, parity gate
      // ((vid%2)+2)%2 = r%2. Fixed 4 rounds on BOTH sides — no fixpoint
      // slack (the q_mis unroll hazard is structurally absent).
      "q_louvain" -> {
        def lvIter(prev: String, r: Int): String =
          s"""ct$r AS MATERIALIZED (
             |  SELECT s.comm AS nc, CAST(sum(d.deg) AS HUGEINT) AS tot,
             |         count(*) AS csz
             |  FROM $prev s JOIN ldeg d ON d.vid = s.vid GROUP BY 1),
             |k$r AS MATERIALIZED (
             |  SELECT vid, nc, max(k) AS k FROM (
             |    SELECT n.dst AS vid, s.comm AS nc, CAST(count(*) AS HUGEINT) AS k
             |    FROM lsym n JOIN $prev s ON n.src = s.vid GROUP BY 1, 2
             |    UNION ALL
             |    SELECT vid, comm AS nc, CAST(0 AS HUGEINT) AS k FROM $prev
             |  ) GROUP BY 1, 2),
             |cand$r AS MATERIALIZED (
             |  SELECT kk.vid, kk.nc, s.comm, ct.csz,
             |    lm.m2 * kk.k - CAST(d.deg AS HUGEINT)
             |      * (ct.tot - CASE WHEN kk.nc = s.comm THEN d.deg ELSE 0 END) AS gain
             |  FROM k$r kk
             |  JOIN $prev s ON s.vid = kk.vid
             |  JOIN ldeg d ON d.vid = kk.vid
             |  JOIN ct$r ct ON ct.nc = kk.nc, lm),
             |stay$r AS MATERIALIZED (
             |  SELECT vid, gain AS stay, csz AS ownsz FROM cand$r WHERE nc = comm),
             |l$r AS MATERIALIZED (
             |  SELECT s.vid,
             |    CASE WHEN ((s.vid % 2) + 2) % 2 = ${r % 2} AND b.gain > st.stay
             |         THEN b.nc ELSE s.comm END AS comm
             |  FROM $prev s
             |  JOIN stay$r st ON st.vid = s.vid
             |  JOIN (SELECT vid, nc, gain FROM (
             |          SELECT c.vid, c.nc, c.gain, row_number() OVER (
             |            PARTITION BY c.vid ORDER BY c.gain DESC, c.nc ASC) AS rn
             |          FROM cand$r c JOIN stay$r s2 ON s2.vid = c.vid
             |          WHERE c.nc = c.comm OR NOT (c.csz = 1 AND s2.ownsz = 1
             |            AND c.nc > c.comm)) WHERE rn = 1) b ON b.vid = s.vid)""".stripMargin
        val chain = (1 to 4).map(i => lvIter(s"l${i - 1}", i)).mkString(",\n")
        s"""WITH $edgesCte,
           |lsym AS MATERIALIZED (SELECT src, dst FROM e
           |        UNION ALL SELECT dst AS src, src AS dst FROM e),
           |lverts AS (SELECT DISTINCT src AS vid FROM lsym),
           |ldeg AS MATERIALIZED (
           |  SELECT src AS vid, count(*) AS deg FROM lsym GROUP BY 1),
           |lm AS (SELECT CAST(2 * count(*) AS HUGEINT) AS m2 FROM e),
           |l0 AS MATERIALIZED (SELECT vid, vid AS comm FROM lverts),
           |$chain
           |SELECT comm, count(*) AS cnt FROM l4 GROUP BY 1""".stripMargin
      },
      // HyperBall — relational HLL registers: init from the portable
      // hash (idx = low 4 bits, rho = 1 + trailing zeros of the rest,
      // the SAME integer-mask chain the engine evaluates), 4 unrolled
      // max-merge rounds, estimator in exact scaled-integer arithmetic
      // up to one double division (see HyperBall's Scaladoc)
      "q_hyperball" ->
        s"""WITH $hyperballChainCtes,
           |agg AS (SELECT vid, count(*) AS present,
           |  CAST(sum((CAST(1 AS BIGINT) << (58 - val))) AS BIGINT) AS sp
           |  FROM r4 GROUP BY vid)
           |SELECT vid, present,
           |  sp + (16 - present) * (CAST(1 AS BIGINT) << 58) AS s_scaled,
           |  CAST(round(0.673 * 73786976294838206464.0
           |    / CAST(sp + (16 - present) * (CAST(1 AS BIGINT) << 58) AS DOUBLE)
           |    * 1e7) AS BIGINT) AS est_e7
           |FROM agg""".stripMargin,
      // harmonic centrality — the same register chain, one ball estimate
      // per round r0..r4, then the telescoped integer combination
      // −12·e0 + 6·e1 + 2·e2 + 1·e3 + 3·e4 (L = lcm(1..4) = 12); every
      // est is the q_hyperball BIGINT, so the sum is exact cross-engine
      "q_harmonic" -> {
        def estCte(t: Int): String =
          s"""est$t AS (SELECT vid,
             |  CAST(round(0.673 * 73786976294838206464.0
             |    / CAST(sp + (16 - present) * (CAST(1 AS BIGINT) << 58) AS DOUBLE)
             |    * 1e7) AS BIGINT) AS est
             |  FROM (SELECT vid, count(*) AS present,
             |    CAST(sum((CAST(1 AS BIGINT) << (58 - val))) AS BIGINT) AS sp
             |    FROM r$t GROUP BY vid))""".stripMargin
        val ests = (0 to 4).map(estCte).mkString(",\n")
        s"""WITH $hyperballChainCtes,
           |$ests
           |SELECT e0.vid, e4.est AS ball_e7,
           |  (-12)*e0.est + 6*e1.est + 2*e2.est + 1*e3.est + 3*e4.est
           |    AS hc12_e7
           |FROM est0 e0 JOIN est1 e1 ON e0.vid = e1.vid
           |JOIN est2 e2 ON e0.vid = e2.vid
           |JOIN est3 e3 ON e0.vid = e3.vid
           |JOIN est4 e4 ON e0.vid = e4.vid""".stripMargin
      },
      // closeness ingredients — the same register chain, the telescoped
      // sum-of-distances 4·e4 − e0 − e1 − e2 − e3 (c_T = T, c_t = −1);
      // every est is the q_hyperball BIGINT, so sumdist_e7 is exact
      "q_closeness" -> {
        def estCte(t: Int): String =
          s"""est$t AS (SELECT vid,
             |  CAST(round(0.673 * 73786976294838206464.0
             |    / CAST(sp + (16 - present) * (CAST(1 AS BIGINT) << 58) AS DOUBLE)
             |    * 1e7) AS BIGINT) AS est
             |  FROM (SELECT vid, count(*) AS present,
             |    CAST(sum((CAST(1 AS BIGINT) << (58 - val))) AS BIGINT) AS sp
             |    FROM r$t GROUP BY vid))""".stripMargin
        val ests = (0 to 4).map(estCte).mkString(",\n")
        s"""WITH $hyperballChainCtes,
           |$ests
           |SELECT e0.vid, e4.est AS ball_e7,
           |  4*e4.est - e0.est - e1.est - e2.est - e3.est AS sumdist_e7
           |FROM est0 e0 JOIN est1 e1 ON e0.vid = e1.vid
           |JOIN est2 e2 ON e0.vid = e2.vid
           |JOIN est3 e3 ON e0.vid = e3.vid
           |JOIN est4 e4 ON e0.vid = e4.vid""".stripMargin
      },
      // neighborhood function — the same register chain, one BIGINT
      // estimate sum per round r0..r4, then the exact integer 90% test
      // against the final round (mirrors HyperBall.neighborhoodFunction)
      "q_neighborhood" -> {
        def nfCte(t: Int): String =
          s"""nf$t AS (SELECT $t AS t, CAST(sum(
             |  CAST(round(0.673 * 73786976294838206464.0
             |    / CAST(sp + (16 - present) * (CAST(1 AS BIGINT) << 58) AS DOUBLE)
             |    * 1e7) AS BIGINT)) AS BIGINT) AS nf_e7
             |  FROM (SELECT vid, count(*) AS present,
             |    CAST(sum((CAST(1 AS BIGINT) << (58 - val))) AS BIGINT) AS sp
             |    FROM r$t GROUP BY vid))""".stripMargin
        val nfs = (0 to 4).map(nfCte).mkString(",\n")
        val unions = (0 to 4)
          .map(t => s"SELECT t, nf_e7 FROM nf$t")
          .mkString("\nUNION ALL ")
        s"""WITH $hyperballChainCtes,
           |$nfs,
           |nf AS ($unions),
           |last AS (SELECT nf_e7 AS nf_last FROM nf WHERE t = 4)
           |SELECT t, nf_e7, nf_e7 * 10 >= nf_last * 9 AS reach90
           |FROM nf, last""".stripMargin
      },
      // deterministic random walks — each unrolled step picks
      // nbrs[(portableHash("wid,t,cur") % len) + 1] from the per-vertex
      // sorted, 64-capped neighbor list (the cap is part of the
      // operator's semantics; the rank filter mirrors Walks.maxNbrs)
      "q_walks" -> {
        def wIter(prev: String, t: Int): String =
          s"""w$t AS MATERIALIZED (
             |  SELECT w.wid, list_extract(n.nbrs,
             |    ((${ph(s"w.wid || ',' || $t || ',' || w.cur")})
             |      % len(n.nbrs)) + 1) AS cur
             |  FROM $prev w JOIN nbr n ON w.cur = n.src)""".stripMargin
        val chain = (1 to 4).map(t => wIter(s"w${t - 1}", t)).mkString(",\n")
        val unions = (1 to 4)
          .map(t => s"UNION ALL SELECT wid, $t, cur FROM w$t")
          .mkString("\n")
        s"""WITH $edgesCte,
           |e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |nbr AS MATERIALIZED (
           |  SELECT src, list(dst ORDER BY dst) AS nbrs FROM (
           |    SELECT src, dst,
           |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
           |    FROM sym) t WHERE rn <= 64 GROUP BY src),
           |w0 AS MATERIALIZED (
           |  SELECT src AS wid, src AS cur FROM nbr WHERE src % 20 = 0),
           |$chain
           |SELECT wid, CAST(0 AS INT) AS step, wid AS vid FROM w0
           |$unions""".stripMargin
      },
      // GraphSAGE neighbor sampling — both hops replayed: rank each
      // frontier vertex's capped neighbors by portableHash of
      // "hop,seed,src,dst" and keep the 8 (hop 1) / 4 (hop 2) smallest;
      // the hop-2 frontier is the DISTINCT sampled (seed, dst) set,
      // exactly as NeighborSample.run folds it
      "q_neighbor_sample" -> {
        def hop(t: Int, prev: String, f: Int): String =
          s"""s$t AS MATERIALIZED (
             |  SELECT seed, CAST($t AS INT) AS hop, src, dst FROM (
             |    SELECT f.seed, n.src, n.dst,
             |      row_number() OVER (PARTITION BY f.seed, n.src
             |        ORDER BY (${ph(
                      s"'$t,' || f.seed || ',' || n.src || ',' || n.dst")}),
             |        n.dst) AS rn
             |    FROM $prev f JOIN nb n ON f.cur = n.src) t
             |  WHERE rn <= $f)""".stripMargin
        s"""WITH $edgesCte,
           |e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |nb AS MATERIALIZED (
           |  SELECT src, dst FROM (
           |    SELECT src, dst,
           |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
           |    FROM sym) t WHERE rn <= 64),
           |f0 AS (SELECT DISTINCT src AS seed, src AS cur
           |       FROM nb WHERE src % 20 = 0),
           |${hop(1, "f0", 8)},
           |f1 AS (SELECT DISTINCT seed, dst AS cur FROM s1),
           |${hop(2, "f1", 4)}
           |SELECT * FROM s1 UNION ALL SELECT * FROM s2""".stripMargin
      },
      // Luby MIS — 8 unrolled rounds over the weight>=2 subgraph: per
      // round every active vertex draws priority = portableHash("r,vid")
      // and wins iff no active neighbor holds a smaller (priority, vid);
      // winners + their neighbors deactivate. Mirrors Mis.run round for
      // round (measured fixpoint 3-4 rounds, 2x slack; a fixpoint is
      // stable — empty actives make later rounds no-ops)
      // speculative coloring — 8 unrolled synchronous rounds (engine
      // fixpoint 5/3/2 at the three sfs; conflict-free rounds are
      // no-ops): hash-palette init, recolor-if-outranked-same-color,
      // mex over distinct current neighbor colors, the SAME ascending
      // candidate scan the engine's sequence+filter evaluates
      "q_coloring" -> {
        val mask = (1L << 60) - 1
        def colIter(r: Int): String = {
          val prev = s"cs${r - 1}"
          s"""un$r AS (SELECT s.src AS vid,
             |    list_distinct(list(n.color)) AS cols
             |  FROM sym s JOIN $prev n ON s.dst = n.vid GROUP BY 1),
             |cs$r AS MATERIALIZED (
             |  SELECT v.vid, v.h,
             |    CASE WHEN EXISTS (
             |        SELECT 1 FROM sym s JOIN $prev u ON s.dst = u.vid
             |        WHERE s.src = v.vid AND u.color = v.color
             |          AND (u.h > v.h OR (u.h = v.h AND u.vid > v.vid)))
             |      THEN coalesce(list_filter(
             |        generate_series(0, len(uc.cols)),
             |        k -> NOT list_contains(uc.cols, k))[1], 0)
             |      ELSE v.color END AS color
             |  FROM $prev v LEFT JOIN un$r uc ON uc.vid = v.vid)""".stripMargin
        }
        val chain = (1 to 8).map(colIter).mkString(",\n")
        s"""WITH $edgesCte,
           |e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS MATERIALIZED (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |v0 AS (SELECT DISTINCT src AS vid FROM sym),
           |h0 AS (SELECT vid,
           |  (${ph("CAST(vid AS VARCHAR)")}) & $mask AS h FROM v0),
           |cs0 AS MATERIALIZED (SELECT vid, h, h % 256 AS color FROM h0),
           |$chain
           |SELECT vid, color FROM cs8""".stripMargin
      },
      "q_mis" -> {
        val mask = (1L << 60) - 1
        def misIter(r: Int): String = {
          val prev = s"a${r - 1}"
          s"""h$r AS MATERIALIZED (SELECT vid,
             |  (${ph(s"'$r,' || CAST(vid AS VARCHAR)")}) & $mask AS h
             |  FROM $prev),
             |w$r AS MATERIALIZED (
             |  SELECT a.vid FROM h$r a
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM sym s JOIN h$r b ON s.dst = b.vid
             |    WHERE s.src = a.vid
             |      AND (b.h < a.h OR (b.h = a.h AND b.vid < a.vid)))),
             |a$r AS MATERIALIZED (
             |  SELECT a.vid FROM $prev a
             |  WHERE NOT EXISTS (SELECT 1 FROM w$r w WHERE w.vid = a.vid)
             |    AND NOT EXISTS (
             |      SELECT 1 FROM sym s JOIN w$r w ON s.dst = w.vid
             |      WHERE s.src = a.vid))""".stripMargin
        }
        val chain = (1 to 8).map(misIter).mkString(",\n")
        val unions = (2 to 8)
          .map(r => s"UNION ALL SELECT vid FROM w$r")
          .mkString("\n")
        s"""WITH $edgesCte,
           |e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS MATERIALIZED (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |a0 AS MATERIALIZED (SELECT DISTINCT src AS vid FROM sym),
           |$chain
           |SELECT vid FROM w1
           |$unions""".stripMargin
      },
      // k-truss (k=3) — 8 unrolled synchronous peeling rounds over the
      // weight>=2 subgraph: per round, each edge's support = triangles
      // through it in the CURRENT edge set (the canonical a<b<c 3-way
      // join counts each triangle once; every triangle credits its 3
      // edges), edges under k-2 drop; a fixpoint is stable so unrolling
      // past the measured 2-round convergence is harmless
      "q_ktruss" -> {
        def ktIter(prev: String, i: Int): String =
          s"""t$i AS MATERIALIZED (
             |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM $prev e1 JOIN $prev e2 ON e1.b = e2.a
             |  JOIN $prev e3 ON e3.a = e1.a AND e3.b = e2.b),
             |s$i AS (SELECT a, b, count(*) AS sup FROM (
             |  SELECT x AS a, y AS b FROM t$i
             |  UNION ALL SELECT y, z FROM t$i
             |  UNION ALL SELECT x, z FROM t$i) GROUP BY 1, 2),
             |k$i AS MATERIALIZED (
             |  SELECT e.a, e.b FROM $prev e JOIN s$i s USING (a, b)
             |  WHERE s.sup >= 1)""".stripMargin
        val chain = (1 to 8).map(i => ktIter(s"k${i - 1}", i)).mkString(",\n")
        s"""WITH $edgesCte,
           |k0 AS MATERIALIZED (
           |  SELECT src AS a, dst AS b FROM e WHERE weight >= 2),
           |$chain
           |SELECT a AS src, b AS dst FROM k8""".stripMargin
      },
      // eigenvector centrality — 8 unrolled power-iteration steps with the
      // L1 normalizer applied INSIDE the scatter term (sum(score/T), with
      // the engine's uniform weight 1.0 making (1.0·y)/T == y/T
      // bit-exact); the ulp noise of each engine's own sum order sits far
      // below the e7 grid, exactly as in the PageRank oracle
      "q_eigen_top20" -> {
        def ecIter(prev: String): String =
          s"""MATERIALIZED (
             |  SELECT v.vid, coalesce(m.s, 0) AS score
             |  FROM verts v LEFT JOIN (
             |    SELECT s.dst AS vid,
             |      sum(r.score / (SELECT sum(score) FROM $prev)) AS s
             |    FROM sym s JOIN $prev r ON s.src = r.vid GROUP BY 1
             |  ) m ON v.vid = m.vid
             |)""".stripMargin
        val chain = (1 to 8)
          .map(i => s"x$i AS ${ecIter(s"x${i - 1}")}")
          .mkString(",\n")
        s"""WITH $edgesCte,
           |sym AS MATERIALIZED (SELECT src, dst FROM e
           |        UNION ALL SELECT dst AS src, src AS dst FROM e),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |x0 AS MATERIALIZED (SELECT vid, 1.0 AS score FROM verts),
           |$chain
           |SELECT vid,
           |  CAST(round(score / (SELECT sum(score) FROM x8) * 1e7) AS BIGINT)
           |    AS score_e7
           |FROM x8
           |ORDER BY CAST(round(score / (SELECT sum(score) FROM x8) * 1e7) AS BIGINT) DESC, vid
           |LIMIT 20""".stripMargin
      },
      // Katz centrality — 4 unrolled walk-count rounds over the
      // symmetrized graph; every value is an exact BIGINT (walk counts +
      // the Horner-accumulated 8^(T−t) weighting), so the compare needs
      // no quantization
      "q_katz" -> {
        def katzIter(i: Int): String =
          s"""x$i AS MATERIALIZED (
             |  SELECT v.vid, coalesce(m.w, 0) AS walks,
             |    p.acc * 8 + coalesce(m.w, 0) AS acc
             |  FROM verts v JOIN x${i - 1} p ON v.vid = p.vid
             |  LEFT JOIN (
             |    SELECT s.dst AS vid, CAST(sum(r.walks) AS BIGINT) AS w
             |    FROM sym s JOIN x${i - 1} r ON s.src = r.vid GROUP BY 1
             |  ) m ON v.vid = m.vid)""".stripMargin
        val chain = (1 to 4).map(katzIter).mkString(",\n")
        s"""WITH $edgesCte,
           |sym AS MATERIALIZED (SELECT src, dst FROM e
           |        UNION ALL SELECT dst AS src, src AS dst FROM e),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |x0 AS MATERIALIZED (SELECT vid, CAST(1 AS BIGINT) AS walks,
           |        CAST(0 AS BIGINT) AS acc FROM verts),
           |$chain
           |SELECT vid, walks, acc AS katz_scaled FROM x4""".stripMargin
      },
      // HITS hubs/authorities — 8 unrolled rounds over the DIRECTED
      // canonical src<dst orientation (no symmetrization); each half-step
      // normalizer divides INSIDE the scatter term (sum(score/T)),
      // mirroring Hits.run's uniform-weight (1.0·x)/T == x/T contract;
      // a_0 = 1.0 everywhere so Ta_0 = n exactly on both engines
      "q_hits_top20" -> {
        def hitsRound(i: Int): String = {
          val pa = s"a${i - 1}"
          s"""h$i AS MATERIALIZED (
             |  SELECT v.vid, coalesce(m.s, 0) AS score
             |  FROM verts v LEFT JOIN (
             |    SELECT e.src AS vid,
             |      sum(a.score / (SELECT sum(score) FROM $pa)) AS s
             |    FROM e JOIN $pa a ON e.dst = a.vid GROUP BY 1
             |  ) m ON v.vid = m.vid),
             |a$i AS MATERIALIZED (
             |  SELECT v.vid, coalesce(m.s, 0) AS score
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS vid,
             |      sum(h.score / (SELECT sum(score) FROM h$i)) AS s
             |    FROM e JOIN h$i h ON e.src = h.vid GROUP BY 1
             |  ) m ON v.vid = m.vid)""".stripMargin
        }
        val chain = (1 to 8).map(hitsRound).mkString(",\n")
        s"""WITH $edgesCte,
           |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
           |a0 AS MATERIALIZED (SELECT vid, 1.0 AS score FROM verts),
           |$chain
           |SELECT h8.vid,
           |  CAST(round(h8.score / (SELECT sum(score) FROM h8) * 1e7) AS BIGINT)
           |    AS hub_e7,
           |  CAST(round(a8.score / (SELECT sum(score) FROM a8) * 1e7) AS BIGINT)
           |    AS auth_e7
           |FROM h8 JOIN a8 USING (vid)
           |ORDER BY
           |  CAST(round(h8.score / (SELECT sum(score) FROM h8) * 1e7) AS BIGINT) DESC,
           |  CAST(round(a8.score / (SELECT sum(score) FROM a8) * 1e7) AS BIGINT) DESC,
           |  h8.vid
           |LIMIT 20""".stripMargin
      },
      // strongly-connected components — DECLARATIVE oracle: orient each
      // canonical src<dst edge of the vid%8 induced subgraph by the
      // parity of the portable pair hash (mirroring sketchHash.pair in
      // the query), close reachability with a recursive CTE (DuckDB's
      // recursive UNION iterates on new rows only, so total work is
      // |closure| x avg-degree, not quadratic), and define
      // scc = min mutually-reachable vid. Order-free exact integers:
      // no round-count coupling with the engine's trim+FW-BW peeling.
      "q_scc" -> {
        val pair = ph("src || ',' || dst")
        s"""WITH RECURSIVE $edgesCte,
           |e8 AS MATERIALIZED (SELECT src, dst FROM e
           |      WHERE src % 8 = 0 AND dst % 8 = 0),
           |de AS MATERIALIZED (
           |  SELECT CASE WHEN ($pair) % 2 = 0 THEN src ELSE dst END AS src,
           |         CASE WHEN ($pair) % 2 = 0 THEN dst ELSE src END AS dst
           |  FROM e8),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM de
           |  UNION
           |  SELECT r.src, n.dst FROM reach r JOIN de n ON r.dst = n.src),
           |verts AS (SELECT src AS vid FROM de UNION SELECT dst FROM de),
           |mut AS (SELECT a.src AS vid, a.dst AS u
           |        FROM reach a JOIN reach b
           |          ON b.src = a.dst AND b.dst = a.src)
           |SELECT v.vid, least(v.vid, coalesce(min(m.u), v.vid)) AS scc
           |FROM verts v LEFT JOIN mut m ON v.vid = m.vid
           |GROUP BY v.vid""".stripMargin
      },
      // condensation DAG levels — the q_scc CTE prefix (oriented edges,
      // recursive reachability, mutual-reach scc map) on the vid%16
      // slice, then contracted distinct cross-SCC edges and 16 unrolled
      // longest-path max-relaxation rounds (fixpoint-equivalent: longest
      // path on a DAG is order-free; engine fixpoint measured at 1/3/5
      // rounds at the three sfs, and the engine lambda asserts
      // rounds <= 16)
      "q_condensation" -> {
        val pair = ph("src || ',' || dst")
        def lvlIter(i: Int): String =
          s"""l$i AS MATERIALIZED (
             |  SELECT n.scc,
             |    CASE WHEN m.nl IS NULL THEN n.level
             |         ELSE greatest(n.level, m.nl) END AS level
             |  FROM l${i - 1} n LEFT JOIN (
             |    SELECT c.dst AS scc, max(p.level) + 1 AS nl
             |    FROM cd c JOIN l${i - 1} p ON c.src = p.scc GROUP BY 1
             |  ) m ON n.scc = m.scc)""".stripMargin
        val chain = (1 to 16).map(lvlIter).mkString(",\n")
        s"""WITH RECURSIVE $edgesCte,
           |e8 AS MATERIALIZED (SELECT src, dst FROM e
           |      WHERE src % 16 = 0 AND dst % 16 = 0),
           |de AS MATERIALIZED (
           |  SELECT CASE WHEN ($pair) % 2 = 0 THEN src ELSE dst END AS src,
           |         CASE WHEN ($pair) % 2 = 0 THEN dst ELSE src END AS dst
           |  FROM e8),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM de
           |  UNION
           |  SELECT r.src, n.dst FROM reach r JOIN de n ON r.dst = n.src),
           |verts AS (SELECT src AS vid FROM de UNION SELECT dst FROM de),
           |mut AS (SELECT a.src AS vid, a.dst AS u
           |        FROM reach a JOIN reach b
           |          ON b.src = a.dst AND b.dst = a.src),
           |sccmap AS MATERIALIZED (
           |  SELECT v.vid, least(v.vid, coalesce(min(m.u), v.vid)) AS scc
           |  FROM verts v LEFT JOIN mut m ON v.vid = m.vid GROUP BY v.vid),
           |cd AS MATERIALIZED (
           |  SELECT DISTINCT sa.scc AS src, sb.scc AS dst
           |  FROM de e JOIN sccmap sa ON e.src = sa.vid
           |            JOIN sccmap sb ON e.dst = sb.vid
           |  WHERE sa.scc <> sb.scc),
           |l0 AS MATERIALIZED (
           |  SELECT DISTINCT scc, CAST(0 AS BIGINT) AS level FROM sccmap),
           |$chain
           |SELECT l16.scc, l16.level,
           |  CAST(s.size AS BIGINT) AS size
           |FROM l16 JOIN (SELECT scc, count(*) AS size FROM sccmap
           |               GROUP BY scc) s USING (scc)""".stripMargin
      },
      // resource-allocation link prediction: wedges through centers with
      // deg <= 64 (the hub cap, mirrored from LinkPred's maxDeg), scored
      // 1.0/deg (a correctly-rounded IEEE division — bit-identical across
      // engines), existing edges anti-joined away
      "q_linkpred" ->
        s"""WITH $edgesCte,
           |sym AS (SELECT src AS w, dst AS u FROM e
           |        UNION ALL SELECT dst AS w, src AS u FROM e),
           |deg AS MATERIALIZED (SELECT w, count(*) AS deg FROM sym GROUP BY 1),
           |cap AS MATERIALIZED (
           |  SELECT s.w, s.u, d.deg FROM sym s JOIN deg d USING (w)
           |  WHERE d.deg <= 64),
           |wed AS (SELECT x.u AS u, y.u AS v, x.deg
           |        FROM cap x JOIN cap y ON x.w = y.w AND x.u < y.u),
           |sc AS (SELECT u, v, count(*) AS cn, sum(1.0 / deg) AS ra
           |       FROM wed GROUP BY 1, 2),
           |nonadj AS (SELECT sc.u, sc.v, sc.cn, sc.ra FROM sc
           |           LEFT JOIN e ON sc.u = e.src AND sc.v = e.dst
           |           WHERE e.src IS NULL)
           |SELECT u AS src, v AS dst, cn,
           |  CAST(round(ra * 1e7) AS BIGINT) AS ra_e7
           |FROM nonadj
           |ORDER BY CAST(round(ra * 1e7) AS BIGINT) DESC, u, v
           |LIMIT 50""".stripMargin,
      "q_pagerank_top20" ->
        s"""WITH $edgesCte,
           |deg AS (SELECT src AS vid, count(*) AS outdeg FROM e GROUP BY 1),
           |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
           |v AS (SELECT verts.vid, deg.outdeg FROM verts LEFT JOIN deg USING (vid)),
           |nn AS (SELECT count(*) AS n FROM verts),
           |r0 AS MATERIALIZED (
           |  SELECT vid, outdeg, 1.0/(SELECT n FROM nn) AS rank FROM v),
           |$prChain
           |SELECT vid, CAST(round(rank * 1e7) AS BIGINT) AS rank_e7
           |FROM r8
           |ORDER BY CAST(round(rank * 1e7) AS BIGINT) DESC, vid
           |LIMIT 20""".stripMargin,
      // weighted PageRank — same unrolled-superstep form with the scatter
      // share weight/Σw; the share is parenthesized (e.weight / r.outw)
      // so DuckDB performs the identical IEEE division the engine's CSR
      // build precomputes (integral weights ⇒ exact operands)
      "q_pagerank_w20" -> {
        def prwIter(prev: String): String =
          s"""MATERIALIZED (
             |  SELECT v.vid, v.outw,
             |    (1-0.85)/(SELECT n FROM nn) + 0.85 * (coalesce(msg.m, 0)
             |      + (SELECT coalesce(sum(rank),0) FROM $prev WHERE outw IS NULL)
             |        /(SELECT n FROM nn)) AS rank
             |  FROM v LEFT JOIN (
             |    SELECT e.dst AS vid, sum(r.rank * (e.weight / r.outw)) AS m
             |    FROM e JOIN $prev r ON e.src = r.vid GROUP BY 1
             |  ) msg ON v.vid = msg.vid
             |)""".stripMargin
        val chain = (1 to 8)
          .map(i => s"w$i AS ${prwIter(s"w${i - 1}")}")
          .mkString(",\n")
        s"""WITH $edgesCte,
           |degw AS (SELECT src AS vid, CAST(sum(weight) AS DOUBLE) AS outw
           |         FROM e GROUP BY 1),
           |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT count(*) AS n FROM verts),
           |v AS (SELECT verts.vid, degw.outw FROM verts LEFT JOIN degw USING (vid)),
           |w0 AS MATERIALIZED (
           |  SELECT vid, outw, 1.0/(SELECT n FROM nn) AS rank FROM v),
           |$chain
           |SELECT vid, CAST(round(rank * 1e7) AS BIGINT) AS rank_e7
           |FROM w8
           |ORDER BY CAST(round(rank * 1e7) AS BIGINT) DESC, vid
           |LIMIT 20""".stripMargin
      },
      // personalized PageRank — same unrolled-superstep form as
      // q_pagerank_top20, with the teleport AND the dangling mass
      // returning to the vid%10==0 seed set (reset vector) instead of
      // the uniform vector; rank0 = reset (DuckDB `/` on DECIMAL
      // yields DOUBLE, same as the global-PR oracle's 1.0/n)
      "q_ppr_top20" -> {
        def pprIter(prev: String): String =
          s"""MATERIALIZED (
             |  SELECT v.vid, v.outdeg, v.reset,
             |    (1-0.85)*v.reset + 0.85 * (coalesce(msg.m, 0)
             |      + (SELECT coalesce(sum(rank),0) FROM $prev WHERE outdeg IS NULL)
             |        * v.reset) AS rank
             |  FROM v LEFT JOIN (
             |    SELECT e.dst AS vid, sum(r.rank / r.outdeg) AS m
             |    FROM e JOIN $prev r ON e.src = r.vid GROUP BY 1
             |  ) msg ON v.vid = msg.vid
             |)""".stripMargin
        val chain = (1 to 8)
          .map(i => s"p$i AS ${pprIter(s"p${i - 1}")}")
          .mkString(",\n")
        s"""WITH $edgesCte,
           |deg AS (SELECT src AS vid, count(*) AS outdeg FROM e GROUP BY 1),
           |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
           |ns AS (SELECT count(*) AS n FROM verts WHERE vid % 10 = 0),
           |v AS (SELECT verts.vid, deg.outdeg,
           |  CASE WHEN verts.vid % 10 = 0
           |    THEN 1.0/(SELECT n FROM ns) ELSE 0.0 END AS reset
           |  FROM verts LEFT JOIN deg USING (vid)),
           |p0 AS MATERIALIZED (
           |  SELECT vid, outdeg, reset, reset AS rank FROM v),
           |$chain
           |SELECT vid, CAST(round(rank * 1e7) AS BIGINT) AS rank_e7
           |FROM p8
           |ORDER BY CAST(round(rank * 1e7) AS BIGINT) DESC, vid
           |LIMIT 20""".stripMargin
      },
      // k-core (k=3) via unrolled synchronous peeling rounds: a round
      // deactivates every vertex with < 3 still-active neighbors; a
      // fixpoint is stable, so unrolling PAST convergence is harmless —
      // 32 rounds covers every sf corpus with slack (KCoreSpec pins the
      // engine's measured round count under the unroll budget)
      "q_kcore" -> {
        def kcIter(prev: String, i: Int): String =
          s"""a$i AS MATERIALIZED (
             |  SELECT v.vid, v.active AND coalesce(d.c, 0) >= 3 AS active
             |  FROM $prev v LEFT JOIN (
             |    SELECT s.dst AS vid, count(*) AS c
             |    FROM sym s JOIN $prev u ON s.src = u.vid AND u.active
             |    GROUP BY 1
             |  ) d ON v.vid = d.vid
             |)""".stripMargin
        val chain = (1 to 32)
          .map(i => kcIter(s"a${i - 1}", i))
          .mkString(",\n")
        s"""WITH $edgesCte,
           |e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS MATERIALIZED (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |a0 AS MATERIALIZED (SELECT vid, TRUE AS active FROM verts),
           |$chain
           |SELECT vid FROM a32 WHERE active""".stripMargin
      },
      // multi-source BFS — unrolled min-relaxation rounds (a different
      // but fixpoint-equivalent algorithm to the engine's frontier BFS:
      // hop distance is an order-free min over path lengths); 16 rounds
      // cover the measured max hop 7 with 2x slack; unreached vertices
      // (dist NULL at the fixpoint) are excluded on both sides
      "q_bfs_hops" -> {
        def bfsIter(prev: String, i: Int): String =
          s"""n$i AS MATERIALIZED (
             |  SELECT s.dst AS vid, min(p.dist) + 1 AS nd
             |  FROM sym s JOIN $prev p ON s.src = p.vid
             |  WHERE p.dist IS NOT NULL GROUP BY s.dst),
             |d$i AS MATERIALIZED (
             |  SELECT v.vid,
             |    CASE WHEN v.dist IS NULL THEN n.nd
             |         WHEN n.nd IS NULL THEN v.dist
             |         ELSE least(v.dist, n.nd) END AS dist
             |  FROM d${i - 1} v LEFT JOIN n$i n USING (vid))""".stripMargin
        val chain = (1 to 16).map(i => bfsIter(s"d${i - 1}", i)).mkString(",\n")
        s"""WITH $edgesCte,
           |e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS MATERIALIZED (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |d0 AS MATERIALIZED (SELECT vid,
           |  CASE WHEN vid % 10 = 0 THEN CAST(0 AS BIGINT) END AS dist
           |  FROM verts),
           |$chain
           |SELECT vid, dist FROM d16 WHERE dist IS NOT NULL""".stripMargin
      },
      // sampled stress centrality — 4 unrolled forward BFS/sigma rounds
      // + 4 unrolled backward gamma rounds over the weight>=2 subgraph;
      // all integers (sigma = shortest-path counts, gamma = downhill
      // tail counts), stress = sum(sigma*gamma) over non-seed pairs
      "q_stress" -> {
        def fwd(i: Int): String =
          s"""f$i AS MATERIALIZED (
             |  SELECT seed, vid, dist, sigma FROM f${i - 1}
             |  UNION ALL
             |  SELECT m.seed, m.vid, $i AS dist, m.sigma FROM (
             |    SELECT p.seed, s.dst AS vid,
             |      CAST(sum(p.sigma) AS BIGINT) AS sigma
             |    FROM sym s JOIN f${i - 1} p
             |      ON s.src = p.vid AND p.dist = ${i - 1}
             |    GROUP BY 1, 2) m
             |  WHERE NOT EXISTS (SELECT 1 FROM f${i - 1} x
             |    WHERE x.seed = m.seed AND x.vid = m.vid))""".stripMargin
        def bwd(i: Int): String =
          s"""g$i AS MATERIALIZED (
             |  SELECT f.seed, f.vid, f.dist, f.sigma,
             |    coalesce(m.g, 0) AS gamma
             |  FROM (SELECT * FROM f4 WHERE dist = $i) f
             |  LEFT JOIN (
             |    SELECT w.seed, s.src AS vid,
             |      CAST(sum(1 + w.gamma) AS BIGINT) AS g
             |    FROM sym s JOIN g${i + 1} w ON s.dst = w.vid
             |    GROUP BY 1, 2) m
             |  ON f.seed = m.seed AND f.vid = m.vid)""".stripMargin
        val fchain = (1 to 4).map(fwd).mkString(",\n")
        val bchain = (3 to 0 by -1).map(bwd).mkString(",\n")
        s"""WITH $edgesCte,
           |e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE weight >= 2),
           |sym AS MATERIALIZED (SELECT src, dst FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst FROM e2),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |f0 AS MATERIALIZED (SELECT vid AS seed, vid, 0 AS dist,
           |        CAST(1 AS BIGINT) AS sigma FROM verts WHERE vid % 20 = 0),
           |$fchain,
           |g4 AS MATERIALIZED (SELECT seed, vid, dist, sigma,
           |        CAST(0 AS BIGINT) AS gamma FROM f4 WHERE dist = 4),
           |$bchain
           |SELECT vid, CAST(sum(sigma * gamma) AS BIGINT) AS stress
           |FROM (SELECT * FROM g0 UNION ALL SELECT * FROM g1 UNION ALL
           |      SELECT * FROM g2 UNION ALL SELECT * FROM g3 UNION ALL
           |      SELECT * FROM g4)
           |WHERE vid <> seed GROUP BY vid""".stripMargin
      },
      // weighted SSSP — unrolled min-relaxation rounds over the weight-
      // merged symmetric graph (fixpoint-equivalent to the engine's delta
      // Bellman-Ford: min total weight over paths is order-free, and with
      // integral weights every distance is an exact integer); 16 rounds
      // cover the measured max 8 with 2x slack
      "q_sssp_cost" -> {
        def ssspIter(prev: String, i: Int): String =
          s"""n$i AS MATERIALIZED (
             |  SELECT s.dst AS vid, min(p.dist + s.w) AS nd
             |  FROM sym s JOIN $prev p ON s.src = p.vid
             |  WHERE p.dist IS NOT NULL GROUP BY s.dst),
             |d$i AS MATERIALIZED (
             |  SELECT v.vid,
             |    CASE WHEN v.dist IS NULL THEN n.nd
             |         WHEN n.nd IS NULL THEN v.dist
             |         ELSE least(v.dist, n.nd) END AS dist
             |  FROM d${i - 1} v LEFT JOIN n$i n USING (vid))""".stripMargin
        val chain = (1 to 16).map(i => ssspIter(s"d${i - 1}", i)).mkString(",\n")
        s"""WITH $edgesCte,
           |e2 AS MATERIALIZED (SELECT src, dst, weight FROM e WHERE weight >= 2),
           |sym AS MATERIALIZED (SELECT src, dst, sum(weight) AS w FROM (
           |        SELECT src, dst, weight FROM e2
           |        UNION ALL SELECT dst AS src, src AS dst, weight FROM e2)
           |        GROUP BY src, dst),
           |verts AS (SELECT DISTINCT src AS vid FROM sym),
           |d0 AS MATERIALIZED (SELECT vid,
           |  CASE WHEN vid % 10 = 0 THEN CAST(0 AS DOUBLE) END AS dist
           |  FROM verts),
           |$chain
           |SELECT vid, CAST(dist AS BIGINT) AS dist
           |FROM d16 WHERE dist IS NOT NULL""".stripMargin
      },
      // global clustering coefficient: cc = 3T/wedges = 6T/sum(deg*(deg-1));
      // the double division is performed with IDENTICAL operand order on
      // both engines ((6.0*T)/w2*1e7) so the e7 quantization agrees
      "q_clustering" ->
        s"""WITH $edgesCte,
           |tri AS (SELECT count(*) AS t FROM e e1
           |        JOIN e e2 ON e1.dst = e2.src
           |        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
           |u AS (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e),
           |deg AS (SELECT vid, count(*) AS deg FROM u GROUP BY 1),
           |w AS (SELECT sum(deg * (deg - 1)) AS w2 FROM deg)
           |SELECT (SELECT t FROM tri) AS triangles,
           |  CAST(w2 / 2 AS BIGINT) AS wedges,
           |  CASE WHEN w2 > 0 THEN
           |    CAST(round(6.0 * (SELECT t FROM tri) / w2 * 1e7) AS BIGINT)
           |  END AS cc_e7
           |FROM w""".stripMargin,
      // degree assortativity — exact BIGINT moments over the symmetrized
      // edge list; the two 128-bit products (m*sjk, sj*sj) go through
      // HUGEINT (decimal(38,0) on the Spark side), then ONE double
      // division in the identical operand order before e7 quantization
      "q_assortativity" ->
        s"""WITH $edgesCte,
           |u AS (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e),
           |deg AS (SELECT vid, count(*) AS deg FROM u GROUP BY 1),
           |dir AS (SELECT src, dst FROM e
           |        UNION ALL SELECT dst AS src, src AS dst FROM e),
           |j AS (SELECT d1.deg AS jdeg, d2.deg AS kdeg
           |      FROM dir JOIN deg d1 ON dir.src = d1.vid
           |      JOIN deg d2 ON dir.dst = d2.vid),
           |mom AS (SELECT count(*) AS m,
           |        CAST(sum(jdeg * kdeg) AS BIGINT) AS sjk,
           |        CAST(sum(jdeg) AS BIGINT) AS sj,
           |        CAST(sum(jdeg * jdeg) AS BIGINT) AS sj2 FROM j)
           |SELECT m, sjk, sj, sj2,
           |  CASE WHEN CAST(m AS HUGEINT)*sj2 - CAST(sj AS HUGEINT)*sj <> 0 THEN
           |    CAST(round(
           |      CAST(CAST(m AS HUGEINT)*sjk - CAST(sj AS HUGEINT)*sj AS DOUBLE)
           |      / CAST(CAST(m AS HUGEINT)*sj2 - CAST(sj AS HUGEINT)*sj AS DOUBLE)
           |      * 1e7) AS BIGINT)
           |  END AS r_e7
           |FROM mom""".stripMargin,
      "q_tri_pervertex" ->
        s"""WITH $edgesCte,
           |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           |        FROM e e1 JOIN e e2 ON e1.dst = e2.src
           |        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
           |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
           |cnts AS (SELECT vid, count(*) AS c FROM (
           |  SELECT a AS vid FROM tri UNION ALL
           |  SELECT b FROM tri UNION ALL
           |  SELECT c FROM tri) GROUP BY 1)
           |SELECT v.vid, COALESCE(cnts.c, 0) AS triangles
           |FROM verts v LEFT JOIN cnts ON v.vid = cnts.vid""".stripMargin,
      // local clustering coefficient — the q_tri_pervertex chain plus the
      // degree table; the one division mirrors the Spark expression
      // token-for-token (2.0·tri first, then the integer wedge product)
      "q_lcc" ->
        s"""WITH $edgesCte,
           |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           |        FROM e e1 JOIN e e2 ON e1.dst = e2.src
           |        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
           |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
           |cnts AS (SELECT vid, count(*) AS c FROM (
           |  SELECT a AS vid FROM tri UNION ALL
           |  SELECT b FROM tri UNION ALL
           |  SELECT c FROM tri) GROUP BY 1),
           |deg AS (SELECT vid, count(*) AS deg FROM (
           |  SELECT src AS vid FROM e UNION ALL SELECT dst FROM e) GROUP BY 1)
           |SELECT v.vid, COALESCE(cnts.c, 0) AS triangles, deg.deg,
           |  CASE WHEN deg.deg > 1 THEN
           |    CAST(round(2.0 * COALESCE(cnts.c, 0)
           |      / (deg.deg * (deg.deg - 1)) * 1e7) AS BIGINT)
           |  END AS lcc_e7
           |FROM verts v LEFT JOIN cnts ON v.vid = cnts.vid
           |JOIN deg ON v.vid = deg.vid""".stripMargin,
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |  count(*) AS cnt
          |FROM lineitem GROUP BY 1, 2""".stripMargin,
      "q_market_join" ->
        """SELECT c_mktsegment, count(*) AS orders_cnt,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1""".stripMargin,
      "q_cust_no_orders" ->
        """SELECT c_custkey FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
      "q_cust_big_spenders" ->
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_totalprice > 40000)""".stripMargin,
      "q_window_top_orders" ->
        """SELECT o_custkey, o_orderkey, rnk FROM (
          |  SELECT o_custkey, o_orderkey,
          |    CAST(row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
          |  FROM orders) WHERE rnk <= 2""".stripMargin,
      "q_events_hourly" ->
        """SELECT date_trunc('hour', ts) AS hour, event_type,
          |  count(*) AS cnt,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2""".stripMargin,
      "q_events_json" ->
        """SELECT event_id,
          |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |FROM events""".stripMargin,
      "q_asof_order" ->
        """WITH o AS (
          |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
          |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
          |      ORDER BY o_orderkey DESC) AS rn FROM orders) WHERE rn = 1)
          |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
          |FROM events e ASOF LEFT JOIN o
          |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""".stripMargin,
      // identical semantics to q_asof_order (the bucketed plan is an
      // implementation strategy, not a semantic change) — same oracle
      "q_asof_bucketed" ->
        """WITH o AS (
          |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
          |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
          |      ORDER BY o_orderkey DESC) AS rn FROM orders) WHERE rn = 1)
          |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
          |FROM events e ASOF LEFT JOIN o
          |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""".stripMargin,
      "q_rollup_orders" ->
        """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin,
      "q_cube_orders" ->
        """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total
          |FROM orders
          |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,
      // explicit order-statistic interpolation, mirrored token-for-token
      // with the Spark side (see the q_quantiles query comment): pos =
      // p·(n−1), lo/hi at floor(pos)+1 / least(floor(pos)+2, n), one
      // lerp lo + (pos−floor(pos))·(hi−lo) — identical IEEE evaluation
      // on both engines, nothing rests on engine-internal interpolation
      "q_quantiles" ->
        """WITH ranked AS (
          |  SELECT l_returnflag AS flag, CAST(l_quantity AS DOUBLE) AS x,
          |    row_number() OVER (PARTITION BY l_returnflag
          |                       ORDER BY l_quantity) AS rn,
          |    count(*) OVER (PARTITION BY l_returnflag) AS n
          |  FROM lineitem),
          |g AS (
          |  SELECT flag, count(*) AS cnt,
          |    max(CASE WHEN rn = CAST(floor(0.5*(n-1)) AS BIGINT) + 1
          |             THEN x END) AS lo50,
          |    max(CASE WHEN rn = least(CAST(floor(0.5*(n-1)) AS BIGINT) + 2, n)
          |             THEN x END) AS hi50,
          |    max(CASE WHEN rn = CAST(floor(0.9*(n-1)) AS BIGINT) + 1
          |             THEN x END) AS lo90,
          |    max(CASE WHEN rn = least(CAST(floor(0.9*(n-1)) AS BIGINT) + 2, n)
          |             THEN x END) AS hi90
          |  FROM ranked GROUP BY 1)
          |SELECT flag,
          |  CAST(round((lo50 + (0.5*(cnt-1) - floor(0.5*(cnt-1)))
          |    * (hi50 - lo50)) * 1e6) AS BIGINT) AS p50_e6,
          |  CAST(round((lo90 + (0.9*(cnt-1) - floor(0.9*(cnt-1)))
          |    * (hi90 - lo90)) * 1e6) AS BIGINT) AS p90_e6,
          |  cnt
          |FROM g""".stripMargin,
      "q_pivot" ->
        """SELECT l_returnflag AS flag,
          |  coalesce(CAST(sum(CASE WHEN l_linestatus = 'O'
          |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
          |    AS qty_o,
          |  coalesce(CAST(sum(CASE WHEN l_linestatus = 'F'
          |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
          |    AS qty_f
          |FROM lineitem GROUP BY 1""".stripMargin,
      "q_unpivot" ->
        """WITH wide AS (SELECT l_returnflag AS flag,
          |    CAST(sum(CASE WHEN l_linestatus = 'O'
          |      THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
          |      AS qty_o,
          |    CAST(sum(CASE WHEN l_linestatus = 'F'
          |      THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
          |      AS qty_f
          |  FROM lineitem GROUP BY 1)
          |SELECT flag, status, qty FROM (
          |  SELECT flag, 'qty_o' AS status, qty_o AS qty FROM wide
          |  UNION ALL
          |  SELECT flag, 'qty_f' AS status, qty_f AS qty FROM wide)
          |WHERE qty IS NOT NULL""".stripMargin,
      "q_dedup_exact" ->
        """SELECT sha256(text) AS sha, count(*) AS cnt,
          |  min(doc_id) AS keep_id
          |FROM documents GROUP BY 1""".stripMargin,
      "q_text_stats" ->
        """SELECT doc_id,
          |  len(string_split_regex(trim(text),'\s+')) AS n_tokens,
          |  len(list_distinct(string_split_regex(trim(text),'\s+'))) AS n_distinct_tokens,
          |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpeish,
          |  CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS BIGINT) AS n_punct,
          |  n_chars
          |FROM documents""".stripMargin,
      "q_lang_guess" ->
        """WITH s AS (SELECT doc_id,
          |  len(list_filter(string_split_regex(trim(lower(text)),'\s+'),
          |      t -> t IN ('the','a','of','and','to'))) AS en_cnt,
          |  len(list_filter(string_split_regex(trim(lower(text)),'\s+'),
          |      t -> t IN ('der','die','das','und','ein'))) AS de_cnt,
          |  len(list_filter(string_split_regex(trim(lower(text)),'\s+'),
          |      t -> t IN ('le','la','les','et','un'))) AS fr_cnt,
          |  len(list_filter(string_split_regex(trim(lower(text)),'\s+'),
          |      t -> t IN ('el','los','las','y','una'))) AS es_cnt
          |FROM documents)
          |SELECT doc_id, en_cnt, de_cnt,
          |  CASE WHEN en_cnt + de_cnt + fr_cnt + es_cnt = 0 THEN 'unknown'
          |       WHEN en_cnt >= de_cnt AND en_cnt >= fr_cnt AND en_cnt >= es_cnt THEN 'en'
          |       WHEN de_cnt >= fr_cnt AND de_cnt >= es_cnt THEN 'de'
          |       WHEN fr_cnt >= es_cnt THEN 'fr'
          |       ELSE 'es' END AS guess
          |FROM s""".stripMargin,
      "q_fingerprint" ->
        """SELECT doc_id,
          |  sha256(array_to_string(list_sort(list_distinct(
          |    string_split_regex(trim(lower(text)),'\s+'))), ' ')) AS fp
          |FROM documents""".stripMargin,
      // mirrors Dedup.jaccardPairsWithin's block cap (maxBlock=4096):
      // all-pairs over each block's 4096 smallest ids, plus overflow
      // members vs the block representative (rn=1 = min id) only
      "q_jaccard_pairs" ->
        """WITH t AS (SELECT doc_id, source,
          |  list_distinct(string_split_regex(trim(lower(text)),'\s+')) AS toks,
          |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          |FROM documents)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_cnt,
          |  CAST(len(a.toks) + len(b.toks)
          |    - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS union_cnt
          |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
          |  AND ((a.rn <= 4096 AND b.rn <= 4096)
          |       OR (a.rn = 1 AND b.rn > 4096))""".stripMargin,
      // mirrors Corpus.stratifiedSample(n=20): smallest (portable-hash,
      // id) per source — the hash ties the sample to the same rows in
      // both engines
      "q_sample_stratified" ->
        s"""SELECT doc_id, source FROM (
           |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
           |    ORDER BY ${ph("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
           |  FROM documents) WHERE rk <= 20""".stripMargin,
      // mirrors Corpus.tfidfTopTerms(k=3): tf and df are exact integer
      // aggregates; score = round(tf * ln(N/df), 6) on both engines
      "q_tfidf_top" ->
        """WITH tk AS (SELECT doc_id,
          |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          |FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
          |dfreq AS (SELECT term, count(*) AS df_cnt FROM tf GROUP BY 1),
          |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |scored AS (SELECT doc_id, term, tf,
          |    round(tf * ln(nn.n / df_cnt), 6) AS score
          |  FROM tf JOIN dfreq USING (term) CROSS JOIN nn)
          |SELECT doc_id, term, tf, score, rk FROM (
          |  SELECT doc_id, term, tf, score,
          |    CAST(row_number() OVER (PARTITION BY doc_id
          |      ORDER BY score DESC, term) AS BIGINT) AS rk
          |  FROM scored) WHERE rk <= 3""".stripMargin,
      // mirrors Dedup.duplicateSpans(k=8) exactly: every 8-token window's
      // portable-hash fingerprint, fingerprints occurring > 1x anywhere
      // mark their positions duplicated, consecutive positions merge into
      // maximal runs (gaps-and-islands), span length = runLen + 7
      "q_substr_spans" ->
        s"""WITH tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)), '\\s+') AS tk
           |FROM documents),
           |gi AS (SELECT doc_id, tk,
           |  unnest(generate_series(1, len(tk) - 7)) AS i FROM tks),
           |g AS (SELECT doc_id, i - 1 AS pos,
           |  ${ph("array_to_string(tk[i:i+7], ' ')")} AS fp FROM gi),
           |d AS (SELECT fp FROM g GROUP BY fp HAVING count(*) > 1),
           |dp AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (fp)),
           |isl AS (SELECT doc_id, pos,
           |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |FROM dp)
           |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start,
           |  CAST(count(*) + 7 AS BIGINT) AS len
           |FROM isl GROUP BY doc_id, isl""".stripMargin,
      // ---- sketch-pipeline oracles: the engine runs these queries in
      // Hash64.Portable mode, and ph() below is the DuckDB mirror of
      // that hash (md5-derived 60-bit), so every hash, band key, bucket
      // and centroid routes IDENTICALLY in both engines ----
      "q_simhash" ->
        s"""WITH tk AS (SELECT doc_id,
           |  unnest(string_split_regex(trim(lower(text)),'\\s+')) AS t
           |FROM documents),
           |hs AS (SELECT doc_id, ${ph("t")} AS h FROM tk),
           |votes AS (SELECT doc_id, r.b AS b,
           |    sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM hs CROSS JOIN range(64) r(b) GROUP BY 1, 2),
           |packed AS (SELECT doc_id,
           |  CAST(sum(CASE WHEN v > 0 THEN
           |    (CASE WHEN b >= 60 THEN 0::BIGINT ELSE (1::BIGINT << b) END)
           |    ELSE 0::BIGINT END) AS BIGINT) AS simhash
           |FROM votes GROUP BY 1)
           |SELECT d.doc_id, COALESCE(p.simhash, 0::BIGINT) AS simhash
           |FROM documents d LEFT JOIN packed p ON p.doc_id = d.doc_id""".stripMargin,
      "q_simhash_pairs" ->
        s"""WITH tk AS (SELECT doc_id,
           |  unnest(string_split_regex(trim(lower(text)),'\\s+')) AS t
           |FROM documents),
           |hs AS (SELECT doc_id, ${ph("t")} AS h FROM tk),
           |votes AS (SELECT doc_id, r.b AS b,
           |    sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM hs CROSS JOIN range(64) r(b) GROUP BY 1, 2),
           |sims AS (SELECT doc_id,
           |  CAST(sum(CASE WHEN v > 0 THEN
           |    (CASE WHEN b >= 60 THEN 0::BIGINT ELSE (1::BIGINT << b) END)
           |    ELSE 0::BIGINT END) AS BIGINT) AS sim
           |  FROM votes GROUP BY 1),
           |chunked AS (SELECT doc_id, sim, c.c AS pos,
           |    (sim >> CAST(c.c * 16 AS INT)) & 65535 AS val
           |  FROM sims CROSS JOIN range(4) c(c)),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
           |  FROM chunked a JOIN chunked b
           |    ON a.pos = b.pos AND a.val = b.val AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,
      "q_minhash_pairs" ->
        s"""WITH tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS tk FROM documents),
           |shg AS (SELECT doc_id,
           |    list_distinct(CASE WHEN len(tk) < 3
           |      THEN [array_to_string(tk, ' ')]
           |      ELSE list_transform(generate_series(1, len(tk) - 2),
           |             i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
           |  FROM tks),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM shg),
           |sig AS (SELECT doc_id, r.h AS h,
           |    min(${ph("s || '#' || r.h")}) AS m
           |  FROM ex CROSS JOIN range(30) r(h) GROUP BY 1, 2),
           |bnd AS (SELECT doc_id, h // 3 AS b,
           |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY h) AS bs
           |  FROM sig GROUP BY 1, 2),
           |keys AS (SELECT doc_id, ${ph("bs || '#' || b")} AS band FROM bnd),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM keys a JOIN keys b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |jv AS (SELECT id_a, id_b,
           |    len(list_intersect(sa.sh, sb.sh)) AS i,
           |    len(sa.sh) + len(sb.sh)
           |      - len(list_intersect(sa.sh, sb.sh)) AS u
           |  FROM cand JOIN shg sa ON sa.doc_id = cand.id_a
           |  JOIN shg sb ON sb.doc_id = cand.id_b)
           |SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
           |FROM jv WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.5""".stripMargin,
      // the q_minhash_pairs chain over the parity-remapped train/eval
      // union, keeping only cross-side pairs — mirrors
      // Dedup.crossCorpusContamination (even id = train, odd = eval)
      "q_contamination" ->
        s"""WITH uni AS (
           |  SELECT doc_id * 2 AS doc_id, text FROM documents
           |    WHERE doc_id % 5 <> 0
           |  UNION ALL
           |  SELECT doc_id * 2 + 1 AS doc_id, text FROM documents
           |    WHERE doc_id % 5 = 0),
           |tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS tk FROM uni),
           |shg AS (SELECT doc_id,
           |    list_distinct(CASE WHEN len(tk) < 3
           |      THEN [array_to_string(tk, ' ')]
           |      ELSE list_transform(generate_series(1, len(tk) - 2),
           |             i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
           |  FROM tks),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM shg),
           |sig AS (SELECT doc_id, r.h AS h,
           |    min(${ph("s || '#' || r.h")}) AS m
           |  FROM ex CROSS JOIN range(30) r(h) GROUP BY 1, 2),
           |bnd AS (SELECT doc_id, h // 3 AS b,
           |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY h) AS bs
           |  FROM sig GROUP BY 1, 2),
           |keys AS (SELECT doc_id, ${ph("bs || '#' || b")} AS band FROM bnd),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM keys a JOIN keys b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |jv AS (SELECT id_a, id_b,
           |    len(list_intersect(sa.sh, sb.sh)) AS i,
           |    len(sa.sh) + len(sb.sh)
           |      - len(list_intersect(sa.sh, sb.sh)) AS u
           |  FROM cand JOIN shg sa ON sa.doc_id = cand.id_a
           |  JOIN shg sb ON sb.doc_id = cand.id_b)
           |SELECT
           |  CAST((CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) // 2
           |    AS BIGINT) AS train_id,
           |  CAST((CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END) // 2
           |    AS BIGINT) AS eval_id,
           |  CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
           |FROM jv WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.5
           |  AND id_a % 2 <> id_b % 2""".stripMargin,
      // mirrors Corpus.importanceWeights(buckets=4096): unigrams +
      // bigram shingles hashed into buckets, add-one-smoothed target
      // (doc_id%7=0) vs raw (doc_id%7<>0) distributions, per-bucket
      // log-ratio quantized to e6 in ONE double expression (operand
      // order identical to the Spark column), then the exact BIGINT
      // dot product per raw doc
      "q_importance" ->
        s"""WITH tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS tk FROM documents),
           |gr AS (SELECT doc_id, unnest(list_concat(tk,
           |    CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
           |    ELSE list_transform(generate_series(1, len(tk) - 1),
           |           i -> array_to_string(tk[i:i+1], ' ')) END)) AS g
           |  FROM tks),
           |gb AS MATERIALIZED (SELECT doc_id,
           |    (${ph("g")}) % 4096 AS b FROM gr),
           |tgt AS (SELECT b, count(*) AS tcnt FROM gb
           |  WHERE doc_id % 7 = 0 GROUP BY 1),
           |rawdoc AS MATERIALIZED (SELECT doc_id, b, count(*) AS c
           |  FROM gb WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
           |rawb AS (SELECT b, CAST(sum(c) AS BIGINT) AS rcnt
           |  FROM rawdoc GROUP BY 1),
           |tt AS (SELECT coalesce(CAST(sum(tcnt) AS BIGINT), 0) AS t FROM tgt),
           |rt AS (SELECT coalesce(CAST(sum(rcnt) AS BIGINT), 0) AS r FROM rawb),
           |w AS (SELECT rb.b,
           |    CAST(round(ln(
           |      ((coalesce(tg.tcnt, 0) + 1) / CAST(tt.t + 4096 AS DOUBLE))
           |      / ((rb.rcnt + 1) / CAST(rt.r + 4096 AS DOUBLE))
           |    ) * 1e6) AS BIGINT) AS w_e6
           |  FROM rawb rb LEFT JOIN tgt tg ON rb.b = tg.b
           |  CROSS JOIN tt CROSS JOIN rt)
           |SELECT rd.doc_id AS id, CAST(sum(rd.c) AS BIGINT) AS n_grams,
           |  CAST(sum(rd.c * w.w_e6) AS BIGINT) AS score_e6
           |FROM rawdoc rd JOIN w ON rd.b = w.b
           |GROUP BY 1""".stripMargin,
      // mirrors Corpus.bigramLmScore(buckets=1024): bigrams from the
      // trimmed lowercase whitespace tokens, ctx/next hashed into 1024
      // vocab buckets, add-one-smoothed bigram model on the target
      // (doc_id%4=0), per-pair −ln P quantized e6 (operand order
      // identical to the Spark column), per-doc nll the exact BIGINT
      // dot product, keep an exact BIGINT comparison
      "q_perplexity" ->
        s"""WITH tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS tk FROM documents),
           |bg AS (SELECT doc_id,
           |    (${ph("pr[1]")}) % 1024 AS cb,
           |    (${ph("pr[2]")}) % 1024 AS wb
           |  FROM (SELECT doc_id,
           |      unnest(list_transform(generate_series(1, len(tk) - 1),
           |        i -> [tk[i], tk[i+1]])) AS pr
           |    FROM tks WHERE len(tk) >= 2)),
           |tp AS MATERIALIZED (SELECT cb, wb, count(*) AS tp FROM bg
           |  WHERE doc_id % 4 = 0 GROUP BY 1, 2),
           |tc AS (SELECT cb, CAST(sum(tp) AS BIGINT) AS tc FROM tp GROUP BY 1),
           |rd AS (SELECT doc_id, cb, wb, count(*) AS c FROM bg
           |  WHERE doc_id % 4 <> 0 GROUP BY 1, 2, 3),
           |sc AS (SELECT rd.doc_id AS id,
           |    CAST(sum(rd.c) AS BIGINT) AS n_bigrams,
           |    CAST(sum(rd.c * (
           |      -CAST(round(ln(
           |        CAST(coalesce(tp.tp, 0) + 1 AS DOUBLE)
           |        / CAST(coalesce(tc.tc, 0) + 1024 AS DOUBLE)
           |      ) * 1e6) AS BIGINT))) AS BIGINT) AS nll_e6
           |  FROM rd LEFT JOIN tp ON rd.cb = tp.cb AND rd.wb = tp.wb
           |  LEFT JOIN tc ON rd.cb = tc.cb
           |  GROUP BY 1)
           |SELECT id, n_bigrams, nll_e6,
           |  nll_e6 <= 4920000 * n_bigrams AS keep FROM sc""".stripMargin,
      // same pair pipeline, then connected components (recursive CTE
      // seeded from ALL docs so singletons are their own cluster) + the
      // min-id survivor rule — mirrors Dedup.nearDupClusters exactly
      "q_dedup_clusters" ->
        s"""WITH RECURSIVE tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS tk FROM documents),
           |shg AS MATERIALIZED (SELECT doc_id,
           |    list_distinct(CASE WHEN len(tk) < 3
           |      THEN [array_to_string(tk, ' ')]
           |      ELSE list_transform(generate_series(1, len(tk) - 2),
           |             i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
           |  FROM tks),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM shg),
           |sig AS (SELECT doc_id, r.h AS h,
           |    min(${ph("s || '#' || r.h")}) AS m
           |  FROM ex CROSS JOIN range(30) r(h) GROUP BY 1, 2),
           |bnd AS (SELECT doc_id, h // 3 AS b,
           |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY h) AS bs
           |  FROM sig GROUP BY 1, 2),
           |keys AS (SELECT doc_id, ${ph("bs || '#' || b")} AS band FROM bnd),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM keys a JOIN keys b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |jv AS (SELECT id_a, id_b,
           |    len(list_intersect(sa.sh, sb.sh)) AS i,
           |    len(sa.sh) + len(sb.sh)
           |      - len(list_intersect(sa.sh, sb.sh)) AS u
           |  FROM cand JOIN shg sa ON sa.doc_id = cand.id_a
           |  JOIN shg sb ON sb.doc_id = cand.id_b),
           |prs AS MATERIALIZED (SELECT id_a, id_b FROM jv
           |  WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.5),
           |sym AS (SELECT id_a AS src, id_b AS dst FROM prs
           |        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
           |reach AS (
           |  SELECT doc_id AS vid, doc_id AS comp FROM documents
           |  UNION
           |  SELECT s.dst AS vid, r.comp FROM reach r JOIN sym s ON r.vid = s.src
           |),
           |comps AS (SELECT vid, min(comp) AS comp FROM reach GROUP BY 1)
           |SELECT CAST(vid AS BIGINT) AS id, CAST(comp AS BIGINT) AS cluster,
           |  vid = comp AS is_survivor
           |FROM comps""".stripMargin,
      "q_lsh_ann" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |ed AS (SELECT vec_id, v,
           |  unnest(generate_series(1, len(v))) AS d FROM e),
           |comp AS (SELECT vec_id, r.i AS i,
           |    sum(CASE WHEN (${ph("r.i || ',' || (d - 1)")}) & 1 = 1
           |      THEN v[d] ELSE -v[d] END) AS dot
           |  FROM ed CROSS JOIN range(4) r(i) GROUP BY 1, 2),
           |bk AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN round(dot, 6) > 0 THEN (1::BIGINT << i)
           |      ELSE 0::BIGINT END) AS BIGINT) AS bucket
           |  FROM comp GROUP BY 1),
           |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
           |  FROM bk q JOIN bk c ON q.bucket = c.bucket
           |  JOIN e qe ON qe.vec_id = q.vec_id
           |  JOIN e ce ON ce.vec_id = c.vec_id
           |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
           |SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT query_id, neighbor_id,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
           |  FROM scored) WHERE rnk <= 5""".stripMargin,
      // multi-probe variant: probes = exact bucket + the 2 nearest-margin
      // single-bit flips, margin = round(abs(dot), 6) (rank ties broken by
      // bit index — identical ordering rule to Similarity.srpProbeBuckets)
      "q_lsh_ann_mp" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |ed AS (SELECT vec_id, v,
           |  unnest(generate_series(1, len(v))) AS d FROM e),
           |comp AS (SELECT vec_id, r.i AS i,
           |    sum(CASE WHEN (${ph("r.i || ',' || (d - 1)")}) & 1 = 1
           |      THEN v[d] ELSE -v[d] END) AS dot
           |  FROM ed CROSS JOIN range(4) r(i) GROUP BY 1, 2),
           |bk AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN round(dot, 6) > 0 THEN (1::BIGINT << i)
           |      ELSE 0::BIGINT END) AS BIGINT) AS bucket
           |  FROM comp GROUP BY 1),
           |mgn AS (SELECT c.vec_id, c.i, b.bucket,
           |    row_number() OVER (PARTITION BY c.vec_id
           |      ORDER BY round(abs(c.dot), 6), c.i) AS rn
           |  FROM comp c JOIN bk b ON b.vec_id = c.vec_id
           |  WHERE c.vec_id < 10),
           |pk AS (SELECT vec_id AS query_id, bucket AS probe
           |    FROM bk WHERE vec_id < 10
           |  UNION ALL
           |  SELECT vec_id, xor(bucket, (1::BIGINT << i))
           |    FROM mgn WHERE rn <= 2),
           |scored AS (SELECT pk.query_id, c.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
           |  FROM pk JOIN bk c ON c.bucket = pk.probe
           |  JOIN e qe ON qe.vec_id = pk.query_id
           |  JOIN e ce ON ce.vec_id = c.vec_id
           |  WHERE c.vec_id <> pk.query_id)
           |SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT query_id, neighbor_id,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
           |  FROM scored) WHERE rnk <= 5""".stripMargin,
      "q_ivf_ann" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |cents AS (SELECT vec_id AS cent, v AS cv FROM e
           |  ORDER BY ${ph("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
           |asg AS (SELECT vec_id, cent FROM (
           |  SELECT e.vec_id, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN cents c) WHERE rn = 1),
           |probes AS (SELECT vec_id AS query_id, cent FROM (
           |  SELECT e.vec_id, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 4),
           |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
           |  FROM probes p JOIN asg a ON a.cent = p.cent
           |  JOIN e qe ON qe.vec_id = p.query_id
           |  JOIN e ce ON ce.vec_id = a.vec_id
           |  WHERE a.vec_id <> p.query_id)
           |SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT query_id, neighbor_id,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
           |  FROM scored) WHERE rnk <= 5""".stripMargin,
      // q_ivf_ann with the binding maxList=16 cap: identical chain plus
      // one capped-assignment CTE (per-cent row_number over vec_id <= 16)
      // — mirrors Similarity.ivfTopK's capLists exactly
      "q_ivf_capped" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |cents AS (SELECT vec_id AS cent, v AS cv FROM e
           |  ORDER BY ${ph("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
           |asg AS (SELECT vec_id, cent FROM (
           |  SELECT e.vec_id, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN cents c) WHERE rn = 1),
           |casg AS (SELECT vec_id, cent FROM (
           |  SELECT vec_id, cent,
           |    row_number() OVER (PARTITION BY cent ORDER BY vec_id) AS lr
           |  FROM asg) WHERE lr <= 16),
           |probes AS (SELECT vec_id AS query_id, cent FROM (
           |  SELECT e.vec_id, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 4),
           |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
           |  FROM probes p JOIN casg a ON a.cent = p.cent
           |  JOIN e qe ON qe.vec_id = p.query_id
           |  JOIN e ce ON ce.vec_id = a.vec_id
           |  WHERE a.vec_id <> p.query_id)
           |SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT query_id, neighbor_id,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
           |  FROM scored) WHERE rnk <= 5""".stripMargin,
      // mirrors Similarity.cosineNearDupCandidates(0.4, bandBits=4,
      // numBands=4, maxBucket=4096): 16 SRP bits (rounded sign test),
      // per-band 4-bit bucket keys, capped in-bucket pairs OR'd across
      // bands, exact rounded-cosine verify
      "q_cosine_dups" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |ed AS (SELECT vec_id, v,
           |  unnest(generate_series(1, len(v))) AS d FROM e),
           |comp AS (SELECT vec_id, r.i AS i,
           |    sum(CASE WHEN (${ph("r.i || ',' || (d - 1)")}) & 1 = 1
           |      THEN v[d] ELSE -v[d] END) AS dot
           |  FROM ed CROSS JOIN range(16) r(i) GROUP BY 1, 2),
           |bits AS (SELECT vec_id, i,
           |  CASE WHEN round(dot, 6) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS b
           |FROM comp),
           |bk AS (SELECT vec_id, i // 4 AS band,
           |    CAST(sum(b * (1::BIGINT << CAST(i % 4 AS INT))) AS BIGINT) AS bucket
           |  FROM bits GROUP BY 1, 2),
           |rn AS (SELECT vec_id, band, bucket,
           |    row_number() OVER (PARTITION BY band, bucket
           |      ORDER BY vec_id) AS rn FROM bk),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM rn a JOIN rn b ON a.band = b.band AND a.bucket = b.bucket
           |    AND a.vec_id < b.vec_id
           |    AND ((a.rn <= 4096 AND b.rn <= 4096)
           |         OR (a.rn = 1 AND b.rn > 4096)))
           |SELECT id_a, id_b,
           |  round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
           |FROM cand JOIN e ea ON ea.vec_id = cand.id_a
           |JOIN e eb ON eb.vec_id = cand.id_b
           |WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4""".stripMargin,
      // the q_cosine_dups pair pipeline, then the same recursive-CTE
      // components + min-id survivor as q_dedup_clusters — mirrors
      // Similarity.cosineDupClusters (shared clustersFromPairs core)
      "q_cosine_clusters" ->
        s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |ed AS (SELECT vec_id, v,
           |  unnest(generate_series(1, len(v))) AS d FROM e),
           |comp AS (SELECT vec_id, r.i AS i,
           |    sum(CASE WHEN (${ph("r.i || ',' || (d - 1)")}) & 1 = 1
           |      THEN v[d] ELSE -v[d] END) AS dot
           |  FROM ed CROSS JOIN range(16) r(i) GROUP BY 1, 2),
           |bits AS (SELECT vec_id, i,
           |  CASE WHEN round(dot, 6) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS b
           |FROM comp),
           |bk AS (SELECT vec_id, i // 4 AS band,
           |    CAST(sum(b * (1::BIGINT << CAST(i % 4 AS INT))) AS BIGINT) AS bucket
           |  FROM bits GROUP BY 1, 2),
           |rn AS (SELECT vec_id, band, bucket,
           |    row_number() OVER (PARTITION BY band, bucket
           |      ORDER BY vec_id) AS rn FROM bk),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM rn a JOIN rn b ON a.band = b.band AND a.bucket = b.bucket
           |    AND a.vec_id < b.vec_id
           |    AND ((a.rn <= 4096 AND b.rn <= 4096)
           |         OR (a.rn = 1 AND b.rn > 4096))),
           |prs AS MATERIALIZED (SELECT id_a, id_b
           |  FROM cand JOIN e ea ON ea.vec_id = cand.id_a
           |  JOIN e eb ON eb.vec_id = cand.id_b
           |  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4),
           |sym AS (SELECT id_a AS src, id_b AS dst FROM prs
           |        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
           |reach AS (
           |  SELECT vec_id AS vid, vec_id AS comp FROM embeddings
           |  UNION
           |  SELECT s.dst AS vid, r.comp FROM reach r JOIN sym s ON r.vid = s.src
           |),
           |comps AS (SELECT vid, min(comp) AS comp FROM reach GROUP BY 1)
           |SELECT CAST(vid AS BIGINT) AS id, CAST(comp AS BIGINT) AS cluster,
           |  vid = comp AS is_survivor
           |FROM comps""".stripMargin,
      // mirrors Corpus.qualitySignals' defaults exactly: metrics rounded
      // to 6 decimals, keep applied to the ROUNDED values (inclusive
      // bounds both engines)
      "q_quality" ->
        """WITH tk AS (SELECT doc_id,
          |  string_split_regex(trim(lower(text)),'\s+') AS t FROM documents),
          |m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
          |  round(CAST(length(array_to_string(t, '')) AS DOUBLE)
          |    / len(t), 6) AS mean_word_len,
          |  round(CAST(len(list_distinct(t)) AS DOUBLE)
          |    / len(t), 6) AS distinct_word_frac FROM tk),
          |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2
          |    THEN [array_to_string(t, ' ')]
          |    ELSE list_transform(generate_series(1, len(t) - 1),
          |           i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM tk),
          |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
          |tb AS (SELECT doc_id,
          |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
          |FROM bgc GROUP BY 1)
          |SELECT m.doc_id, n_words, mean_word_len, distinct_word_frac,
          |  top_bigram_frac,
          |  (n_words >= 30 AND mean_word_len >= 4.3 AND mean_word_len <= 4.7
          |   AND distinct_word_frac >= 0.4 AND top_bigram_frac <= 0.05) AS keep
          |FROM m JOIN tb ON m.doc_id = tb.doc_id""".stripMargin,
      // mirrors q_repetition's planted line repetition and
      // Corpus.repetitionSignals: dup-line fractions count OCCURRENCES
      // in groups of size > 1; top-gram shares use the shingle
      // convention (docs shorter than n tokens yield one whole-text
      // gram); Spark SQL split (limit -1) and DuckDB string_split both
      // KEEP trailing empty fields, so line sets agree byte-for-byte
      "q_repetition" ->
        """WITH aug AS (SELECT doc_id, text
          |  || CASE WHEN doc_id % 4 = 0 THEN chr(10) || text ELSE '' END
          |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Repeated filler line'
          |       || chr(10) || 'Repeated filler line' ELSE '' END AS text2
          |FROM documents),
          |ln AS (SELECT doc_id, unnest(string_split(text2, chr(10))) AS line
          |  FROM aug),
          |lg AS (SELECT doc_id, line, count(*) AS c,
          |    CAST(length(line) AS BIGINT) AS l FROM ln GROUP BY 1, 2),
          |lm AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
          |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
          |    / sum(c), 6) AS dup_line_frac,
          |  round(CASE WHEN sum(c * l) = 0 THEN 0.0
          |    ELSE CAST(sum(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS DOUBLE)
          |      / sum(c * l) END, 6) AS dup_line_char_frac
          |  FROM lg GROUP BY 1),
          |tk AS (SELECT doc_id,
          |  string_split_regex(trim(lower(text2)),'\s+') AS t FROM aug),
          |g3 AS (SELECT doc_id, unnest(CASE WHEN len(t) < 3
          |    THEN [array_to_string(t, ' ')]
          |    ELSE list_transform(generate_series(1, len(t) - 2),
          |           i -> array_to_string(t[i:i+2], ' ')) END) AS g FROM tk),
          |t3 AS (SELECT doc_id,
          |    round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_3gram_frac
          |  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
          |  GROUP BY 1),
          |g4 AS (SELECT doc_id, unnest(CASE WHEN len(t) < 4
          |    THEN [array_to_string(t, ' ')]
          |    ELSE list_transform(generate_series(1, len(t) - 3),
          |           i -> array_to_string(t[i:i+3], ' ')) END) AS g FROM tk),
          |t4 AS (SELECT doc_id,
          |    round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_4gram_frac
          |  FROM (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT lm.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
          |  top_3gram_frac, top_4gram_frac,
          |  (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2
          |   AND top_3gram_frac <= 0.18 AND top_4gram_frac <= 0.16)
          |    AS keep_rep
          |FROM lm JOIN t3 USING (doc_id) JOIN t4 USING (doc_id)"""
          .stripMargin,
      // mirrors q_source_rep: the q_quality gate aggregated per source
      "q_source_rep" ->
        """WITH tk AS (SELECT doc_id, source,
          |  string_split_regex(trim(lower(text)),'\s+') AS t FROM documents),
          |m AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_words,
          |  round(CAST(length(array_to_string(t, '')) AS DOUBLE)
          |    / len(t), 6) AS mean_word_len,
          |  round(CAST(len(list_distinct(t)) AS DOUBLE)
          |    / len(t), 6) AS distinct_word_frac FROM tk),
          |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2
          |    THEN [array_to_string(t, ' ')]
          |    ELSE list_transform(generate_series(1, len(t) - 1),
          |           i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM tk),
          |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
          |tb AS (SELECT doc_id,
          |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
          |FROM bgc GROUP BY 1),
          |k AS (SELECT m.source, n_words,
          |  (n_words >= 30 AND mean_word_len >= 4.3 AND mean_word_len <= 4.7
          |   AND distinct_word_frac >= 0.4 AND top_bigram_frac <= 0.05)
          |    AS keep
          |FROM m JOIN tb ON m.doc_id = tb.doc_id),
          |sr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_frac,
          |  round(avg(CAST(n_words AS DOUBLE)), 6) AS mean_words
          |FROM k GROUP BY 1)
          |SELECT source, n_docs, keep_frac, mean_words,
          |  (keep_frac >= 0.25) AS keep_source
          |FROM sr""".stripMargin,
      // mirrors q_ngram_contam: distinct hashed 8-gram sets per train
      // doc, left-joined against the eval corpus's distinct gram set —
      // the portable hash rides the gram string exactly as in the other
      // sketch oracles
      "q_ngram_contam" ->
        s"""WITH trt AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)),'\\s+') AS t
           |  FROM documents WHERE doc_id % 5 <> 0),
           |evt AS (SELECT string_split_regex(trim(lower(text)),'\\s+') AS t
           |  FROM documents WHERE doc_id % 5 = 0),
           |trg AS (SELECT DISTINCT doc_id, ${ph("g")} AS gh FROM (
           |  SELECT doc_id, unnest(CASE WHEN len(t) < 8
           |    THEN [array_to_string(t, ' ')]
           |    ELSE list_transform(generate_series(1, len(t) - 7),
           |           i -> array_to_string(t[i:i+7], ' ')) END) AS g
           |  FROM trt)),
           |evg AS (SELECT DISTINCT ${ph("g")} AS gh FROM (
           |  SELECT unnest(CASE WHEN len(t) < 8
           |    THEN [array_to_string(t, ' ')]
           |    ELSE list_transform(generate_series(1, len(t) - 7),
           |           i -> array_to_string(t[i:i+7], ' ')) END) AS g
           |  FROM evt))
           |SELECT trg.doc_id,
           |  CAST(count(*) AS BIGINT) AS n_grams,
           |  CAST(count(evg.gh) AS BIGINT) AS n_hits,
           |  round(CAST(count(evg.gh) AS DOUBLE) / count(*), 6) AS hit_frac,
           |  (count(evg.gh) >= 1) AS contaminated
           |FROM trg LEFT JOIN evg ON trg.gh = evg.gh
           |GROUP BY 1""".stripMargin,
      // mirrors q_pii_redact's planted PII and Text.redactPii's
      // email-then-IP order; patterns are the RE2/Java common subset
      "q_pii_redact" ->
        """WITH aug AS (SELECT doc_id, text
          |  || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
          |       || CAST(doc_id AS VARCHAR) || '@example.com now'
          |     ELSE '' END
          |  || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.'
          |       || CAST(doc_id % 256 AS VARCHAR) || '.25 logged'
          |     ELSE '' END AS text2
          |FROM documents)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(text2,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          |    AS email_cnt,
          |  CAST(len(regexp_extract_all(text2,
          |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
          |    AS ip_cnt,
          |  sha256(regexp_replace(regexp_replace(text2,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'))
          |    AS red_sha
          |FROM aug""".stripMargin,
      // mirrors q_line_dedup's planted line structure and
      // Dedup.dropBoilerplateLines(minDocs=2): boilerplate = line hash in
      // >= 2 distinct docs; reassembly = surviving lines in order
      "q_line_dedup" ->
        s"""WITH aug AS (SELECT doc_id, text || chr(10)
           |    || 'License: synthetic corpus boilerplate v1'
           |    || CASE WHEN doc_id % 3 = 0
           |         THEN chr(10) || 'Footer: generated by graft'
           |       ELSE '' END AS text2
           |  FROM documents),
           |sp AS (SELECT doc_id, string_split(text2, chr(10)) AS ln FROM aug),
           |l AS (SELECT doc_id, i - 1 AS pos, ln[i] AS line FROM
           |  (SELECT doc_id, ln,
           |     unnest(generate_series(1, len(ln))) AS i FROM sp)),
           |lf AS (SELECT doc_id, pos, line, ${ph("line")} AS fp FROM l),
           |b AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM lf)
           |  GROUP BY fp HAVING count(*) >= 2),
           |m AS (SELECT lf.*, (b.fp IS NOT NULL) AS boiler
           |  FROM lf LEFT JOIN b ON lf.fp = b.fp)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           |  CAST(count(*) FILTER (boiler) AS BIGINT) AS n_dropped,
           |  sha256(coalesce(string_agg(line, chr(10) ORDER BY pos)
           |    FILTER (NOT boiler), '')) AS clean_sha
           |FROM m GROUP BY doc_id""".stripMargin,
      // mirrors Corpus.packIntoShards(nShards=8): shard and order key are
      // the portable hash of the id's string form; start_tok is the
      // exclusive running token sum per shard
      "q_pack_shards" ->
        s"""WITH b AS (SELECT doc_id,
           |  CAST(${ph("CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT) AS shard,
           |  ${ph("CAST(doc_id AS VARCHAR)")} AS hk,
           |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT)
           |    AS n_tokens
           |FROM documents)
           |SELECT doc_id, shard,
           |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hk, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    - n_tokens AS BIGINT) AS start_tok,
           |  n_tokens
           |FROM b""".stripMargin,
      // the q_quality and q_dedup_clusters oracle chains joined on doc
      // id: ship = keep AND is_survivor (CTE names are disjoint across
      // the two chains, so this is their literal concatenation)
      "q_clean_corpus" ->
        s"""WITH RECURSIVE tk AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS t FROM documents),
           |m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
           |  round(CAST(length(array_to_string(t, '')) AS DOUBLE)
           |    / len(t), 6) AS mean_word_len,
           |  round(CAST(len(list_distinct(t)) AS DOUBLE)
           |    / len(t), 6) AS distinct_word_frac FROM tk),
           |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2
           |    THEN [array_to_string(t, ' ')]
           |    ELSE list_transform(generate_series(1, len(t) - 1),
           |           i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM tk),
           |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
           |tb AS (SELECT doc_id,
           |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
           |FROM bgc GROUP BY 1),
           |q AS (SELECT m.doc_id,
           |  (n_words >= 30 AND mean_word_len >= 4.3 AND mean_word_len <= 4.7
           |   AND distinct_word_frac >= 0.4 AND top_bigram_frac <= 0.05)
           |    AS keep
           |FROM m JOIN tb ON m.doc_id = tb.doc_id),
           |tks AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)),'\\s+') AS tkn FROM documents),
           |shg AS MATERIALIZED (SELECT doc_id,
           |    list_distinct(CASE WHEN len(tkn) < 3
           |      THEN [array_to_string(tkn, ' ')]
           |      ELSE list_transform(generate_series(1, len(tkn) - 2),
           |             i -> array_to_string(tkn[i:i+2], ' ')) END) AS sh
           |  FROM tks),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM shg),
           |sig AS (SELECT doc_id, r.h AS h,
           |    min(${ph("s || '#' || r.h")}) AS mh
           |  FROM ex CROSS JOIN range(30) r(h) GROUP BY 1, 2),
           |bnd AS (SELECT doc_id, h // 3 AS b,
           |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY h) AS bs
           |  FROM sig GROUP BY 1, 2),
           |keys AS (SELECT doc_id, ${ph("bs || '#' || b")} AS band FROM bnd),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM keys a JOIN keys b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |jv AS (SELECT id_a, id_b,
           |    len(list_intersect(sa.sh, sb.sh)) AS i,
           |    len(sa.sh) + len(sb.sh)
           |      - len(list_intersect(sa.sh, sb.sh)) AS u
           |  FROM cand JOIN shg sa ON sa.doc_id = cand.id_a
           |  JOIN shg sb ON sb.doc_id = cand.id_b),
           |prs AS MATERIALIZED (SELECT id_a, id_b FROM jv
           |  WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.5),
           |sym AS (SELECT id_a AS src, id_b AS dst FROM prs
           |        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
           |reach AS (
           |  SELECT doc_id AS vid, doc_id AS comp FROM documents
           |  UNION
           |  SELECT s.dst AS vid, r.comp FROM reach r JOIN sym s ON r.vid = s.src
           |),
           |comps AS (SELECT vid, min(comp) AS comp FROM reach GROUP BY 1)
           |SELECT q.doc_id, (q.keep AND c.vid = c.comp) AS ship
           |FROM q JOIN comps c ON q.doc_id = c.vid""".stripMargin,
      // top-20 3-gram shingles by corpus frequency; ties broken by gram
      "q_top_ngrams" ->
        """WITH tk AS (SELECT
          |  string_split_regex(trim(lower(text)),'\s+') AS t FROM documents),
          |g AS (SELECT unnest(CASE WHEN len(t) < 3
          |    THEN [array_to_string(t, ' ')]
          |    ELSE list_transform(generate_series(1, len(t) - 2),
          |           i -> array_to_string(t[i:i+2], ' ')) END) AS gram FROM tk)
          |SELECT gram, count(*) AS cnt FROM g GROUP BY 1
          |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,
      // mirrors Corpus.splitAssign's 90/5/5 defaults over the portable
      // hash of the id's canonical string form (non-negative, so % = pmod)
      "q_split_assign" ->
        s"""SELECT doc_id,
           |  CAST(${ph("CAST(doc_id AS VARCHAR)")} % 100 AS BIGINT) AS bucket,
           |  CASE WHEN ${ph("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
           |       WHEN ${ph("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM documents""".stripMargin,
      // q_ivf_ann + ONE Lloyd refinement: assignment to the hash-sampled
      // centroids, then per-(centroid, dim) integer-quantized means
      // (round(x*1e6) BIGINT sums — order-free-exact, one float division
      // back), then the standard assign/probe/re-rank against the refined
      // centroids. Mirrors Similarity.refineCentroids bit for bit.
      "q_ivf_refined" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |c0 AS (SELECT vec_id AS cent, v AS cv FROM e
           |  ORDER BY ${ph("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
           |a0 AS (SELECT vec_id, v, cent FROM (
           |  SELECT e.vec_id, e.v, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN c0 c) WHERE rn = 1),
           |ad AS (SELECT cent, v,
           |  unnest(generate_series(1, len(v))) AS d FROM a0),
           |cm AS (SELECT cent, d,
           |    CAST(sum(CAST(round(v[d] * 1e6) AS BIGINT)) AS DOUBLE)
           |      / (1e6 * count(*)) AS m
           |  FROM ad GROUP BY 1, 2),
           |cents AS (SELECT cent, list(m ORDER BY d) AS cv FROM cm GROUP BY 1),
           |asg AS (SELECT vec_id, cent FROM (
           |  SELECT e.vec_id, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN cents c) WHERE rn = 1),
           |probes AS (SELECT vec_id AS query_id, cent FROM (
           |  SELECT e.vec_id, c.cent,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(-list_cosine_similarity(e.v, c.cv), 6),
           |               c.cent) AS rn
           |  FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 4),
           |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
           |  FROM probes p JOIN asg a ON a.cent = p.cent
           |  JOIN e qe ON qe.vec_id = p.query_id
           |  JOIN e ce ON ce.vec_id = a.vec_id
           |  WHERE a.vec_id <> p.query_id)
           |SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT query_id, neighbor_id,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
           |  FROM scored) WHERE rnk <= 5""".stripMargin,
      // sims are rounded to 6 decimals on BOTH sides before ranking:
      // raw float64 cosines differ in the last ulp across engines
      // (reduction order), which near a tie would flip row_number ranks
      "q_ann_cosine" ->
        """SELECT query_id, neighbor_id, rnk FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    CAST(row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(
          |        CAST(q.embedding AS DOUBLE[]),
          |        CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS BIGINT) AS rnk
          |  FROM embeddings q JOIN embeddings c
          |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id
          |) WHERE rnk <= 5""".stripMargin,
      // mirrors Multimodal.FakeDecoder + extractFeatures(frameStride=4)
      // exactly: bytes = utf8(text) (ASCII in this corpus, so ord() =
      // byte), w = max(1, trunc(sqrt(nb))), h = max(1, nb/w), histogram
      // over every 4th raster row, 16 bins of (byte >> 4)
      "q_media_features" ->
        """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS nb
          |           FROM documents),
          |dims AS (SELECT doc_id, text, nb,
          |  greatest(1, CAST(trunc(sqrt(CAST(nb AS DOUBLE))) AS BIGINT)) AS w FROM d),
          |dims2 AS (SELECT doc_id, text, nb, w, greatest(1, nb // w) AS h FROM dims),
          |rws AS (SELECT doc_id, text, nb, w,
          |        unnest(range(0, h, 4)) AS r FROM dims2),
          |px AS (SELECT doc_id, text, w, r,
          |       unnest(range(0, least(w, nb - r * w))) AS i FROM rws),
          |counts AS (
          |  SELECT doc_id,
          |         ord(substr(text, CAST(r * w + i + 1 AS INT), 1)) // 16 AS bin,
          |         count(*) AS c
          |  FROM px GROUP BY 1, 2),
          |bins AS (SELECT range AS bin FROM range(0, 16)),
          |hist AS (
          |  SELECT d.doc_id,
          |         string_agg(CAST(coalesce(c.c, 0) AS VARCHAR), ',' ORDER BY b.bin) AS hist
          |  FROM d CROSS JOIN bins b
          |  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.bin
          |  GROUP BY 1)
          |SELECT CAST(d.doc_id AS BIGINT) AS media_id, 'image' AS kind,
          |  d.nb AS num_bytes, dims2.w AS width, dims2.h AS height,
          |  hist.hist AS hist, CAST((dims2.h + 3) // 4 AS BIGINT) AS frames_sampled
          |FROM d JOIN dims2 USING (doc_id) JOIN hist USING (doc_id)""".stripMargin,
    )
  }
}

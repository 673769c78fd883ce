package graft

import graft.algos.{Hits, KCore, LabelProp, Ppr, Triangles, Wcc}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Internals

/** Cached inputs are planned from their cache leaf
  * (`Internals.cachedLeaf`): the leaf's shape, and every entry that
  * takes a caller's frame giving the same result, and caching nothing it
  * does not release, whether or not the caller persisted that frame.
  * Lazy results (cooccurrence) do not use the leaf: one evaluated after
  * its input is unpersisted would keep a copy of that cache alive.
  */
class CachedLeafSpec extends GraftSuite {

  /** PropertySpec's seeded random graphs, in the canonical form the
    * co-occurrence builder emits (src < dst, one row per pair).
    */
  private def graph(seed: Int): Seq[(Long, Long, Double)] = {
    val r = new scala.util.Random(seed)
    val n = 30 + r.nextInt(40)
    (1 to 150)
      .map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (a min b, a max b) }
      .distinct
      .map { case (a, b) => (a, b, 1.0 + r.nextInt(3).toDouble) }
  }

  /** Persistent RDDs that are not materialized local checkpoints, i.e.
    * caches. A kernel's per-round state checkpoints stay registered until
    * the context cleaner frees them on GC, on any input, so they are not
    * counted.
    */
  private def caches: Int =
    spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)

  /** `run` on `make()` as it is, then on a persisted copy: the results
    * must match, and the persisted call must leave as many cached RDDs
    * as it found.
    */
  private def sameOnCached[D <: Dataset[_], T](what: String)(make: () => D)(
      run: D => T,
  ): Unit = {
    val plain = run(make())
    val cached = make()
    cached.persist()
    cached.count()
    val before = caches
    val got = run(cached)
    assert(caches == before, s"$what changed the cached RDD count")
    cached.unpersist(true)
    assert(got == plain, s"$what differs on a persisted input")
  }

  /** A score to 1e-9: sums over shuffled blocks may differ in the last
    * bits from run to run.
    */
  private def near(x: Double): Long = math.round(x * 1e9)

  test("a cached input yields its InMemoryRelation with the input's output") {
    val ds = edgeDs(Fixtures.twoCliquesBridge).filter(col("weight") > 0)
    ds.persist()
    val leaf = Internals.cachedLeaf(ds)
    leaf.queryExecution.analyzed match {
      case r: InMemoryRelation =>
        assert(r.output == ds.queryExecution.analyzed.output)
      case other => fail(s"expected an InMemoryRelation, got\n$other")
    }
    // columns resolved against the input still resolve on the leaf, and
    // a frame derived from either optimizes to the same plan
    val viaLeaf = leaf.where(ds("src") > 3).select(ds("dst"))
    val viaInput = ds.where(ds("src") > 3).select(ds("dst"))
    assert(viaLeaf.queryExecution.optimizedPlan
      .sameResult(viaInput.queryExecution.optimizedPlan))
    assert(viaLeaf.collect().toSet == viaInput.collect().toSet)
    ds.unpersist(true)
  }

  test("an uncached input is returned as the same object") {
    val ds = edgeDs(Fixtures.path5)
    assert(Internals.cachedLeaf(ds) eq ds)
    val df = ds.toDF()
    assert(Internals.cachedLeaf(df) eq df)
  }

  test("kernels give the same results on persisted and unpersisted inputs") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 23)) {
      val g = graph(seed)
      val make = () => edgeDs(g)
      sameOnCached(s"triangles/$seed")(make) { e =>
        val t = Triangles.run(e, distinctCanonical = true)
        (t.global, t.perVertex.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
      }
      sameOnCached(s"triangles global/$seed")(make) { e =>
        Triangles.globalCount(e, distinctCanonical = true)
      }
      sameOnCached(s"wcc/$seed")(make) { e =>
        Wcc.run(e).comps.collect().map(c => c.vid -> c.comp).toMap
      }
      sameOnCached(s"wcc loop/$seed")(make) { e =>
        Wcc.run(e, driverMaxPairs = 0).comps.collect()
          .map(c => c.vid -> c.comp).toMap
      }
      sameOnCached(s"kcore/$seed")(make) { e =>
        KCore.run(e, 3, distinctCanonical = true)
          .core.select(col("vid")).as[Long].collect().toSet
      }
      sameOnCached(s"labelprop/$seed")(make) { e =>
        LabelProp.run(e, LpConfig(iterations = 4, distinctCanonical = true))
          .collect().map(l => l.vid -> l.label).toMap
      }
      sameOnCached(s"csr/$seed")(make) { e =>
        Superstep.withAqeOff(spark) {
          val adj = Csr.buildCut(e, 8, Csr.WeightMode.NormWeighted)
          adj.collect()
            .map(b => (b.src, b.salt, b.dsts.toSeq, b.weights.toSeq, b.uweight))
            .toSet
        }
      }
      // these two persist their input themselves and release only a
      // cache they made, never the caller's
      sameOnCached(s"hits/$seed")(make) { e =>
        Hits.run(e, 6).scores.collect()
          .map(x => x.getLong(0) -> (near(x.getDouble(1)), near(x.getDouble(2))))
          .toMap
      }
      sameOnCached(s"ppr/$seed")(make) { e =>
        Ppr.run(e, Seq(g.head._1).toDF("vid"), PrConfig(tol = 0.0, maxIter = 6))
          .ranks.collect().map(r => r.vid -> near(r.rank)).toMap
      }
      sameOnCached(s"cooccurrence/$seed")(() => relation(seed)) { rel =>
        cooc(EdgeBuilder.cooccurrence(rel, "grp", "vid", maxGroup = 8))
      }
    }
  }

  /** Seeded (grp, vid) membership with duplicates and groups above a
    * `maxGroup` of 8, so both the pair and the star path run.
    */
  private def relation(seed: Int): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    (1 to 300).map(_ => (r.nextInt(25).toLong, r.nextInt(60).toLong))
      .toDF("grp", "vid")
  }

  private def cooc(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet

  test("a cooccurrence result evaluated after rel.unpersist() is correct " +
    "and leaves no cache behind") {
    val want = cooc(EdgeBuilder.cooccurrence(relation(5), "grp", "vid", 8))
    val before = caches
    val rel = relation(5).persist()
    rel.count()
    val out = EdgeBuilder.cooccurrence(rel, "grp", "vid", 8).persist()
    rel.unpersist(true)
    assert(cooc(out) == want)
    out.unpersist(true)
    assert(caches == before, "a copy of rel's cache outlived both caches")
  }
}

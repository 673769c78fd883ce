package perfbench

import graft._
import graft.algos._
import graft.operators.{Corpus => CorpusOps, Dedup}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One timed operation: `run` is timed inside a span named after the
  * layer it calls; it returns the check, which runs untimed and yields
  * an error message when the output is wrong.
  */
final case class Op(layer: String, run: () => (() => Option[String]))

/** What one timed call left behind for the metrics. */
final case class OpOut(
    layer: String,
    span: Span,
    error: Option[String],
    extra: Map[String, Double],
)

/** A workload owns its seeded input, its Spark-side set-up and the list
  * of operations one pass runs. `extras` carries per-call figures the
  * engine returns (supersteps, rounds, pair counts) into the metrics.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  val extras = scala.collection.mutable.Map.empty[String, Double]
  def p: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Input sizes and digest, recorded with the result. */
  def inputs: Map[String, Any]

  /** Load the generated input into Spark; called several times, each call
    * replaces the previous load.
    */
  def setup(): Unit

  /** Operations of one pass, in the order every pass runs them. */
  def ops: Seq[Op]

  /** Release what one pass left cached for the next ones. */
  def endPass(): Unit = ()

  /** Release the loaded input. */
  def release(): Unit

  /** The workload's headline rate over its timed samples. */
  def headline(outs: Seq[OpOut]): Double

  protected def check(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)
}

/** The graph layer end to end on a heavy-tailed co-occurrence relation:
  * groups above the builder's cap collapse to star hubs, and a long chain
  * keeps Wcc running for many rounds. Each pass builds the edge table
  * and the CSR adjacency, then runs the iterative kernels on the edges.
  */
final class GraphWorkload(spark: SparkSession, seed: Long, shape: Gen.SkewShape)
    extends Workload(spark, seed) {
  import spark.implicits._
  private val rel = Gen.skewRelation(seed, shape)
  private lazy val ref = Ref.cooccurrence(rel, shape.maxGroup)
  private var relDf: DataFrame = _
  private var edges: Dataset[Edge] = _
  private val Supersteps = 10

  def inputs: Map[String, Any] = Map(
    "rows" -> rel.rows,
    "vertices" -> ref.vertices.length,
    "edges" -> ref.edges,
    "pair_bound" -> shape.pairBound,
    "largest_group" -> shape.sizes.max,
    "chain" -> shape.chain,
    "max_degree" -> ref.undirected.map(_.length).max,
    "input_digest" -> rel.digest,
  )

  def setup(): Unit = {
    release()
    relDf = rel.grp.indices.map(i => (rel.grp(i), rel.vid(i))).toDF("grp", "vid")
      .repartition(p).persist(StorageLevel.MEMORY_AND_DISK)
    relDf.count()
  }

  def release(): Unit = if (relDf != null) relDf.unpersist(true)

  /** PageRank with a fixed superstep count: ranks against the reference
    * power iteration. A pass runs it first and last, so the headline is
    * the median of two samples taken apart in time.
    */
  private def pageRank: Op =
    Op("pagerank", () => {
      val r = PageRank.run(
        edges, PrConfig(tol = -1.0, maxIter = Supersteps),
        onLoopStart = () => extras("pagerank.loop_start_us") = Clock.nowUs.toDouble)
      val ranks = r.ranks.collect()
      extras("pagerank.supersteps") = r.iterations.toDouble
      extras("pagerank.edges") = r.edgeCount.toDouble
      extras("pagerank.edges_per_s") = r.edgesPerSec
      extras("pagerank.round_s") = Stats.median(r.perIter.map(_.seconds))
      () => {
        val want = Ref.pagerank(ref, Supersteps)
        val got = ranks.map(x => ref.index(x.vid) -> x.rank)
        val sum = ranks.map(_.rank).sum
        val worst = got.map { case (i, v) => if (i < 0) 1.0 else math.abs(v - want(i)) }
          .foldLeft(0.0)(_ max _)
        check(r.iterations == Supersteps, s"pagerank ran ${r.iterations} supersteps")
          .orElse(check(ranks.length == ref.vertices.length,
            s"pagerank ranked ${ranks.length} of ${ref.vertices.length} vertices"))
          .orElse(check(math.abs(sum - 1) < 1e-9, s"pagerank ranks sum to $sum"))
          .orElse(check(worst < 1e-9, s"pagerank differs from reference by $worst"))
      }
    })

  def ops: Seq[Op] = Seq(
    Op("edgebuild", () => {
      edges = EdgeBuilder.cooccurrence(relDf, "grp", "vid")
        .select(col("src"), col("dst"), col("weight").cast("double"))
        .as[Edge]
        .persist(StorageLevel.MEMORY_AND_DISK)
      edges.count()
      () => {
        val d = Checks.edgeDigest(edges.toDF())
        extras("edgebuild.edges") = d.count.toDouble
        check(d == ref.digest, s"edge build digest $d, reference ${ref.digest}")
      }
    }),
    Op("csr", () => {
      // the adjacency declares its hash layout, which holds only with
      // adaptive execution off, as every kernel calls it
      val adj = Superstep.withAqeOff(spark) {
        Csr.buildCut(edges, p, Csr.WeightMode.NormUniform)
      }
      () => {
        val blocks = adj.count()
        val entries = Csr.edgeCount(adj)
        adj.unpersist(false)
        extras("csr.blocks") = blocks.toDouble
        extras("csr.entries") = entries.toDouble
        check(entries == ref.edges, s"csr packed $entries entries of ${ref.edges}")
      }
    }),
    pageRank,
    Op("labelprop", () => {
      val labels = LabelProp.run(edges, LpConfig(iterations = 3, distinctCanonical = true))
        .collect()
      () => {
        val want = Ref.labelProp(ref, 3)
        val bad = labels.count(l => ref.index(l.vid) < 0 || want(ref.index(l.vid)) != l.label)
        check(labels.length == ref.vertices.length,
          s"labelprop labelled ${labels.length} of ${ref.vertices.length}")
          .orElse(check(bad == 0, s"labelprop: $bad labels differ from reference"))
      }
    }),
    Op("kcore", () => {
      val core = KCore.run(edges, 3, distinctCanonical = true)
        .core.select(col("vid")).as[Long].collect().toSet
      () => {
        val want = Ref.kcore(ref, 3)
        check(core == want, s"kcore: ${core.size} vertices, reference ${want.size}")
      }
    }),
    Op("triangles", () => {
      val t = Triangles.run(edges, perVertex = false, distinctCanonical = true).global
      () => {
        val want = Ref.triangles(ref)
        check(t == want, s"triangles: $t, reference $want")
      }
    }),
    Op("wcc", () => {
      val r = Wcc.run(edges)
      val comps = r.comps.collect()
      extras("wcc.rounds") = r.iterations.toDouble
      () => {
        val want = Ref.wcc(ref)
        val bad = comps.count(c => ref.index(c.vid) < 0 || want(ref.index(c.vid)) != c.comp)
        check(comps.length == ref.vertices.length,
          s"wcc labelled ${comps.length} of ${ref.vertices.length} vertices")
          .orElse(check(bad == 0, s"wcc: $bad vertices in the wrong component"))
      }
    }),
    pageRank,
  )

  override def endPass(): Unit = if (edges != null) edges.unpersist(true)

  def headline(outs: Seq[OpOut]): Double =
    Stats.median(outs.filter(_.layer == "pagerank").map(_.extra("pagerank.edges_per_s")))
}

/** Training-data operator layer on a corpus with planted near-duplicates
  * and one block of identical documents.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, docCount: Int, block: Int)
    extends Workload(spark, seed) {
  import spark.implicits._
  private val corpus = Gen.corpus(seed, docs = docCount, block = block)
  private var docs: DataFrame = _
  private val n = corpus.ids.length
  private lazy val blockSet = corpus.block.toSet
  private lazy val plantedSet = corpus.planted.toSet

  /** Smallest planted-pair recall accepted: the bar DedupScaleBench
    * holds the full pipeline to (at least half of the planted duplicates
    * found).
    */
  val RecallBar = 0.5

  def inputs: Map[String, Any] = Map(
    "docs" -> n,
    "planted_pairs" -> corpus.planted.length,
    "identical_block" -> corpus.block.length,
    "input_digest" -> corpus.digest,
  )

  def release(): Unit = if (docs != null) docs.unpersist(true)

  def setup(): Unit = {
    release()
    docs = Superstep.cut(
      corpus.ids.indices.map(i => (corpus.ids(i), corpus.texts(i)))
        .toDF("doc_id", "text").repartition(p))
  }

  private def pairsOk(pairs: Array[(Long, Long)], what: String): Option[String] = {
    val found = pairs.toSet
    val stray = pairs.count(pr =>
      !plantedSet.contains(pr) && !(blockSet(pr._1) && blockSet(pr._2)))
    val blockPairs = pairs.count(pr => blockSet(pr._1) && blockSet(pr._2))
    val b = corpus.block.length
    check(pairs.forall { case (a, c) => a < c }, s"$what: unordered pair")
      .orElse(check(found.size == pairs.length, s"$what: duplicate pairs"))
      .orElse(check(stray == 0, s"$what: $stray pairs are neither planted nor identical"))
      .orElse(check(blockPairs == b * (b - 1) / 2,
        s"$what: $blockPairs of ${b * (b - 1) / 2} identical pairs"))
  }

  private def recall(pairs: Array[(Long, Long)]): Double =
    pairs.count(plantedSet).toDouble / corpus.planted.length

  def ops: Seq[Op] = Seq(
    Op("dedup", () => {
      val rows = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
        .select(col("id"), col("cluster"), col("is_survivor"))
        .as[(Long, Long, Boolean)].collect()
      () => {
        val cl = rows.map(r => r._1 -> r._2).toMap
        val rec = corpus.planted.count { case (a, b) => cl(a) == cl(b) }.toDouble /
          corpus.planted.length
        extras("dedup.recall") = rec
        val blockMin = corpus.block.min
        val wrong = rows.count { case (id, c, surv) =>
          val allowed =
            if (blockSet(id)) c == blockMin
            else c == id || (id % 10 == 9 && c == id - 1)
          !allowed || surv != (c == id)
        }
        check(rows.length == n && cl.size == n, s"dedup: ${rows.length} rows for $n docs")
          .orElse(check(wrong == 0, s"dedup: $wrong docs in an impossible cluster"))
          .orElse(check(rec >= RecallBar, s"dedup: planted recall $rec"))
      }
    }),
    Op("minhash", () => {
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
      () => {
        extras("dedup.pairs") = pairs.length.toDouble
        extras("minhash.recall") = recall(pairs)
        pairsOk(pairs, "minhash")
          .orElse(check(recall(pairs) >= RecallBar, s"minhash: planted recall ${recall(pairs)}"))
      }
    }),
    Op("simhash", () => {
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text")
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
      () => {
        extras("simhash.pairs") = pairs.length.toDouble
        extras("simhash.recall") = recall(pairs)
        pairsOk(pairs, "simhash")
      }
    }),
    Op("quality", () => {
      val rows = CorpusOps.qualitySignals(docs, "doc_id", "text")
        .select(col("id"), col("n_words"), col("distinct_word_frac"))
        .as[(Long, Long, Double)].collect()
      () => {
        val byId = corpus.ids.indices.map(i => corpus.ids(i) -> corpus.texts(i)).toMap
        val bad = rows.count { case (id, words, frac) =>
          val toks = byId(id).split(" ")
          val want = BigDecimal(toks.distinct.length.toDouble / toks.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          words != toks.length || math.abs(frac - want) > 1e-9
        }
        check(rows.length == n, s"quality: ${rows.length} rows for $n docs")
          .orElse(check(bad == 0, s"quality: $bad docs with wrong signals"))
      }
    }),
  )

  def headline(outs: Seq[OpOut]): Double =
    Stats.median(outs.filter(_.layer == "dedup").map(n / _.span.wallS))
}

/** Spark-side digests matching [[EdgeDigest]]. */
object Checks {
  def edgeDigest(edges: DataFrame): EdgeDigest = {
    val r = edges.agg(
      count(lit(1)),
      coalesce(sum(col("weight")), lit(0.0)),
      coalesce(sum(pmod(
        col("src") * 31 + col("dst") * 17 + col("weight").cast("long") * 13,
        lit(EdgeDigest.Modulus))), lit(0L)),
    ).head()
    EdgeDigest(r.getLong(0), r.getDouble(1), r.getLong(2))
  }
}

/** Epoch-microsecond clock shared by spans and engine callbacks. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

object Workloads {
  val names: Seq[String] = Seq("graph", "corpus-dedup")

  /** The workload, or with `warmup` a small instance of it: same code
    * paths and plan shapes on a tenth of the input, to compile and
    * JIT-warm everything before timing without paying a full pass.
    */
  def apply(name: String, spark: SparkSession, seed: Long, warmup: Boolean = false): Workload =
    name match {
    case "graph" => new GraphWorkload(spark, seed,
      if (warmup) Gen.SkewShape(vertices = 3000, groups = 300, maxSize = 60,
        hubs = Seq(1100), chain = 300)
      else Gen.SkewShape())
    case "corpus-dedup" =>
      if (warmup) new CorpusDedup(spark, seed, 1500, 50) else new CorpusDedup(spark, seed, 6000, 200)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }
}

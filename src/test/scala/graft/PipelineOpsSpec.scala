package graft

import graft.functions.{Hash64, Text}
import graft.operators.{Dedup, FakeDecoder, Multimodal, Similarity}
import graft.oracle.SketchRef
import graft.oracle.SketchRef.simhash64
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: dedup families, ANN, text analysis,
  * multimodal plumbing. Fixtures plant known duplicates/neighbors so
  * recall is checkable without external libs.
  */
class PipelineOpsSpec extends GraftSuite {
  import spark.implicits._

  private val baseText =
    "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while morning light slowly crosses the quiet valley floor"

  /** 20 distinct docs + 2 planted near-dup pairs + 1 exact dup pair. */
  private val docs: Seq[(Long, String, String)] = {
    val r = new scala.util.Random(7)
    val words = baseText.split(" ")
    val distinct = (0L until 20L).map { i =>
      val w = (0 until 25).map(_ => words(r.nextInt(words.length)) + r.nextInt(50))
      (i, w.mkString(" "), s"src${i % 3}")
    }
    val nearDup1 = (100L, baseText, "src0")
    val nearDup2 = (101L, baseText.replace("quick", "swift"), "src0")
    val nearDup3 = (102L, baseText + " extra tail words here", "src1")
    val exactA = (200L, "identical content here", "src2")
    val exactB = (201L, "identical content here", "src2")
    distinct ++ Seq(nearDup1, nearDup2, nearDup3, exactA, exactB)
  }

  private lazy val docsDf =
    docs.toDF("doc_id", "text", "source")

  test("exact dedup finds the planted exact pair, keeps min id") {
    val g = Dedup.exactGroups(docsDf, "doc_id", "text")
      .where(col("cnt") > 1).collect()
    assert(g.length == 1)
    assert(g.head.getLong(1) == 2 && g.head.getLong(2) == 200L)
  }

  test("minhash LSH finds planted near-dups, no false positives at 0.5") {
    val pairs = Dedup.minhashPairs(docsDf, "doc_id", "text",
        shingleLen = 3, numHashes = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"missed planted near-dup: $pairs")
    assert(pairs.contains((100L, 102L)), s"missed planted near-dup: $pairs")
    assert(pairs.contains((200L, 201L)), s"missed exact dup: $pairs")
    // the 20 random docs must not pair with each other
    assert(!pairs.exists { case (a, b) => a < 100 && b < 100 },
      s"false positive among random docs: $pairs")
  }

  test("near-dup clusters: transitive grouping + min-id survivors") {
    val rows = Dedup.nearDupClusters(docsDf, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(rows.size == docs.size, "one row per input doc")
    // 100-101 pair directly; 102 pairs with 100 — TRANSITIVITY must put
    // all three in cluster 100 even if (101,102) never paired directly
    assert(rows(100L) == ((100L, true)))
    assert(rows(101L) == ((100L, false)))
    assert(rows(102L) == ((100L, false)))
    assert(rows(200L) == ((200L, true)) && rows(201L) == ((200L, false)))
    // the 20 random docs are singleton survivors
    (0L until 20L).foreach(i => assert(rows(i) == ((i, true)), s"doc $i"))
  }

  test("lshParams: S-curve midpoint at or below the threshold") {
    // the round-1 bug: fixed r=4/b=8 has midpoint 0.59 — at threshold
    // 0.3 it silently missed ~94% of threshold-grazing pairs
    assert(Dedup.lshParams(32, 0.3) == ((2, 16)))
    assert(Dedup.lshParams(32, 0.5) == ((3, 10)))
    val cases = Seq((16, 0.2), (32, 0.3), (32, 0.5), (64, 0.7), (32, 0.9))
    cases.foreach { case (n, t) =>
      val (r, b) = Dedup.lshParams(n, t)
      assert(r * b <= n && b >= 1)
      assert(math.pow(1.0 / b, 1.0 / r) <= t,
        s"midpoint above threshold for ($n, $t) -> ($r, $b)")
    }
  }

  test("minhash LSH at threshold 0.3 finds a threshold-grazing j~0.38 pair") {
    // docs 300/301 share a 12-word prefix of 20 words: 10 shared
    // 3-shingles of 18 each -> jaccard 10/26 ~ 0.385. Round 1's fixed
    // r=4 banding found such a pair with probability ~0.08; the
    // threshold-derived r=2/b=16 finds it w.p. ~0.9 (deterministic here
    // given the seedless xxhash minhash).
    val words = (0 until 20).map(i => s"w$i")
    val grazeA = words.mkString(" ")
    val grazeB = (words.take(12) ++ (0 until 8).map(i => s"y$i")).mkString(" ")
    val df = (docs ++ Seq((300L, grazeA, "src0"), (301L, grazeB, "src0")))
      .toDF("doc_id", "text", "source")
    val got = Dedup.minhashPairs(df, "doc_id", "text",
        shingleLen = 3, numHashes = 32, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.contains((300L, 301L)), s"missed grazing pair: ${got.keySet}")
    val j = got((300L, 301L))
    assert(j > 0.3 && j < 0.45, s"unexpected jaccard $j")
  }

  test("simhash: hamming(near-dups) small, hamming(random) large; pairs complete") {
    val sigs = docsDf
      .select(col("doc_id"), simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(sigs(200L) == sigs(201L), "identical text -> identical simhash")
    assert(ham(100L, 101L) <= 10, s"near-dup hamming ${ham(100L, 101L)}")
    // candidate join with radius 3 must find exactly the pairs the
    // brute-force hamming check finds
    val got = Dedup.simhashPairs(docsDf, "doc_id", "text",
        maxHamming = 3, chunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- sigs.keys; b <- sigs.keys if a < b && ham(a, b) <= 3
    } yield (a, b)).toSet
    assert(got == want, s"got $got want $want")
  }

  test("portable hash matches DuckDB goldens (cross-engine pin)") {
    // goldens computed with DuckDB 1.0:
    //   SELECT ('0x' || substr(md5(s), 18, 15))::BIGINT
    // — this is THE contract that lets the driver oracle hash-check the
    // sketch pipelines; if Hash64.Portable drifts, this fails first
    val goldens = Seq(
      "a" -> 127114412207580769L,
      "hello world" -> 273350391345368515L,
      "tok#7" -> 814623608877174431L,
      "" -> 684557695775687294L,
      "42" -> 596182022165911718L,
      "-17" -> 706164602908648651L,
      "m1,m2,m3#4" -> 201886213106565511L,
      "ünïcode" -> 989715036083458596L,
    )
    val got = spark
      .createDataset(goldens.map(_._1))
      .select(Hash64.Portable.one(col("value")).as("h"))
      .collect()
      .map(_.getLong(0))
    assert(got.toSeq == goldens.map(_._2))
    // seeded + long forms route through the same string canon
    val seeded = spark.range(1)
      .select(
        Hash64.Portable.seeded(lit("tok"), 7).as("s"),
        Hash64.Portable.one(lit(42L)).as("l"),
        Hash64.Portable.one(lit(-17L)).as("n"),
      )
      .head()
    assert(seeded.getLong(0) == 814623608877174431L) // = hash("tok#7")
    assert(seeded.getLong(1) == 596182022165911718L) // = hash("42")
    assert(seeded.getLong(2) == 706164602908648651L) // = hash("-17")
  }

  test("codegen simhash signatures == per-row simhash64, both hash modes") {
    for (h <- Seq[Hash64](Hash64.Xx, Hash64.Portable)) {
      val fast = Dedup.simhashSignatures(docsDf, "doc_id", "text", h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = docsDf
        .select(col("doc_id"), simhash64(col("text"), h).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == slow, s"mode $h")
      if (h == Hash64.Portable)
        // 60-bit hash => bits 60..63 never get a positive vote
        assert(fast.values.forall(s => (s >>> 60) == 0L))
    }
    // empty / whitespace-only / NULL text must not drop out: a NULL-text
    // doc must come back with signature 0 (= simhash64(NULL), whose
    // per-bit `when` swallows the NULL), not vanish from the sweep
    val edge = Seq((1L, ""), (2L, "   "), (3L, null))
      .toDF("doc_id", "text")
    def sigMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))
      ).toMap
    val fastE = sigMap(
      Dedup.simhashSignatures(edge, "doc_id", "text").collect())
    val slowE = sigMap(edge
      .select(col("doc_id"), simhash64(col("text")).as("s"))
      .collect())
    assert(fastE == slowE && fastE.size == 3)
    assert(fastE(3L).contains(0L), "NULL text must yield signature 0")
  }

  test("scalar hashes == column hashes, both hash modes, seeds 0..63") {
    val r = new scala.util.Random(17)
    val alphabet = "abcxyz019 ,.#\tüïéñß€中"
    def rand(n: Int) =
      Seq.fill(n)(alphabet(r.nextInt(alphabet.length))).mkString
    val strings = Seq("", " ", "  \t\n ", "ünïcode", "a", "hello world",
      "tok#7", "42", "-17", "m1,m2,m3#4", "x" * 1024, rand(1024)) ++
      Seq.fill(30)(rand(r.nextInt(40)))
    val seeds = 0 until 64
    for (h <- Seq[Hash64](Hash64.Xx, Hash64.Portable)) {
      val want = strings.map(s => h.oneOf(s) +: seeds.map(h.seededOf(s)))
      // literal operands (folded on the driver) ...
      val lits = spark.range(1)
        .select(strings.flatMap(s =>
          h.one(lit(s)) +: seeds.map(k => h.seeded(lit(s), k))): _*)
        .head().toSeq.map(_.asInstanceOf[Long]).grouped(65).toSeq
      assert(lits == want, s"mode $h, literal operands")
      // ... and a column of rows (generated code), as the sketches read
      val rows = strings.toDF("s").repartition(2)
        .select(col("s") +: h.one(col("s")) +:
          seeds.map(k => h.seeded(col("s"), k)): _*)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(strings.map(rows) == want, s"mode $h, column operands")
    }
  }

  /** Sketch edge cases: NULL, empty, whitespace-only, short, repeated
    * and unicode text.
    */
  private lazy val edgeDocs = Seq[(Long, String)](
    (500L, null), (501L, ""), (502L, "  \t "), (503L, "two words"),
    (504L, "a b a b a b a b a"), (505L, "ünïcode wörds ärë hërë tóó"))
    .toDF("doc_id", "text")

  test("minhash band keys == explode + min + bandKeys reference, both modes") {
    val in = docsDf.select("doc_id", "text").unionByName(edgeDocs)
    for {
      h <- Seq[Hash64](Hash64.Xx, Hash64.Portable)
      threshold <- Seq(0.5, 0.3)
    } {
      val (r, b) = Dedup.lshParams(32, threshold)
      def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
      val got = sorted(Dedup.minhashBands(in, "doc_id", "text", 3, r, b, h)
        .select(col("id"), explode(col("bands"))))
      val want = sorted(
        SketchRef.minhashBands(in, "doc_id", "text", 3, r, b, h))
      assert(got == want, s"mode $h, threshold $threshold")
      // every doc with text has b keys; NULL text has none
      val perDoc = got.groupBy(_._1).map { case (id, ks) => id -> ks.size }
      assert(perDoc.size == docs.size + 5 && perDoc.values.forall(_ == b),
        s"mode $h: $perDoc")
    }
  }

  test("minhash pairs == array_intersect verify reference, both modes") {
    // plus a block of 30 identical docs: 435 pairs at jaccard 1.0
    val block = (600L until 630L)
      .map(i => (i, "one shared text for the whole identical block"))
      .toDF("doc_id", "text")
    val in = docsDf.select("doc_id", "text")
      .unionByName(edgeDocs).unionByName(block)
    for {
      h <- Seq[Hash64](Hash64.Xx, Hash64.Portable)
      threshold <- Seq(0.5, 0.3)
    } {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq.sorted
      val got = rows(Dedup.minhashPairs(in, "doc_id", "text", 3, 32,
        threshold, h))
      val want = rows(SketchRef.minhashPairs(in, "doc_id", "text", 3, 32,
        threshold, h))
      assert(got == want, s"mode $h, threshold $threshold")
      assert(got.count(p => p._1 >= 600L && p._3 == 1.0) == 435,
        s"mode $h, threshold $threshold")
      assert(got.exists(_._3 < 1.0), s"mode $h, threshold $threshold")
    }
  }

  test("quality signals == explode + groupBy bigram reference on edge docs") {
    import graft.operators.Corpus
    val in = docsDf.select("doc_id", "text").unionByName(edgeDocs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
      .toSeq.sortBy(_._1)
    val got = rows(Corpus.qualitySignals(in, "doc_id", "text",
      minWords = 20, meanWordLen = (3.0, 6.0), maxTopBigramFrac = 0.1))
    val want = rows(SketchRef.qualitySignals(in, "doc_id", "text",
      minWords = 20, meanWordLen = (3.0, 6.0), maxTopBigramFrac = 0.1))
    assert(got == want)
    // one row per doc with text; NULL text (500) has none
    assert(got.map(_._1) == (docs.map(_._1) ++ (501L to 505L)).sorted)
    assert(got.exists(_._6) && got.exists(!_._6))
  }

  test("minhash plans: no ArrayIntersect, no lambda function") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, LambdaFunction}
    val (r, b) = Dedup.lshParams(32, 0.5)
    for (df <- Seq(
      Dedup.minhashPairs(docsDf, "doc_id", "text"),
      Dedup.minhashBands(docsDf, "doc_id", "text", 3, r, b, Hash64.Xx),
    )) {
      val plan = df.queryExecution.optimizedPlan
      val found = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: ArrayIntersect => e
        case e: LambdaFunction => e
      }))
      assert(found.isEmpty, plan.toString)
    }
  }

  test("sketch plans: one minhash checkpoint, no simhash aggregate or join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.LogicalRDD
    val pairs = Dedup.minhashPairs(docsDf, "doc_id", "text")
    val cuts = pairs.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd.id }.distinct
    assert(cuts.size == 1, s"checkpoints read: $cuts")
    val sims = Dedup.simhashSignatures(docsDf, "doc_id", "text")
      .queryExecution.optimizedPlan
    assert(sims.collect { case a: Aggregate => a }.isEmpty, sims.toString)
    assert(sims.collect { case j: Join => j }.isEmpty, sims.toString)
  }

  test("jaccard block cap: all-pairs core + representative-only tail") {
    val block = (0L until 10L)
      .map(i => (i, s"tok$i common shared words", "big"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup
      .jaccardPairsWithin(block, "doc_id", "text", "source", maxBlock = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sorted
    // C(4,2) = 6 core pairs over ids 0..3, + 6 overflow ids (4..9) each
    // paired with the representative (min id 0) only
    val core = for { a <- 0L until 4L; b <- (a + 1) until 4L } yield (a, b)
    val tail = (4L until 10L).map(i => (0L, i))
    assert(pairs.toSeq == (core ++ tail).sorted)
    // default cap leaves small blocks untouched (hash-match contract)
    val uncapped = Dedup
      .jaccardPairsWithin(block, "doc_id", "text", "source")
      .count()
    assert(uncapped == 45) // C(10,2)
  }

  test("jaccard pairs: integer counts match plain-Scala set math") {
    val got = Dedup.jaccardPairsWithin(docsDf, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val byId = docs.map(d => d._1 -> d._2.toLowerCase.split("\\s+").toSet).toMap
    val bySrc = docs.groupBy(_._3)
    bySrc.values.foreach { grp =>
      for (a <- grp; b <- grp if a._1 < b._1) {
        val (i, u) = (
          byId(a._1).intersect(byId(b._1)).size.toLong,
          byId(a._1).union(byId(b._1)).size.toLong,
        )
        assert(got((a._1, b._1)) == ((i, u)), s"pair ${(a._1, b._1)}")
      }
    }
  }

  test("lang guess picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of a to house"),
      (2L, "der hund und die katze das ein haus"),
      (3L, "le chat et la maison les un chien"),
      (4L, "xyzzy plugh qwerty"),
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Text.langGuess(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "unknown"))
  }

  test("fingerprint is order- and multiplicity-insensitive") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha alpha"),
      (3L, "alpha beta delta"),
    ).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), Text.fingerprint(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  /** deterministic pseudo-embeddings: 3 clusters + planted neighbor. */
  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(11)
    (0L until 60L).map { i =>
      val centre = (i % 3).toInt
      val v = Array.tabulate(16) { d =>
        (if (d % 3 == centre) 1.0f else 0.0f) + (r.nextFloat() - 0.5f) * 0.2f
      }
      (i, v)
    }
  }

  test("brute-force cosine top-k: neighbors come from the same cluster") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity
      .bruteForceTopK(df, df.where(col("vec_id") < 3), "vec_id", "embedding", 5)
      .collect()
    assert(got.length == 15)
    got.foreach { r =>
      assert(r.getLong(0) % 3 == r.getLong(1) % 3,
        s"query ${r.getLong(0)} got cross-cluster neighbor ${r.getLong(1)}")
    }
  }

  test("LSH ANN: recall >= 0.8 vs brute force on clustered vectors") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 6)
    def pairs(x: Array[org.apache.spark.sql.Row]) =
      x.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity
      .bruteForceTopK(df, q, "vec_id", "embedding", 5).collect())
    val approx = pairs(Similarity
      .lshTopK(df, q, "vec_id", "embedding", 5, bandBits = 4).collect())
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("multi-probe LSH: recall >= single-probe, probes well-formed") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 6)
    def pairs(x: Array[org.apache.spark.sql.Row]) =
      x.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity
      .bruteForceTopK(df, q, "vec_id", "embedding", 5).collect())
    def recallAt(p: Int) = {
      val approx = pairs(Similarity
        .lshTopK(df, q, "vec_id", "embedding", 5, bandBits = 4,
          numProbes = p).collect())
      exact.intersect(approx).size.toDouble / exact.size
    }
    val r0 = recallAt(0)
    val r2 = recallAt(2)
    // flipping the two nearest-margin bits only ADDS probe buckets, so
    // the candidate set (and recall) is a superset of single-probe's
    assert(r2 >= r0, s"multi-probe recall $r2 < single-probe $r0")
    assert(r2 >= 0.9, s"recall $r2")
    // probe-key invariants: element 0 is the exact bucket, keys distinct,
    // each a single-bit flip of the exact bucket
    val probes = df
      .select(
        Similarity.srpBucket(col("embedding").cast("array<double>"), 4)
          .as("b"),
        Similarity.srpProbeBuckets(
          col("embedding").cast("array<double>"), 4, 2).as("ps"),
      )
      .collect()
    probes.foreach { r =>
      val b = r.getLong(0)
      val ps = r.getSeq[Long](1)
      assert(ps.length == 3 && ps.head == b && ps.distinct == ps)
      ps.tail.foreach { p =>
        assert(java.lang.Long.bitCount(b ^ p) == 1, s"probe $p vs $b")
      }
    }
    // each query's projections are computed once: the analyzed plan holds
    // one ArrayAggregate subtree per bound value (`dots`, `bucket`), not
    // one per use
    val aggNodes = df
      .select(Similarity.srpProbeBuckets(
        col("embedding").cast("array<double>"), 4, 2))
      .queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case a: ArrayAggregate => a }))
      .size
    assert(aggNodes == 2)
  }

  test("IVF ANN: recall >= 0.8 vs brute force on clustered vectors") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 6)
    def pairs(x: Array[org.apache.spark.sql.Row]) =
      x.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity
      .bruteForceTopK(df, q, "vec_id", "embedding", 5).collect())
    val approx = pairs(Similarity
      .ivfTopK(df, q, "vec_id", "embedding", 5, nlist = 8, nprobe = 4)
      .collect())
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF Lloyd refinement: recall holds, result deterministic") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 6)
    def pairs(x: Array[org.apache.spark.sql.Row]) =
      x.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity
      .bruteForceTopK(df, q, "vec_id", "embedding", 5).collect())
    def run() = Similarity
      .ivfTopK(df, q, "vec_id", "embedding", 5, nlist = 8, nprobe = 4,
        refineIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = run()
    val recall = exact.intersect(a.map(t => (t._1, t._2))).size.toDouble /
      exact.size
    assert(recall >= 0.8, s"refined recall $recall")
    assert(run() == a, "refinement must be run-to-run deterministic")
    // refinement moves centroids toward the 3 planted cluster modes: the
    // max inverted-list share must not get WORSE than the unrefined
    // hash-sample assignment (the list-balance hedge this exists for)
    def maxShare(iters: Int): Double = {
      val cents = (1 to iters).foldLeft(
        df.select(col("vec_id").as("cid_"),
            col("embedding").cast("array<double>").as("cvec"))
          .orderBy(graft.functions.Hash64.Xx.one(col("cid_")), col("cid_"))
          .limit(8)
          .select(col("cid_").as("cent"), col("cvec").as("centvec"))
      )((cs, _) => Similarity.refineCentroids(
        df.select(col("vec_id").as("cid_"),
          col("embedding").cast("array<double>").as("cvec")),
        cs, 6))
      val sizes = Similarity.assignToNearestCentroid(
          df.select(col("vec_id").as("cid_"),
            col("embedding").cast("array<double>").as("cvec")),
          "cid_", "cvec", cents, 6)
        .groupBy("cent").count().collect().map(_.getLong(1))
      sizes.max.toDouble / sizes.sum
    }
    val (s1, s0) = (maxShare(1), maxShare(0))
    assert(s1 <= s0 + 1e-9, s"refined max list share $s1 > unrefined $s0")
  }

  test("IVF with a single bucket degenerates to exact brute force") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = Similarity
      .ivfTopK(df, q, "vec_id", "embedding", 5, nlist = 1, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == exact)
  }

  test("IVF maxList bounds a degenerate all-identical-embedding list") {
    // every vector identical -> ONE centroid absorbs the whole corpus no
    // matter how many Lloyd rounds run; maxList must bound the scan
    val n = 500
    val same = (0L until n).map(i => (i, Array.fill(8)(0.25f)))
    val df = same.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    val got = Similarity
      .ivfTopK(df, q, "vec_id", "embedding", k = 5,
        nlist = 4, nprobe = 4, maxList = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // full k returned per query, and every scanned neighbor comes from
    // the 16 smallest ids (the deterministic cap survivors)
    assert(got.groupBy(_._1).forall(_._2.length == 5), got.mkString(","))
    got.foreach { case (_, nb, _) =>
      assert(nb < 16, s"neighbor $nb outside the capped list")
    }
    // and the cap actually limits per-list candidate volume: the capped
    // assignment carries exactly min(|list|, maxList) rows in total
    val c = df.select(col("vec_id").as("cid_"),
      col("embedding").cast("array<double>").as("cvec"))
    val cents = c
      .orderBy(graft.functions.Hash64.Xx.one(col("cid_")), col("cid_"))
      .limit(4)
      .select(col("cid_").as("cent"), col("cvec").as("centvec"))
    val asg = Similarity.assignToNearestCentroid(c, "cid_", "cvec", cents, 6)
    assert(asg.count() == n, "degenerate corpus must land in one list")
    assert(asg.select(col("cent")).distinct().count() == 1)
  }

  test("bpe-ish token count: letter runs, digit runs, single punct") {
    val df = Seq(
      (1L, "hello world42 foo-bar!"), // hello,world,42,foo,-,bar,! = 7
      (2L, ""),
      (3L, "a.b.c"), // a,.,b,.,c = 5
    ).toDF("doc_id", "text")
    val got = df
      .select(col("doc_id"), Text.bpeishTokenCount(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 7, 2L -> 0, 3L -> 5), s"got $got")
  }

  test("cosine near-dup candidates find planted near-identical vectors") {
    // two near-identical copies (0.1% jitter, cosine > 0.9999) planted
    // into the 3-cluster corpus; same-cluster strangers sit well below
    // the 0.999 threshold
    def jitter(v: Array[Float]): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) 1e-3f else -1e-3f) }
    val df = (vecs ++ Seq((100L, jitter(vecs(5)._2)), (101L, jitter(vecs(20)._2))))
      .toDF("vec_id", "embedding")
    val got = Similarity
      .cosineNearDupCandidates(df, "vec_id", "embedding",
        threshold = 0.999, bandBits = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.contains((5L, 100L)), s"missed planted dup: ${got.keySet}")
    assert(got.contains((20L, 101L)), s"missed planted dup: ${got.keySet}")
    got.foreach { case (pair, sim) =>
      assert(sim >= 0.999, s"pair $pair below threshold: $sim")
    }
  }

  test("duplicate spans: cross-doc + within-doc runs, exact offsets") {
    // doc 1: 4 unique + the 10-token shared run + 2 unique
    // doc 2: the shared run + 2 unique  -> one maximal span each
    // doc 3: all unique                 -> no spans
    // doc 4: a 4-token phrase repeated twice WITHIN the doc -> two spans
    // doc 5: shorter than k             -> no windows, no spans
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val phrase = "r0 r1 r2 r3"
    val df = Seq(
      (1L, s"u1 u2 u3 u4 $shared z1 z2"),
      (2L, s"$shared y1 y2"),
      (3L, (0 until 12).map(i => s"q$i").mkString(" ")),
      (4L, s"$phrase a b c $phrase"),
      (5L, "too short"),
    ).toDF("doc_id", "text")
    for (h <- Seq[Hash64](Hash64.Xx, Hash64.Portable)) {
      val got = Dedup.duplicateSpans(df, "doc_id", "text", k = 4, hash = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // doc 1 positions 4..10 duplicated (7 grams -> len 7+3), doc 2
      // positions 0..6; doc 4 grams at 0 and 7 (non-consecutive -> two
      // spans of exactly k)
      assert(got == Set(
        (1L, 4L, 10L),
        (2L, 0L, 10L),
        (4L, 0L, 4L),
        (4L, 7L, 4L),
      ), s"mode $h: got $got")
    }
  }

  test("duplicate spans: empty/null/whitespace docs yield no windows") {
    val df = Seq((1L, ""), (2L, null), (3L, "   "), (4L, "a b c d e"),
        (5L, "a b c d e"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // only the two identical 5-token docs share grams: positions 0..1
    // each -> one maximal span covering the whole doc
    assert(got == Set((4L, 0L, 5L), (5L, 0L, 5L)), s"got $got")
  }

  test("cosine near-dup: multi-band recall + per-bucket cap, no quadratic key") {
    def jitter(v: Array[Float]): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) 1e-3f else -1e-3f) }
    val df = (vecs ++ Seq((100L, jitter(vecs(5)._2)), (101L, jitter(vecs(20)._2))))
      .toDF("vec_id", "embedding")
    // multi-band OR: recall vs the brute-force >= threshold pair set
    val brute = {
      val c = df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      c.as("a").join(c.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"),
          Similarity.cosine(col("a.v"), col("b.v")).as("sim"))
        .where(col("sim") >= 0.999)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = Similarity
      .cosineNearDupCandidates(df, "vec_id", "embedding",
        threshold = 0.999, bandBits = 4, numBands = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(brute.subsetOf(got.keySet),
      s"multi-band missed ${brute.diff(got.keySet)}")
    got.foreach { case (pair, sim) =>
      assert(sim >= 0.999, s"pair $pair below threshold: $sim")
    }
    // per-bucket cap: 10 identical vectors land in one bucket in EVERY
    // band; maxBucket=4 -> C(4,2) core pairs + 6 overflow-vs-rep pairs,
    // identical across bands (dedup'd), never the 45 all-pairs
    val same = (0L until 10L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity
      .cosineNearDupCandidates(same, "vec_id", "embedding",
        threshold = 0.9, bandBits = 4, numBands = 3, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val core = for { a <- 0L until 4L; b <- (a + 1) until 4L } yield (a, b)
    val tail = (4L until 10L).map(i => (0L, i))
    assert(capped.toSeq == (core ++ tail).sorted, s"got ${capped.toSeq}")
  }

  test("stratified sample: exact quota, deterministic, subset of input") {
    import graft.operators.Corpus
    val df = (0L until 30L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    def run() = Corpus.stratifiedSample(df, "source", "doc_id", n = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = run()
    assert(got.count(_._2 == "a") == 5 && got.count(_._2 == "b") == 5)
    assert(run() == got, "sample must be run-to-run deterministic")
    val all = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.subsetOf(all))
    // a stratum smaller than n returns all its rows, no padding
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "source")
    assert(Corpus.stratifiedSample(tiny, "source", "doc_id", 5).count() == 2)
  }

  test("importance weights match the plain-Scala DSIR mirror; self-target is zero") {
    import graft.operators.Corpus
    def md5p(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(17, 32), 16)
    }
    val b = 64 // small bucket count so collisions are exercised
    val got = Corpus.importanceWeights(
      docsDf.where(pmod(col("doc_id"), lit(3)) =!= 0),
      docsDf.where(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text", buckets = b, hash = Hash64.Portable,
    ).collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    def grams(text: String): Seq[String] = {
      val tk = text.trim.toLowerCase.split("\\s+").toSeq
      val bi =
        if (tk.length < 2) Seq(tk.mkString(" "))
        else tk.sliding(2).map(_.mkString(" ")).toSeq
      tk ++ bi
    }
    def bucket(g: String): Long = md5p(g) % b
    val rawPer = docs.filter(_._1 % 3 != 0)
      .map(d => d._1 -> grams(d._2).map(bucket)).toMap
    val tcnt = docs.filter(_._1 % 3 == 0).flatMap(d => grams(d._2))
      .groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val rcnt = rawPer.values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val tTot = tcnt.values.sum
    val rTot = rcnt.values.sum
    def w(bk: Long): Long = math.round(math.log(
      ((tcnt.getOrElse(bk, 0L) + 1).toDouble / (tTot + b).toDouble)
        / ((rcnt(bk) + 1).toDouble / (rTot + b).toDouble)) * 1e6)
    val want = rawPer.map { case (id, bs) =>
      id -> (bs.size.toLong, bs.map(w).sum)
    }
    assert(got == want)
    // raw == target: every bucket's smoothed ratio is exactly 1.0
    // (identical counts, identical divisions), so ln is exactly 0
    Corpus.importanceWeights(
      docsDf, docsDf, "doc_id", "text", buckets = b, hash = Hash64.Portable,
    ).collect().foreach(r => assert(r.getLong(2) == 0L, s"doc ${r.get(0)}"))
  }

  test("bigram-LM scores match the plain-Scala mirror; empty target is uniform") {
    import graft.operators.Corpus
    def md5p(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(17, 32), 16)
    }
    val b = 32 // small vocab hash so pair collisions are exercised
    val thr = 3400000L
    val got = Corpus.bigramLmScore(
      docsDf.where(pmod(col("doc_id"), lit(3)) =!= 0),
      docsDf.where(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text", buckets = b, thresholdNllE6 = thr,
      hash = Hash64.Portable,
    ).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap

    def bigrams(text: String): Seq[(Long, Long)] = {
      val tk = text.trim.toLowerCase.split("\\s+").toSeq
      if (tk.length < 2) Seq.empty
      else tk.sliding(2).map(p => (md5p(p(0)) % b, md5p(p(1)) % b)).toSeq
    }
    val tgtBg = docs.filter(_._1 % 3 == 0).flatMap(d => bigrams(d._2))
    val tp = tgtBg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tc = tgtBg.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def w(pair: (Long, Long)): Long = -math.round(math.log(
      (tp.getOrElse(pair, 0L) + 1).toDouble
        / (tc.getOrElse(pair._1, 0L) + b).toDouble) * 1e6)
    val want = docs.filter(_._1 % 3 != 0)
      .map(d => d._1 -> bigrams(d._2))
      .filter(_._2.nonEmpty)
      .map { case (id, bs) =>
        val nll = bs.map(w).sum
        id -> ((bs.size.toLong, nll, nll <= thr * bs.size))
      }.toMap
    assert(got == want)
    // both keep outcomes must be exercised by the fixture
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
    // empty target: every pair scores the uniform −ln(1/b), so
    // nll_e6 == n_bigrams · round(ln(b)·1e6) exactly
    val uniform = math.round(math.log(b.toDouble) * 1e6)
    Corpus.bigramLmScore(
      docsDf, docsDf.limit(0), "doc_id", "text", buckets = b,
      thresholdNllE6 = thr, hash = Hash64.Portable,
    ).collect().foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * uniform, s"doc ${r.get(0)}")
    }
  }

  test("tf-idf top terms match hand-computed scores and ranks") {
    import graft.operators.Corpus
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian"),
    ).toDF("doc_id", "text")
    val got = Corpus.tfidfTopTerms(df, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        (r.getString(1), r.getLong(2), r.getDouble(3)))
      .toMap
    def s(tf: Long, df_ : Long) =
      BigDecimal(tf * math.log(3.0 / df_))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert(got((1L, 1L)) == (("apple", 2L, s(2, 1))))
    assert(got((1L, 2L)) == (("banana", 1L, s(1, 2))))
    // doc 2: cherry (df=1) beats banana (df=2)
    assert(got((2L, 1L)) == (("cherry", 1L, s(1, 1))))
    assert(got((2L, 2L)) == (("banana", 1L, s(1, 2))))
    // doc 3: only durian
    assert(got((3L, 1L)) == (("durian", 3L, s(3, 1))))
    assert(got.size == 5)
  }

  test("multimodal plumbing: deterministic fake decode, exact features") {
    val media = Multimodal.fromText(
      Seq((1L, "abcdefghij"), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text", "image")
    val feats = Multimodal.extractFeatures(media, FakeDecoder, frameStride = 2)
      .collect().map(f => f.media_id -> f).toMap
    val f1 = feats(1L)
    assert(f1.num_bytes == 10 && f1.width == 3 && f1.height == 3)
    assert(f1.frames_sampled == 2) // rows 0 and 2 of a 3-row raster
    assert(f1.brightness_histogram.sum == 6) // 2 sampled rows x width 3
    // 'a'..'f' are 0x61..0x66 -> all in bin 6
    assert(f1.brightness_histogram(6) == 6)
    assert(feats(2L).num_bytes == 0)
  }

  test("as-of join: <= boundary, no-match nulls, latest-wins semantics") {
    import graft.operators.Relational
    val right = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 50L, 200L))
      .toDF("rk", "rt", "rid")
    val left = Seq((1L, 5L), (1L, 10L), (1L, 25L), (2L, 49L), (2L, 50L),
        (3L, 100L))
      .toDF("lk", "lt")
    val got = Relational.asofJoin(left, right, "lk", "lt", "rk", "rt")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap
    assert(got == Map(
      (1L, 5L) -> None,        // before any right row
      (1L, 10L) -> Some(100L), // equal ts matches (<= semantics)
      (1L, 25L) -> Some(101L), // latest at-or-before wins
      (2L, 49L) -> None,
      (2L, 50L) -> Some(200L),
      (3L, 100L) -> None,      // key absent from the right side
    ), s"got $got")
  }

  test("bucketed as-of join == plain as-of join (hot key, boundaries, no-match)") {
    import graft.operators.Relational
    val r = new scala.util.Random(13)
    // key 1 is HOT (most of both sides); keys 2..5 sparse; key 6 appears
    // only on the left (null-match path); right ts hits bucket boundaries
    // (multiples of 10) so the carry-in vs within-bucket split is exercised
    val right = ((0 until 200).map(_ =>
        (r.nextInt(5).toLong + 1, r.nextInt(30).toLong * 10)) ++
        (0 until 200).map(_ => (1L, r.nextInt(300).toLong)))
      .distinct.zipWithIndex
      .map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("rk", "rt", "rid")
    val left = ((0 until 300).map(_ => (1L, r.nextInt(320).toLong)) ++
        (0 until 100).map(_ => (r.nextInt(6).toLong + 1, r.nextInt(320).toLong)))
      .zipWithIndex
      .map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("lk", "lt", "lid")
    val plain = Relational
      .asofJoin(left, right, "lk", "lt", "rk", "rt")
      .collect().map(_.toSeq).toSet
    val bucketed = Relational
      .asofJoinBucketed(left, right, "lk", "lt", "rk", "rt",
        ts => floor(ts / 10))
      .collect().map(_.toSeq).toSet
    assert(bucketed == plain,
      s"only-plain=${plain.diff(bucketed).take(3)} " +
        s"only-bucketed=${bucketed.diff(plain).take(3)}")
  }

  test("bucketed as-of: NULL right payload never chimeras with carry-in") {
    import graft.operators.Relational
    // the within-bucket match (t=15) has a NULL payload; the carry-in
    // bucket holds an older row (t=5, payload 7). A field-wise coalesce
    // would emit t=15's keys with t=5's payload — the struct-level
    // coalesce must return the t=15 row with its NULL intact.
    val right = Seq((1L, 5L, Option(7L)), (1L, 15L, Option.empty[Long]))
      .toDF("rk", "rt", "rid")
    val left = Seq((1L, 18L)).toDF("lk", "lt")
    val got = Relational
      .asofJoinBucketed(left, right, "lk", "lt", "rk", "rt",
        ts => floor(ts / 10))
      .collect().head
    assert(got.getLong(3) == 15L, s"wrong match: $got")
    assert(got.isNullAt(4), s"chimera payload: $got")
  }

  test("latestPerKeyTs keeps exactly the max-tie row per (key, ts)") {
    import graft.operators.Relational
    val df = Seq((1L, 10L, 7L), (1L, 10L, 9L), (1L, 11L, 1L), (2L, 10L, 3L))
      .toDF("k", "t", "id")
    val got = Relational.latestPerKeyTs(df, "k", "t", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 9L), (1L, 11L, 1L), (2L, 10L, 3L)))
  }

  test("generic cooccurrence operator: capped, weighted, oriented") {
    val rel = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L))
      .toDF("grp", "item")
    val e = EdgeBuilder.cooccurrence(rel, "grp", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("quality signals match hand-computed metrics and keep flag") {
    import graft.operators.Corpus
    val df = Seq(
      (1L, "aa bb aa bb aa"), // 5 words, mwl 2, dwf 0.4, top bigram 2/4
      (2L, "one two three four five six"), // all distinct, tb 1/5
    ).toDF("doc_id", "text")
    val got = Corpus.qualitySignals(df, "doc_id", "text",
      minWords = 5, meanWordLen = (2.0, 4.0), minDistinctFrac = 0.5,
      maxTopBigramFrac = 0.3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5)))
      .toMap
    assert(got(1L) == ((5L, 2.0, 0.4, 0.5, false))) // dwf 0.4 < 0.5
    assert(got(2L) == ((6L, 3.666667, 1.0, 0.2, true)))
  }

  test("repetition signals match hand-computed fractions and keep flag") {
    import graft.operators.Corpus
    val df = Seq(
      // lines: "aa bb" x2 + "cc dd" -> dup_line_frac 2/3, char frac 10/15;
      // 6 tokens -> 4 distinct 3-grams (top 1/4), 3 distinct 4-grams
      (1L, "aa bb\naa bb\ncc dd"),
      // one line, all-distinct tokens: 2 3-grams (top 1/2), 1 4-gram
      (2L, "xx yy zz ww"),
      // alternating tokens: 6 3-grams, top "a b a" x3 -> 0.5; 5 4-grams,
      // top "a b a b" x3 -> 0.6; no line repetition
      (3L, "a b a b a b a b"),
    ).toDF("doc_id", "text")
    val got = Corpus.repetitionSignals(df, "doc_id", "text",
      maxDupLineFrac = 0.7, maxDupLineCharFrac = 0.7,
      maxTop3gramFrac = 0.5, maxTop4gramFrac = 0.7)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6)))
      .toMap
    assert(got(1L) ==
      ((3L, 0.666667, 0.666667, 0.25, 0.333333, true)))
    assert(got(2L) == ((1L, 0.0, 0.0, 0.5, 1.0, false))) // 4-gram 1.0 > 0.7
    assert(got(3L) == ((1L, 0.0, 0.0, 0.5, 0.6, true)))
  }

  test("ngram contamination flags verbatim fragments, not whole docs") {
    // train 1 embeds ONE eval 4-gram inside otherwise-unrelated text —
    // exactly the leak the whole-doc Jaccard variant cannot see
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words with no overlap present here"),
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      (9L, "question says beta gamma delta epsilon answer is four"),
    ).toDF("doc_id", "text")
    def run(bcast: Boolean) = Dedup.ngramContamination(
      train, evalDocs, "doc_id", "text", n = 4, broadcastEval = bcast)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    val got = run(bcast = true)
    assert(got(1L) == ((5L, 1L, 0.2, true)), s"$got")
    assert(got(2L) == ((5L, 0L, 0.0, false)), s"$got")
    assert(run(bcast = false) == got, "shuffled-join path must agree")
  }

  test("pii: counts and redaction handle email-vs-ip precedence") {
    val df = Seq(
      (1L, "mail a.user@example.com and host 10.1.2.3 end"),
      (2L, "odd a@1.2.3.4 case"), // no alpha TLD: IP, not email
      (3L, "clean text"),
    ).toDF("doc_id", "text")
    val got = df.select(
      col("doc_id"),
      Text.piiCount(col("text"), Text.EmailPattern).as("e"),
      Text.piiCount(col("text"), Text.Ipv4Pattern).as("i"),
      Text.redactPii(col("text")).as("red"),
    ).collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L) == ((1, 1, "mail <EMAIL> and host <IP> end")))
    assert(got(2L) == ((0, 1, "odd a@<IP> case")))
    assert(got(3L) == ((0, 0, "clean text")))
  }

  test("boilerplate line removal drops shared lines, keeps unique ones") {
    val footer = "License: shared footer"
    val df = Seq(
      (1L, s"alpha body one\n$footer"),
      (2L, s"beta body two\n$footer\nbeta only line"),
      (3L, "gamma stands alone"),
    ).toDF("doc_id", "text")
    val got = Dedup.dropBoilerplateLines(df, "doc_id", "text", minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    def sha(s: String) =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((2L, 1L, sha("alpha body one"))))
    assert(got(2L) == ((3L, 1L, sha("beta body two\nbeta only line"))))
    assert(got(3L) == ((1L, 0L, sha("gamma stands alone"))))
  }

  test("cosine dup clusters: transitive grouping, min-id survivor") {
    // 0,1,2 identical; 3 orthogonal-ish; singleton stays its own cluster
    val v = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val w = Array.tabulate(8)(i => if (i == 7) 1.0f else 0.0f)
    val df = Seq((0L, v), (1L, v), (2L, v), (3L, w))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineDupClusters(df, "vec_id", "embedding",
      threshold = 0.99, bandBits = 4, numBands = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got == Map(
      0L -> ((0L, true)), 1L -> ((0L, false)), 2L -> ((0L, false)),
      3L -> ((3L, true))))
  }

  test("clustersFromPairs: transitive clusters, min-id survivor, singletons") {
    import graft.operators.Dedup
    val uni = (0L until 12L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 1L))
      .toDF("id_a", "id_b")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val got = norm(Dedup.clustersFromPairs(uni, pairs))
    // {1,2,3,10} -> 1, {5,6} -> 5, the rest are surviving singletons
    assert(got((1L, 1L, true)) && got((10L, 1L, false)) &&
      got((3L, 1L, false)) && got((5L, 5L, true)) &&
      got((6L, 5L, false)) && got((0L, 0L, true)) &&
      got((11L, 11L, true)))
  }

  test("contamination reports only cross-corpus pairs, ids mapped back") {
    // train: 100/101 near-dups of each other AND of eval 900; train 102
    // matches nothing in eval
    val train = Seq(
      (100L, baseText),
      (101L, baseText.replace("quick", "swift")),
      (102L, "completely unrelated words about machinery and gears"),
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      (900L, baseText + " tail"),
      (901L, "different benchmark prompt entirely about astronomy"),
    ).toDF("doc_id", "text")
    val got = Dedup.crossCorpusContamination(train, evalDocs,
      "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 900L)), s"missed planted leak: $got")
    // no same-side pair may surface, and ids must be the originals
    got.foreach { case (tid, eid) =>
      assert(Set(100L, 101L, 102L)(tid) && Set(900L, 901L)(eid),
        s"bad pair ($tid, $eid)")
    }
    assert(!got.exists(_._2 == 901L), "unrelated eval doc flagged")
  }

  test("packing layout tiles each shard gaplessly from offset zero") {
    import graft.operators.Corpus
    val df = (0L until 40L).map(i => (i, ("w " * (i % 5 + 1).toInt).trim))
      .toDF("doc_id", "text")
    def run() = Corpus.packIntoShards(df, "doc_id", "text", nShards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = run()
    assert(got.map(_._1).distinct.length == 40)
    assert(run().sorted.toSeq == got.sorted.toSeq, "layout must be stable")
    got.groupBy(_._2).foreach { case (sh, rows) =>
      var expect = 0L
      rows.sortBy(_._3).foreach { case (_, _, st, nt) =>
        assert(st == expect, s"shard $sh: start $st, expected $expect")
        expect += nt
      }
    }
  }

  test("split assignment: deterministic partition with in-band buckets") {
    import graft.operators.Corpus
    val df = (0L until 200L).toDF("doc_id")
    def run() = Corpus.splitAssign(df, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val got = run()
    assert(got.length == 200 && got.map(_._1).distinct.length == 200)
    assert(run().toSeq == got.toSeq, "split must be run-to-run stable")
    got.foreach { case (id, b, s) =>
      assert(b >= 0 && b < 100, s"bucket $b out of range for $id")
      val expect = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(s == expect, s"id $id bucket $b got $s")
    }
    // custom weights: last band is the catch-all
    val two = Corpus.splitAssign(df, "doc_id", Seq("a" -> 1, "b" -> 1))
      .collect().map(r => (r.getLong(1), r.getString(2)))
    two.foreach { case (b, s) => assert(s == (if (b < 1) "a" else "b")) }
  }

  // q_quantiles_approx accuracy contract (the query has no DuckDB oracle:
  // Spark's approx_percentile is a Greenwald-Khanna summary, DuckDB's
  // approx_quantile a t-digest — different sketches, different
  // interpolations, not bit-portable by construction). The GK guarantee
  // at accuracy A is RANK error <= n/A: the returned value's rank must
  // land within [p·n − n/A − 1, p·n + n/A + 1]. Verified on a skewed
  // seeded distribution large enough that the sketch actually compresses.
  test("approx_percentile honors the GK rank-error bound on skewed data") {
    val r = new scala.util.Random(13)
    val n = 100000
    val xs = Array.fill(n)(math.pow(r.nextDouble(), 4) * 1000.0)
    val df = xs.toSeq.toDF("x")
    val acc = 10000
    val sorted = xs.sorted
    Seq(0.5, 0.9, 0.99).foreach { p =>
      val v = df
        .agg(expr(s"approx_percentile(x, $p, $acc)"))
        .head().getDouble(0)
      val rank = sorted.count(_ <= v).toDouble
      val slack = n.toDouble / acc + 1
      assert(
        rank >= p * n - slack && rank <= p * n + slack,
        s"p=$p: value $v has rank $rank, want ${p * n} +/- $slack",
      )
    }
    // determinism within one engine/partitioning: the driver's
    // rows-only check re-runs the query, so re-evaluation must agree
    val q = SparkEntry.queries("q_quantiles_approx")
    val dir = {
      // synthesize a tiny lineitem-shaped table instead of reading
      // /root/testdata from a spec: quantiles only need 2 columns
      val tmp = java.nio.file.Files.createTempDirectory("qapprox").toString
      (0 until 5000)
        .map(i => (if (i % 3 == 0) "A" else "N", (i % 50) + 1.0))
        .toDF("l_returnflag", "l_quantity")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      tmp
    }
    val a = q(spark, dir).collect().map(_.toString).sorted
    val b = q(spark, dir).collect().map(_.toString).sorted
    assert(a.sameElements(b), "approx quantiles must be re-run stable")
  }
}

package graft.operators

import graft.Superstep
import graft.functions.{Hash64, Text}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  ArrayType, DoubleType, LongType, StringType, StructField, StructType}

/** Deduplication operators for the training-data pipeline layer.
  *
  * Four families (exact, MinHash+LSH, SimHash, token-set Jaccard), all
  * deterministic, all built-in expressions but three row-wise task
  * passes: the two per-doc sketches (shingles through
  * [[Text.shinglesOf]], hashes through [[Hash64]]'s scalar forms) and
  * the minhash Jaccard verify (one merge of two sorted shingle sets).
  * The LSH variants are the 100 TB designs: no stage is all-pairs over
  * the corpus — candidates come from equality joins on band/chunk keys,
  * so cost scales with the duplicate density, not |C|².
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct sha with the
    * multiplicity and the deterministic survivor (min id).
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("sha"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col(idCol)).as("keep_id"),
      )

  /** (rowsPerBand, bands) for a target Jaccard threshold: the LARGEST r
    * (fewest false candidates) whose S-curve midpoint (1/b)^(1/r) stays at
    * or below the threshold, with b = numHashes / r bands. Midpoint ≤ t
    * guarantees candidate recall ≥ 1 - 1/e at j = t, climbing steeply
    * above it; a too-large r (e.g. r=4/b=8 at t=0.3) would silently drop
    * ~94% of threshold-grazing pairs.
    */
  def lshParams(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 1, "numHashes >= 1")
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val fit = (numHashes to 1 by -1).iterator
      .map(r => (r, numHashes / r))
      .filter { case (_, b) => b >= 1 }
      .find { case (r, b) => math.pow(1.0 / b, 1.0 / r) <= threshold }
    fit.getOrElse((1, numHashes)) // r=1: max recall, max candidates
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle(n-gram) → band keys (banding derived from the threshold via
    * [[lshParams]]; see [[minhashBands]]) → explode → ids-only self-join
    * on band key → distinct pairs → exact Jaccard verify (shingle sets
    * re-joined per side — the wide arrays never ride the candidate
    * shuffle — and their sorted intersection counted in the task).
    * Returns (id_a, id_b, jaccard), id_a < id_b, with jaccard =
    * |a ∩ b| / |a ∪ b| as a double.
    *
    * Recall contract: the verify step makes precision exact (only pairs
    * with jaccard >= threshold are returned), while LSH banding makes
    * recall probabilistic: a qualifying pair is a candidate with
    * probability 1-(1-j^r)^b — at j = threshold that is >= 1-1/e by the
    * [[lshParams]] choice, and approaches 1 rapidly for j above it.
    *
    * Sketches are per input row, so ids must be unique (see
    * [[minhashBands]]).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      threshold: Double = 0.5,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    val (rowsPerBand, bands) = lshParams(numHashes, threshold)
    // materialized ONCE (eager cut): read four times downstream — the
    // band explode of each self-join side plus one verify fetch per pair
    // side
    val sketched = Superstep.cut(
      minhashBands(docs, idCol, textCol, shingleLen, rowsPerBand, bands,
        hash))
    val banded = sketched.select(col("id"), explode(col("bands")).as("band"))
    val sh = sketched.select(col("id"), col("sh"))
    val cand = banded.as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"),
      )
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select("id_a", "id_b", "sh_a", "sh_b")
    // the verify runs in the task: both shingle sets are sorted
    // (minhashBands), so one merge counts their intersection
    val schema = StructType(Seq(
      verified.schema("id_a"),
      verified.schema("id_b"),
      StructField("jaccard", DoubleType),
    ))
    verified.mapPartitions(_.flatMap { r =>
      val a = r.getSeq[String](2)
      val b = r.getSeq[String](3)
      val inter = sortedOverlap(a, b)
      val jaccard = inter.toDouble / (a.length + b.length - inter).toDouble
      if (jaccard >= threshold) Some(Row(r.get(0), r.get(1), jaccard))
      else None
    })(Encoders.row(schema))
  }

  /** Size of the intersection of two sorted, duplicate-free arrays. */
  private def sortedOverlap(a: Seq[String], b: Seq[String]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c <= 0) i += 1
      if (c >= 0) j += 1
      if (c == 0) n += 1
    }
    n
  }

  /** Per-doc distinct shingles and LSH band keys: (id, sh, bands).
    *
    * One narrow pass per input row, no shuffle. `sh` is the row's
    * distinct [[Text.shingles]], built in the task by [[Text.shinglesOf]]
    * over the codegen'd `Text.tokens(lower(text))` and stored SORTED:
    * [[minhashPairs]]' verify merges two of them. Signature entry h is the
    * minimum over the row's shingles of `hash.seeded(shingle, h)`, and
    * band b's key is `hash.seeded(join(",", entries of band b), b)` over
    * its `rowsPerBand` consecutive entries as decimal strings (one form
    * for both hash modes; band keys are internal, only their equality
    * matters). Docs sharing ANY band key are near-duplicate candidates.
    * NULL text has a null `sh` and no bands. The hashes run in the task
    * through [[Hash64.seededOf]], which equals the column form.
    *
    * Sketches are per input row: equal to a per-id aggregate whenever
    * ids are unique, as they are for every caller (`doc_id`, and
    * [[crossCorpusContamination]]'s `2·id + side` remap). Any id type
    * passes through.
    */
  private[graft] def minhashBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      rowsPerBand: Int,
      bands: Int,
      hash: Hash64,
  ): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      Text.tokens(lower(col(textCol))).as("toks"),
    )
    val schema = StructType(Seq(
      toks.schema("id"),
      StructField("sh", ArrayType(StringType, containsNull = false)),
      StructField("bands", ArrayType(LongType, containsNull = false),
        nullable = false),
    ))
    toks.mapPartitions(_.map { r =>
      val sh = Option(Text.shinglesOf(r.getSeq[String](1), shingleLen))
        .map(_.distinct.sorted).orNull
      val keys =
        if (sh == null) Array.emptyLongArray
        else {
          val mins = Array.fill(rowsPerBand * bands)(Long.MaxValue)
          sh.foreach { s =>
            val seeded = hash.seededOf(s)
            var h = 0
            while (h < mins.length) {
              mins(h) = math.min(mins(h), seeded(h))
              h += 1
            }
          }
          Array.tabulate(bands)(b =>
            hash.seededOf(
              mins.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
                .mkString(","))(b))
        }
      Row(r.get(0), sh, keys)
    })(Encoders.row(schema))
  }

  /** Per-doc 64-bit SimHash signatures: bit b is set iff the ±1 votes
    * (bit b of each token's `hash.one`) over the lowercased token
    * multiset sum above 0. One row-wise pass, no shuffle: the hashes run
    * in the task through [[Hash64.oneOf]], which equals the column form.
    * NULL text yields 0. Returns (id, sim) per input row, so ids must be
    * unique to give one signature per id.
    */
  def simhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      Text.tokens(lower(col(textCol))).as("toks"),
    )
    val schema = StructType(Seq(
      toks.schema("id"), StructField("sim", LongType, nullable = false)))
    toks.mapPartitions(_.map { r =>
      val ts = r.getSeq[String](1)
      val votes = new Array[Int](64)
      if (ts != null) ts.foreach { t =>
        val h = hash.oneOf(t)
        var b = 0
        while (b < 64) {
          votes(b) += (if ((h >>> b & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      val sim = (0 until 64)
        .foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | 1L << b else acc)
      Row(r.get(0), sim)
    })(Encoders.row(schema))
  }

  /** SimHash near-duplicate pairs within a hamming radius. Complete for
    * radius < chunks by the pigeonhole principle (see
    * [[Text.simhashChunks]]); candidates join on (chunkIndex, chunkValue).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 4,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(maxHamming < chunks, "completeness needs maxHamming < chunks")
    val sigs = simhashSignatures(docs, idCol, textCol, hash)
    // materialized ONCE (eager cut): both sides of the candidate
    // self-join read it, and the per-token simhash bit-vote is the
    // expensive part — same pattern as minhashPairs' banded keys
    val chunked = Superstep.cut(
      sigs.select(
        col("id"),
        col("sim"),
        posexplode(Text.simhashChunks(col("sim"), chunks)),
      )
    ) // -> pos, col
    chunked.as("a")
      .join(
        chunked.as("b"),
        col("a.pos") === col("b.pos") && col("a.col") === col("b.col") &&
          col("a.id") < col("b.id"),
      )
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        Text.hamming64(col("a.sim"), col("b.sim")).as("hamming"),
      )
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  /** Exact token-set Jaccard for every doc pair within a blocking key
    * (e.g. same source) — integer intersect/union counts only, so the
    * result is exactly reproducible in any engine.
    *
    * Block-size cap (the [[graft.EdgeBuilder]] `maxGroup` policy adapted
    * to similarity semantics): all-pairs is quadratic in block size, so
    * one unbounded key would melt a 100 TB run. Blocks larger than
    * `maxBlock` contribute (a) all-pairs over their `maxBlock` SMALLEST
    * ids and (b) one comparison per overflow member against the block
    * REPRESENTATIVE (its min id) — O(block) for the tail, every doc still
    * compared at least once, fully deterministic and SQL-expressible
    * (mirrored in the driver oracle).
    */
  def jaccardPairsWithin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      maxBlock: Int = 4096,
  ): DataFrame = {
    val t = docs.select(
      col(blockCol).as("blk"),
      col(idCol).as("id"),
      array_distinct(Text.tokens(lower(col(textCol)))).as("toks"),
    )
    // materialized ONCE: the rank feeds both self-join sides plus the
    // overflow branch — recomputing the window per consumer would
    // re-shuffle the token arrays three times
    val ranked = Superstep.cut(
      t.select(
        col("blk"),
        col("id"),
        col("toks"),
        row_number()
          .over(Window.partitionBy("blk").orderBy("id"))
          .as("rn"),
      )
    )
    def jac(a: DataFrame, b: DataFrame) = {
      val inter = size(array_intersect(col("a.toks"), col("b.toks")))
      a.as("a")
        .join(b.as("b"), col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id"))
        .select(
          col("a.id").as("doc_a"),
          col("b.id").as("doc_b"),
          inter.cast("long").as("inter_cnt"),
          (size(col("a.toks")) + size(col("b.toks")) - inter)
            .cast("long")
            .as("union_cnt"),
        )
    }
    val core = ranked.where(col("rn") <= maxBlock)
    // representative = rn 1 = the block's min id, so rep.id < member.id
    // always holds and jac()'s orientation filter keeps every pair
    val reps = ranked.where(col("rn") === 1)
    val overflow = ranked.where(col("rn") > maxBlock)
    jac(core, core).unionByName(jac(reps, overflow))
  }

  /** Substring-level duplicate spans — the ExactSubstr half of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022), re-shaped for the engine's built-in-only style: doc-level
    * dedup ([[nearDupClusters]]) removes whole near-duplicate documents;
    * THIS finds long token runs repeated anywhere in the corpus (boiler-
    * plate, licenses, templated paragraphs) so a pipeline can cut the
    * spans, not the documents.
    *
    * Mechanics (scale-shaped approximation of a suffix-array pass):
    *   1. every k-token window of every doc → (doc, pos, fingerprint)
    *      where the fingerprint hashes the window's space-joined tokens
    *      (the [[graft.functions.Text.shingles]] gram form);
    *   2. a fingerprint occurring more than once ANYWHERE (across docs or
    *      within one) marks all its positions as duplicated — groupBy +
    *      map-side partial count, then an ids-only left-semi join (no
    *      window over the unbounded fingerprint key: a corpus-hot gram
    *      collapses in the partial aggregate instead of buffering);
    *   3. consecutive duplicated positions per doc merge into maximal
    *      runs (gaps-and-islands: island = pos - row_number, window
    *      bounded by DOC length, never by corpus size);
    *   4. a run of m consecutive duplicated k-grams covers m + k - 1
    *      tokens.
    *
    * Returns (id, start, len): token offset (0-based) and token length of
    * each maximal duplicated span. Deterministic; exact for the hash
    * (collision probability ~2^-60 portable / 2^-64 xx per gram pair).
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(k >= 1, "k >= 1")
    // docs with fewer than k tokens contribute no windows (empty array,
    // NOT the whole-doc fallback shingle — a short doc has no k-token
    // substring to deduplicate). The tokens are bound once (Text.let):
    // the window lambda reads them for every window.
    val grams = docs
      .select(
        col(idCol).as("id"),
        posexplode(
          Text.let(Text.tokens(lower(col(textCol)))) { tk =>
            when(
              size(tk) >= k,
              transform(
                sequence(lit(0), size(tk) - k),
                i => concat_ws(" ", slice(tk, i + 1, lit(k))),
              ),
            ).otherwise(array().cast("array<string>"))
          }
        ).as(Seq("pos", "g")),
      )
      .select(col("id"), col("pos"), hash.one(col("g")).as("fp"))
    // materialized ONCE: both the duplicate-fingerprint aggregate and the
    // position fetch read it, and the gram window lambda is interpreted
    // (CodegenFallback)
    val g = Superstep.cut(grams)
    val dupFp = g.groupBy("fp")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select("fp")
    val dupPos = g.join(dupFp, Seq("fp"), "left_semi")
    val isl = dupPos.select(
      col("id"),
      col("pos"),
      (col("pos") - row_number().over(
        Window.partitionBy("id").orderBy("pos"))).as("isl"),
    )
    isl
      .groupBy("id", "isl")
      .agg(
        min(col("pos")).cast("long").as("start"),
        (count(lit(1)) + (k - 1)).as("len"),
      )
      .select(col("id"), col("start"), col("len"))
  }

  /** Near-duplicate CLUSTERS with survivor selection — the operation a
    * production dedup actually runs (pairs are an intermediate; what the
    * pipeline needs is "keep one doc per duplicate group"):
    * [[minhashPairs]] at `threshold` → the verified pairs form a dup
    * graph → weakly-connected components over it (the engine's own
    * [[graft.algos.Wcc]], so the clustering inherits its O(log n) round
    * bound and scale shape) → cluster id = min doc id in the component;
    * the survivor is the doc that IS its cluster id. Standard
    * LSH-pairs-then-components dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022).
    *
    * Returns one row per INPUT doc: (id, cluster, is_survivor) —
    * singleton docs are their own cluster and survive.
    */
  def nearDupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      threshold: Double = 0.5,
      hash: Hash64 = Hash64.Xx,
      store: Option[graft.SnapshotStore] = None,
  ): DataFrame = {
    requireIntegralId(docs, idCol, "nearDupClusters")
    val pairs =
      minhashPairs(docs, idCol, textCol, shingleLen, numHashes, threshold,
        hash)
    clustersFromPairs(
      docs.select(col(idCol).cast("long").as("id")),
      pairs,
      store,
    )
  }

  /** Shared clustering core behind [[nearDupClusters]] and
    * [[graft.operators.Similarity.cosineDupClusters]]: verified duplicate
    * pairs (any mining strategy) → symmetric dup graph → the engine's own
    * WCC → cluster id = min id in the component, survivor = the id that
    * IS the cluster id. One row per id in `universe` (singletons are
    * their own surviving cluster).
    *
    * `universe` must have a single Long-valued `id` column; `pairs` needs
    * `id_a`/`id_b`. The components come from [[graft.algos.Wcc]]. The dup
    * graph is usually FAR smaller than the corpus (one edge per verified
    * duplicate pair), so it usually fits Wcc's driver bound, and one
    * union-find over the collected pairs gives the components. Wcc
    * persists the pairs to count them, so the mining pipeline behind them
    * runs once. Over the bound the rounds run, with their O(log n) round
    * bound and, via `store`, their resumability — at 100 TB the component
    * rounds are the long pole, and a crashed dedup job should resume
    * there, not re-mine candidate pairs from scratch. The driver path
    * neither reads nor writes `store`.
    */
  def clustersFromPairs(
      universe: DataFrame,
      pairs: DataFrame,
      store: Option[graft.SnapshotStore] = None,
  ): DataFrame = {
    import universe.sparkSession.implicits._
    requireIntegralId(universe, "id", "clustersFromPairs")
    val dupEdges = pairs
      .select(
        col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"),
        lit(1.0).as("weight"),
      )
      .as[graft.Edge]
    joinUniverse(universe,
      graft.algos.Wcc.run(dupEdges, store = store).comps.toDF())
  }

  /** Guard shared by every clustering entry point: the WCC/union-find
    * phases key on Long ids, and a silent cast would turn string/UUID
    * ids into NULLs (non-ANSI) or an opaque mid-job cast error (ANSI).
    * Non-numeric ids: pre-assign Longs first (EdgeBuilder.vidOf).
    */
  private def requireIntegralId(
      df: DataFrame, idCol: String, op: String): Unit = {
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(
      Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"$op needs an integral id column; '$idCol' is ${idType.typeName}" +
        " — hash it to a Long first (EdgeBuilder.vidOf)",
    )
  }

  /** One row per universe id with its cluster + survivor flag;
    * ids absent from the dup graph are surviving singletons.
    */
  private def joinUniverse(
      universe: DataFrame, comps: DataFrame): DataFrame =
    universe
      .select(col("id").cast("long").as("id"))
      .join(comps.withColumnRenamed("vid", "id"), Seq("id"), "left_outer")
      .select(
        col("id"),
        coalesce(col("comp"), col("id")).as("cluster"),
        (coalesce(col("comp"), col("id")) === col("id")).as("is_survivor"),
      )

  /** Benchmark DECONTAMINATION: near-duplicate pairs ACROSS two corpora
    * — training docs vs an eval/benchmark set — the pre-training hygiene
    * pass that catches eval-set leakage (the n-gram-overlap family of
    * GPT-3's appendix, run here through the engine's verified minhash
    * pipeline). Returns (train_id, eval_id, jaccard) for every
    * cross-corpus pair with verified Jaccard >= threshold; same-side
    * duplicates are NOT reported (run [[minhashPairs]] per corpus for
    * those).
    *
    * Mechanics: ids remap to 2*id + side (0 = train, 1 = eval) so ONE
    * run of [[minhashPairs]] mines both corpora together — no new
    * sketch code to trust — then pairs whose endpoints share a side are
    * dropped and ids map back (parity IS the side). Ids must be
    * non-negative and < 2^62 for the remap to be collision-free.
    * Scale shape: identical to minhashPairs; the eval side is typically
    * tiny, so its shingles ride the same bucketed joins (no broadcast
    * special-case needed — the bands bucket both sides symmetrically).
    */
  def crossCorpusContamination(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 32,
      threshold: Double = 0.5,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    requireIntegralId(train, idCol, "crossCorpusContamination")
    requireIntegralId(evalDocs, idCol, "crossCorpusContamination")
    def side(df: DataFrame, tag: Int) = df.select(
      (col(idCol).cast("long") * 2 + tag).as("id"),
      col(textCol).as("text"),
    )
    val pairs = minhashPairs(
      side(train, 0).unionByName(side(evalDocs, 1)),
      "id", "text", shingleLen, numHashes, threshold, hash)
    val evenOf = when(pmod(col("id_a"), lit(2)) === 0, col("id_a"))
      .otherwise(col("id_b"))
    val oddOf = when(pmod(col("id_a"), lit(2)) === 1, col("id_a"))
      .otherwise(col("id_b"))
    pairs
      .where(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      .select(
        shiftright(evenOf, 1).as("train_id"),
        shiftright(oddOf, 1).as("eval_id"),
        col("jaccard"),
      )
  }

  /** Exact n-gram decontamination (the GPT-3 appendix-C / PaLM style
    * check, complementing [[crossCorpusContamination]]'s near-dup
    * variant): a train document is contaminated when `minHits` or more
    * of its DISTINCT word n-grams appear anywhere in the eval corpus.
    * Where the minhash variant asks "is some eval doc mostly this doc?",
    * the n-gram variant catches verbatim *fragments* — an embedded eval
    * question inside an otherwise-unrelated train doc never clears a
    * whole-doc Jaccard threshold but lights up here.
    *
    * Returns one row per train doc: (id, n_grams, n_hits, hit_frac,
    * contaminated), hit_frac rounded to 6 decimals over distinct grams.
    *
    * Scale shape: grams are hashed to 64 bits (`hash`, the pluggable
    * sketch hash) so the join ships fixed-width longs, never gram text;
    * per-doc distinct collapses at the (id, gram) aggregate (map-side
    * partial — a doc-internal hot gram never reaches the wire); the
    * eval side reduces to a DISTINCT hash set, orders of magnitude
    * smaller than the train corpus for any real benchmark suite, so the
    * hit join broadcasts it (an eval suite of even 10M distinct grams
    * is ~80 MB — fine; for an abnormally large eval side pass
    * `broadcastEval = false` and the join shuffles on the gram hash).
    * Docs shorter than n tokens contribute their single whole-text
    * shingle — the [[graft.functions.Text.shingles]] convention.
    */
  def ngramContamination(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minHits: Int = 1,
      broadcastEval: Boolean = true,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(n >= 1, "n >= 1")
    require(minHits >= 1, "minHits >= 1")
    def grams(df: DataFrame) = df.select(
      col(idCol).as("id"),
      explode(Text.shingles(col(textCol), n)).as("g"),
    ).select(col("id"), hash.one(col("g")).as("gh"))
    val trainGrams = grams(train).groupBy("id", "gh").agg(count(lit(1)))
      .select("id", "gh")
    val evalSet = grams(evalDocs).select("gh").distinct()
    val evalSide = if (broadcastEval) broadcast(evalSet) else evalSet
    trainGrams
      .join(evalSide.select(col("gh"), lit(1L).as("hit")), Seq("gh"),
        "left_outer")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
      )
      .select(
        col("id"), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 6)
          .as("hit_frac"),
        (col("n_hits") >= minHits).as("contaminated"),
      )
  }

  /** Cross-document boilerplate LINE removal (the line-dedup pass of
    * C4 / RefinedWeb-style cleaning, Penedo et al. 2023): a line whose
    * exact content appears in at least `minDocs` DISTINCT documents is
    * boilerplate (license footers, headers, navigation chrome); drop
    * every occurrence and reassemble each doc from its surviving lines
    * in order. Complements [[duplicateSpans]] (token runs, any position)
    * with the line-structured variant production cleaners actually run.
    *
    * Returns (id, n_lines, n_dropped, clean_sha) — clean_sha is sha256
    * of the newline-rejoined survivor text, pinning every byte of the
    * cleaned output without shipping megabyte text columns.
    *
    * Scale shape: lines explode once and are materialized once (both the
    * boilerplate aggregate and the reassembly read them); the boilerplate
    * decision is a two-level aggregate on the line hash — (fp, id)
    * distinct partials collapse a corpus-hot line map-side, then a
    * doc-count filter — and the reassembly groups by doc id, so per-task
    * state is bounded by DOC length, never corpus size.
    */
  def dropBoilerplateLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 2,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2 (1 would drop every line)")
    val lines = Superstep.cut(
      docs.select(
        col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")),
      ).select(col("id"), col("pos"), col("line"),
        hash.one(col("line")).as("fp"))
    )
    val boiler = lines
      .select("id", "fp")
      .distinct()
      .groupBy("fp")
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("fp"), lit(true).as("boiler"))
    lines
      .join(boiler, Seq("fp"), "left_outer")
      .groupBy("id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_dropped"),
        sha2(
          concat_ws(
            "\n",
            transform(
              // collect_list skips the nulls the `when` leaves for
              // dropped lines; struct sort orders by pos (first field)
              array_sort(collect_list(
                when(col("boiler").isNull,
                  struct(col("pos"), col("line"))))),
              s => s.getField("line"),
            ),
          ),
          256,
        ).as("clean_sha"),
      )
  }
}

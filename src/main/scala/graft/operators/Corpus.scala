package graft.operators

import graft.functions.{Hash64, Text}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Corpus-level training-data operators: deterministic sampling and
  * term-weight statistics. Like the rest of the layer, built-in
  * expressions (but [[qualitySignals]]' bigram counts, a row-wise task
  * pass), deterministic outputs, DuckDB-mirrorable.
  */
object Corpus {

  /** Deterministic stratified sample: the `n` rows with the smallest
    * (hash(id), id) per stratum — a reproducible pseudo-random sample
    * with an exact per-stratum quota (the training-data "n docs per
    * source/language" op), stable across runs, partitionings, and
    * engines (no RNG state).
    *
    * Scale shape: `row_number() <= n` over the stratum window triggers
    * Spark's rank-limit pushdown (WindowGroupLimit): each map task
    * pre-selects its own top-n per stratum BEFORE the shuffle, so a
    * hot stratum ships O(tasks·n) rows to the window sort, never its
    * full membership. Plan-pinned in PlanShapeSpec.
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      n: Int,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(n >= 1, "n >= 1")
    val w = Window.partitionBy(strataCol)
      .orderBy(hash.one(col(idCol)), col(idCol))
    df.select(col("*"), row_number().over(w).as("__rk"))
      .where(col("__rk") <= n)
      .drop("__rk")
  }

  /** Per-document top-k TF-IDF terms: tf = term count in the doc,
    * idf = ln(N / df) with df = number of docs containing the term,
    * score = round(tf·idf, 6) (the cross-engine rounding convention),
    * ties broken by term. Returns (id, term, tf, score, rk), rk 1..k.
    *
    * Scale shape: the (doc, term) tf aggregate and the per-term df
    * aggregate both partial-aggregate map-side (a corpus-hot term
    * collapses before the wire); N rides as a broadcast one-row
    * aggregate (no driver action); the final top-k window takes the
    * same WindowGroupLimit pushdown as [[stratifiedSample]].
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
  ): DataFrame = {
    require(k >= 1, "k >= 1")
    val tf = docs
      .select(
        col(idCol).as("id"),
        explode(Text.tokens(lower(col(textCol)))).as("term"),
      )
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_cnt"))
    val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
    val scored = tf
      .join(dfreq, "term")
      .join(broadcast(nDf)) // 1-row cross join, same pattern as PageRank dm
      .select(
        col("id"),
        col("term"),
        col("tf"),
        round(col("tf") * log(col("n") / col("df_cnt")), 6).as("score"),
      )
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("term"))
    scored
      .select(col("*"), row_number().over(w).cast("long").as("rk"))
      .where(col("rk") <= k)
  }

  /** Per-document quality signals in the Gopher / C4 rule family
    * (Rae et al. 2021 §A1.1), restricted to metrics that are exact and
    * cross-engine: word count, mean word length, distinct-word fraction
    * (low = heavy repetition), and top-bigram fraction (the share of
    * bigram occurrences taken by the single most frequent bigram — high =
    * templated text). `keep` applies the thresholds to the ROUNDED
    * metrics, so the flag is reproducible anywhere the metrics are.
    *
    * Scale shape: one row-wise pass, no shuffle. The rounded metrics and
    * `keep` are codegen expressions (the token-length sum rides
    * `length(concat_ws("", toks))` — no interpreted array lambda); the
    * bigram counts run in the task: [[Text.shinglesOf]]`(toks, 2)` into
    * a per-doc hash map, giving the top count and the total.
    *
    * One row per input row with non-null text (NULL text has no tokens
    * and no row). That equals a per-id result whenever ids are unique,
    * as they are for every caller (`doc_id`).
    */
  def qualitySignals(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      meanWordLen: (Double, Double) = (4.3, 4.7),
      minDistinctFrac: Double = 0.4,
      maxTopBigramFrac: Double = 0.05,
  ): DataFrame = {
    val toks = Text.tokens(lower(col(textCol)))
    val base = docs
      .select(col(idCol).as("id"), toks.as("toks"))
      .where(col("toks").isNotNull)
      .select(
        col("id"),
        size(col("toks")).cast("long").as("n_words"),
        round(
          length(concat_ws("", col("toks"))).cast("double")
            / size(col("toks")),
          6,
        ).as("mean_word_len"),
        round(
          size(array_distinct(col("toks"))).cast("double")
            / size(col("toks")),
          6,
        ).as("distinct_word_frac"),
        col("toks"),
      )
    // (top, total) bigram counts replace the trailing toks column
    val schema = StructType(base.schema.init ++ Seq(
      StructField("top_bigram", LongType, nullable = false),
      StructField("bigrams", LongType, nullable = false),
    ))
    val counted = base.mapPartitions(_.map { r =>
      val grams = Text.shinglesOf(r.getSeq[String](4), 2)
      val counts = scala.collection.mutable.HashMap.empty[String, Int]
      var top = 0
      grams.foreach { g =>
        val c = counts.getOrElse(g, 0) + 1
        counts(g) = c
        top = math.max(top, c)
      }
      Row.fromSeq(r.toSeq.init :+ top.toLong :+ grams.length.toLong)
    })(Encoders.row(schema))
    counted
      .select(
        col("id"),
        col("n_words"),
        col("mean_word_len"),
        col("distinct_word_frac"),
        round(col("top_bigram").cast("double") / col("bigrams"), 6)
          .as("top_bigram_frac"),
      )
      .select(
        col("*"),
        (col("n_words") >= minWords &&
          col("mean_word_len") >= meanWordLen._1 &&
          col("mean_word_len") <= meanWordLen._2 &&
          col("distinct_word_frac") >= minDistinctFrac &&
          col("top_bigram_frac") <= maxTopBigramFrac).as("keep"),
      )
  }

  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score each raw document by how much its hashed
    * n-gram profile looks like a TARGET corpus rather than the raw
    * corpus itself — the "select web data that resembles Wikipedia"
    * pipeline stage. Features are DSIR's: unigrams + bigrams hashed
    * into `buckets` buckets; both corpus distributions are add-one
    * smoothed; a document's score is the sum over its gram occurrences
    * of the per-bucket log-likelihood ratio.
    *
    * Determinism (the cross-engine contract): the per-bucket ratio is
    * ONE fixed-operand-order double expression quantized to e6
    * (`w_e6 = round(ln(((tcnt+1)/(tTot+B)) / ((rcnt+1)/(rTot+B)))·1e6)`,
    * the q_tfidf_top ln convention), and the document score is then an
    * exact BIGINT dot product `Σ c·w_e6` — commutative adds, no
    * engine-order sensitivity. Deterministic selection = `ORDER BY
    * score_e6 DESC, id LIMIT k` downstream (the resampling step made
    * reproducible).
    *
    * Scale shape: gram extraction is per-row codegen; the (doc, bucket)
    * count collapses a doc's repeated grams map-side; bucket totals are
    * aggregates OVER that reduced frame; and both distribution tables
    * are ≤ `buckets` rows — broadcast dimensions, so the only shuffles
    * are the two doc-keyed aggregates no matter the corpus size.
    *
    * @return one row per raw doc: (id, n_grams, score_e6).
    */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 4096,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(buckets >= 2, "buckets >= 2")
    def gramBuckets(df: DataFrame): DataFrame = df
      .select(
        col(idCol).as("id"),
        explode(
          concat(
            Text.tokens(lower(col(textCol))),
            Text.shingles(col(textCol), 2),
          )
        ).as("g"),
      )
      .select(col("id"), pmod(hash.one(col("g")), lit(buckets.toLong)).as("b"))

    // materialized once: both the bucket totals and the final dot
    // product read the reduced (doc, bucket) frame (the line-dedup
    // shared-explode pattern)
    val rawDoc = graft.Superstep.cut(
      gramBuckets(raw).groupBy("id", "b").agg(count(lit(1)).as("c"))
    )
    val rawB = rawDoc.groupBy("b").agg(sum(col("c")).as("rcnt"))
    val tgtB = gramBuckets(target)
      .groupBy("b").agg(count(lit(1)).as("tcnt"))
    val tTot = tgtB.agg(coalesce(sum(col("tcnt")), lit(0L)).as("t"))
    val rTot = rawB.agg(coalesce(sum(col("rcnt")), lit(0L)).as("r"))
    val w = rawB
      .join(tgtB, Seq("b"), "left_outer")
      .join(broadcast(tTot)) // 1-row cross joins, the tfidf N pattern
      .join(broadcast(rTot))
      .select(
        col("b"),
        round(
          log(
            ((coalesce(col("tcnt"), lit(0L)) + 1L).cast("double")
              / (col("t") + buckets.toLong).cast("double"))
              / ((col("rcnt") + 1L).cast("double")
                / (col("r") + buckets.toLong).cast("double"))
          ) * 1e6,
          0,
        ).cast("long").as("w_e6"),
      )
    rawDoc
      .join(broadcast(w), Seq("b"))
      .groupBy("id")
      .agg(
        sum(col("c")).as("n_grams"),
        sum(col("c") * col("w_e6")).as("score_e6"),
      )
  }

  /** Hashed bigram-LM quality scoring — the CCNet-style perplexity
    * filter (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020): train an add-one-
    * smoothed bigram language model on a TARGET corpus, then score each
    * raw document by its total negative log-likelihood under that model
    * (KenLM's role, reduced to a deterministic relational core). The
    * vocabulary is hashed into `buckets` buckets, so the model is
    *
    *   P(w2 | w1) = (c(b(w1), b(w2)) + 1) / (c(b(w1)·) + buckets)
    *
    * with both counts taken on the target corpus. A doc's quality score
    * is nll = Σ_bigrams −ln P; `keep` = nll ≤ threshold · n_bigrams,
    * i.e. an average-NLL cut (ppl ≤ e^threshold).
    *
    * Determinism (the cross-engine contract): each distinct (ctx, next)
    * bucket pair's −ln P is ONE fixed-operand-order double expression
    * quantized to e6 (the [[importanceWeights]] / q_tfidf_top ln
    * convention); a doc's nll_e6 is then the exact BIGINT dot product
    * Σ c·w_e6, and the keep decision is an exact BIGINT comparison
    * (`nll_e6 ≤ thresholdNllE6 · n_bigrams`) — no float ever crosses a
    * decision boundary unrounded.
    *
    * Scale shape: bigram extraction is per-row codegen (no UDF); the
    * (doc, ctx, next) count collapses a doc's repeated bigrams map-side;
    * the model tables are bounded by the VOCAB HASH, not the corpus —
    * ≤ buckets² pair rows and ≤ buckets context rows no matter how many
    * documents are scored — so both ride as broadcast dimensions and
    * the only shuffle keyed by an unbounded value is the doc-id
    * aggregate. Docs with fewer than 2 tokens have no bigrams and drop
    * out (NULL text included), same as the oracle.
    *
    * @return one row per scoreable raw doc:
    *         (id, n_bigrams, nll_e6, keep).
    */
  def bigramLmScore(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 1024,
      thresholdNllE6: Long = 7000000L,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(buckets >= 2, "buckets >= 2")
    val b = buckets.toLong
    def bigramBuckets(df: DataFrame): DataFrame = df
      .select(
        col(idCol).as("id"),
        Text.tokens(lower(col(textCol))).as("tk"),
      )
      .where(size(col("tk")) >= 2)
      .select(
        col("id"),
        explode(
          transform(
            sequence(lit(1), size(col("tk")) - 1),
            i =>
              struct(
                element_at(col("tk"), i).as("w1"),
                element_at(col("tk"), i + 1).as("w2"),
              ),
          )
        ).as("bg"),
      )
      .select(
        col("id"),
        pmod(hash.one(col("bg.w1")), lit(b)).as("cb"),
        pmod(hash.one(col("bg.w2")), lit(b)).as("wb"),
      )
    // model tables: bounded by the vocab hash (≤ buckets² / ≤ buckets
    // rows), built once; tc derives from tp so the target corpus is
    // bigram-extracted exactly once
    val tp = graft.Superstep.cut(
      bigramBuckets(target).groupBy("cb", "wb").agg(count(lit(1)).as("tp"))
    )
    val tc = tp.groupBy("cb").agg(sum(col("tp")).as("tc"))
    val rawDoc = bigramBuckets(raw)
      .groupBy("id", "cb", "wb")
      .agg(count(lit(1)).as("c"))
    // −ln P per distinct pair row: cp ≤ cc structurally, so P ≤ 1 and
    // w_e6 ≥ 0; operand order mirrored token-for-token in the oracle
    val wE6 = -round(
      log(
        (coalesce(col("tp"), lit(0L)) + 1L).cast("double")
          / (coalesce(col("tc"), lit(0L)) + b).cast("double")
      ) * 1e6,
      0,
    ).cast("long")
    rawDoc
      .join(broadcast(tp), Seq("cb", "wb"), "left_outer")
      .join(broadcast(tc), Seq("cb"), "left_outer")
      .select(col("id"), col("c"), wE6.as("w_e6"))
      .groupBy("id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("w_e6")).as("nll_e6"),
      )
      .select(
        col("id"),
        col("n_bigrams"),
        col("nll_e6"),
        (col("nll_e6") <= lit(thresholdNllE6) * col("n_bigrams")).as("keep"),
      )
  }

  /** Deterministic sequence PACKING layout: the GPT-style pretraining
    * step that concatenates documents into a token stream and cuts
    * fixed-length contexts. Each doc is assigned a shard (hash band of
    * its id) and a start offset in that shard's stream (the exclusive
    * running token sum in (hash(id), id) order), from which any context
    * length derives (`bin = start_tok / ctxLen`). Deterministic: the
    * layout is a pure function of the doc ids and token counts — stable
    * across runs, partitionings, and engines.
    *
    * Scale shape: the only shuffle is the per-shard window, and shards
    * are a hash partition of the corpus sized by the caller (`nShards` ≈
    * corpus tokens / desired shard size), so no global sort and no
    * unbounded window state — each window partition holds |corpus| /
    * nShards docs in expectation, and a running sum spills gracefully.
    */
  def packIntoShards(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int,
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(nShards >= 1, "nShards >= 1")
    val h = hash.one(col(idCol).cast("string"))
    val base = docs.select(
      col(idCol).as("id"),
      pmod(h, lit(nShards.toLong)).cast("long").as("shard"),
      h.as("hk"),
      Text.tokenCount(col(textCol)).cast("long").as("n_tokens"),
    )
    val w = Window.partitionBy("shard").orderBy(col("hk"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .select(
        col("id"),
        col("shard"),
        (sum(col("n_tokens")).over(w) - col("n_tokens")).as("start_tok"),
        col("n_tokens"),
      )
  }

  /** Deterministic train/val/test assignment: bucket = hash(id) mod
    * Σweights, split = the weight band the bucket falls in. Hash-based,
    * so membership is a pure function of the id — stable across runs,
    * partitionings, engines, and corpus growth (a new doc never moves an
    * old doc's split), which is the property an RNG-based sampler can't
    * give a 100 TB pipeline.
    */
  def splitAssign(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Int)] =
        Seq("train" -> 90, "val" -> 5, "test" -> 5),
      hash: Hash64 = Hash64.Xx,
  ): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    // hash the canonical string form so both hash modes (and the DuckDB
    // oracle) agree on the operand; pmod keeps xxhash64's negatives in
    // range (the portable hash is already non-negative)
    val bucket = pmod(hash.one(col(idCol).cast("string")), lit(total.toLong))
    // bucket < total always, so the last band is the otherwise-branch
    val cums = weights.init
      .scanLeft(("", 0)) { case ((_, acc), (name, w)) => (name, acc + w) }
      .tail
    val label: Column = cums
      .foldRight(lit(weights.last._1)) { case ((name, hi), rest) =>
        when(bucket < hi, lit(name)).otherwise(rest)
      }
    df.select(
      col(idCol),
      bucket.cast("long").as("bucket"),
      label.as("split"),
    )
  }

  /** Within-document repetition signals (the Gopher repetition filters,
    * Rae et al. 2021 Table A1) — the half of the quality family that
    * [[qualitySignals]] does not cover: machine-generated and templated
    * text repeats itself *within* a document long before it looks bad on
    * corpus-level statistics. Per doc:
    *
    *   - `n_lines`            lines after splitting on '\n'
    *   - `dup_line_frac`      occurrences in line-groups of size > 1
    *                          over total lines (a line appearing twice
    *                          contributes BOTH occurrences — the "how
    *                          much of the doc is self-copied" reading)
    *   - `dup_line_char_frac` same, weighted by line length in chars
    *   - `top_3gram_frac`     share of the most frequent word 3-gram
    *   - `top_4gram_frac`     share of the most frequent word 4-gram
    *   - `keep_rep`           all four under their thresholds (defaults
    *                          are Gopher's published cutoffs)
    *
    * Scale shape: three independent doc-keyed two-level aggregates
    * ((doc, line), (doc, 3gram), (doc, 4gram)) — each partial-aggregates
    * map-side so a doc-internal hot line/gram collapses before the wire,
    * and every shuffle key includes the doc id, so no corpus-hot key
    * exists. Joins between the three are doc-id equi-joins that reuse
    * the aggregates' hash partitioning. Ratios are rounded to 6 decimals
    * (the cross-engine convention).
    */
  def repetitionSignals(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxTop3gramFrac: Double = 0.18,
      maxTop4gramFrac: Double = 0.16,
  ): DataFrame = {
    val lines = docs.select(
      col(idCol).as("id"),
      explode(split(col(textCol), "\n")).as("line"),
    )
    val lineStats = lines
      .groupBy("id", "line")
      .agg(count(lit(1)).as("c"))
      .select(col("id"), col("c"), (col("c") * length(col("line"))).as("ch"))
      .groupBy("id")
      .agg(
        sum("c").as("n_lines"),
        round(
          sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double")
            / sum("c"),
          6,
        ).as("dup_line_frac"),
        round(
          when(sum("ch") === 0, 0.0).otherwise(
            sum(when(col("c") > 1, col("ch")).otherwise(0L)).cast("double")
              / sum("ch")
          ),
          6,
        ).as("dup_line_char_frac"),
      )
    def topGramFrac(n: Int, outCol: String) = docs
      .select(
        col(idCol).as("id"),
        explode(Text.shingles(col(textCol), n)).as("g"),
      )
      .groupBy("id", "g")
      .agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as(outCol))
    lineStats
      .join(topGramFrac(3, "top_3gram_frac"), Seq("id"))
      .join(topGramFrac(4, "top_4gram_frac"), Seq("id"))
      .select(
        col("*"),
        (col("dup_line_frac") <= maxDupLineFrac &&
          col("dup_line_char_frac") <= maxDupLineCharFrac &&
          col("top_3gram_frac") <= maxTop3gramFrac &&
          col("top_4gram_frac") <= maxTop4gramFrac).as("keep_rep"),
      )
  }
}

package graft.oracle

import graft.functions.{Hash64, Text}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-expression references for the document sketches and counts
  * that [[graft.operators.Dedup]] and [[graft.operators.Corpus]] compute
  * in row-wise task passes: the same results, written only with built-in
  * expressions (lambdas, explode, aggregates and joins).
  */
object SketchRef {

  /** Bit b (as 0/1 Long) of a Long column; shift amount may be a Column
    * (the Scala `shiftright` helper only takes a literal Int).
    */
  private def bitAt(x: Column, b: Column): Column =
    call_function("shiftright", x, b).bitwiseAND(lit(1L))

  /** 64-bit SimHash over the token multiset: bit b is set iff the sum of
    * ±1 votes (bit b of each token's hash) is positive.
    */
  def simhash64(text: Column, hash: Hash64 = Hash64.Xx): Column = {
    val powers = lit((0 until 64).map(i => 1L << i).toArray)
    val bits = Text.let(Text.tokens(lower(text))) { toks =>
      transform(
        sequence(lit(0), lit(63)),
        b =>
          when(
            aggregate(
              toks,
              lit(0L),
              (acc, t) =>
                acc + when(bitAt(hash.one(t), b) === 1L, lit(1L))
                  .otherwise(lit(-1L)),
            ) > 0,
            lit(1L),
          ).otherwise(lit(0L)),
      )
    }
    aggregate(
      zip_with(bits, powers, (bit, p) => bit * p),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x),
    )
  }

  /** LSH band keys from a minhash signature: hash of each band of
    * `rowsPerBand` consecutive signature entries, through the band's
    * comma-joined decimal string.
    */
  def bandKeys(
      sig: Column,
      numHashes: Int,
      rowsPerBand: Int,
      hash: Hash64,
  ): Column =
    transform(
      sequence(lit(0), lit(numHashes / rowsPerBand - 1)),
      b =>
        hash.seeded(
          concat_ws(
            ",",
            transform(
              slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
              v => v.cast("string"),
            ),
          ),
          b,
        ),
    )

  /** (id, band) per doc: distinct shingles, exploded, one `min` aggregate
    * per signature entry grouped by id, then [[bandKeys]].
    */
  def minhashBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      rowsPerBand: Int,
      bands: Int,
      hash: Hash64,
  ): DataFrame = {
    val sigLen = rowsPerBand * bands
    val minCols = (0 until sigLen)
      .map(h => min(hash.seeded(col("s"), h)).as(s"m$h"))
    val sigs = docs
      .select(
        col(idCol).as("id"),
        explode(array_distinct(Text.shingles(col(textCol), shingleLen)))
          .as("s"),
      )
      .groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
    val sigArr = array((0 until sigLen).map(h => col(s"m$h")): _*)
    sigs.select(
      col("id"),
      explode(bandKeys(sigArr, sigLen, rowsPerBand, hash)).as("band"),
    )
  }

  /** Near-dup pairs with the verify in Catalyst: [[minhashBands]]'
    * candidates, each side's `array_distinct(Text.shingles(...))` joined
    * back, then `size(array_intersect(...))` over the union size, kept
    * where it reaches the threshold. (id_a, id_b, jaccard), id_a < id_b.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      threshold: Double,
      hash: Hash64,
  ): DataFrame = {
    val (rowsPerBand, bands) = Dedup.lshParams(numHashes, threshold)
    val banded = minhashBands(docs, idCol, textCol, shingleLen, rowsPerBand,
      bands, hash)
    val sh = docs.select(
      col(idCol).as("id"),
      array_distinct(Text.shingles(col(textCol), shingleLen)).as("sh"),
    )
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
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    verified
      .select(
        col("id_a"),
        col("id_b"),
        (inter.cast("double") / union.cast("double")).as("jaccard"),
      )
      .where(col("jaccard") >= threshold)
  }

  /** Quality signals with the bigram counts as a Catalyst pipeline:
    * explode `Text.shingles(text, 2)`, count per (doc, bigram), then
    * max / sum per doc, joined back to the per-row metrics (the inner
    * join drops NULL text, which has no bigram row).
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
      )
    val topBigram = docs
      .select(
        col(idCol).as("id"),
        explode(Text.shingles(col(textCol), 2)).as("g"),
      )
      .groupBy("id", "g")
      .agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(
        round(max(col("c")).cast("double") / sum(col("c")), 6)
          .as("top_bigram_frac")
      )
    base
      .join(topBigram, Seq("id"))
      .select(
        col("*"),
        (col("n_words") >= minWords &&
          col("mean_word_len") >= meanWordLen._1 &&
          col("mean_word_len") <= meanWordLen._2 &&
          col("distinct_word_frac") >= minDistinctFrac &&
          col("top_bigram_frac") <= maxTopBigramFrac).as("keep"),
      )
  }
}

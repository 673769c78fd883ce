package graft.oracle

import graft.functions.{Hash64, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-expression references for the document sketches that
  * [[graft.operators.Dedup]] computes in one row-wise pass: the same
  * hashes, written only with built-in expressions.
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
}

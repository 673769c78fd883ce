package graft

import graft.functions.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.functions._

/** `Text.shingles` and `Text.langGuess` against plain-Scala references,
  * `Text.shinglesOf` (the scalar form) against `Text.shingles`,
  * plus the plan property that keeps them cheap: the text is tokenized
  * once per row, not once per window (a `Column` used inside a lambda is
  * evaluated again for every element).
  */
class TextSpec extends GraftSuite {
  import spark.implicits._

  /** Spark's tokenization: lowercase, strip SPACE characters only (Spark's
    * `trim` leaves tabs and newlines), split on `\s+` keeping empty
    * fields (Java's split with limit -1).
    */
  private def refTokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .split("\\s+", -1)

  /** Word n-grams; fewer than n tokens give the whole text as one. */
  private def refShingles(text: String, n: Int): Seq[String] =
    Option(text).map { t =>
      val toks = refTokens(t).toSeq
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    }.orNull

  private val edgeDocs: Seq[String] = Seq(
    null,
    "",
    "   ",
    "\t\n",
    "one",
    "Alpha BETA gamma",
    "  leading and trailing  ",
    "tabs\tand\nnewlines\r\nmixed \t here",
    "repeated     spaces    between   words",
    "\tstarts with a tab and ends with a newline\n",
    "MiXeD CaSe The Dog AND the CAT",
    "el gato y los perros de una casa",
    "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
    "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13",
  )

  private val docs: Seq[(Long, String)] = {
    val r = new scala.util.Random(11)
    val vocab = Seq("the", "Quick", "FOX", "der", "und", "le", "et", "el", "y")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    val random = (0 until 40).map { _ =>
      val len = r.nextInt(20)
      (0 until len).map(_ => vocab(r.nextInt(vocab.length)) + seps(r.nextInt(seps.length)))
        .mkString
    }
    (edgeDocs ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private lazy val docsDf = docs.toDF("id", "text")

  private def splitNodes(c: Column): Int =
    docsDf.select(c).queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case s: StringSplit => s }))
      .size

  test("shingles match the plain-Scala reference for n in {1, 2, 3, 13}") {
    assert(edgeDocs(12).split(" ").length == 12 && edgeDocs(13).split(" ").length == 13)
    for (n <- Seq(1, 2, 3, 13)) {
      val got = docsDf.select(col("id"), Text.shingles(col("text"), n))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
      docs.foreach { case (id, text) =>
        val want = Option(refShingles(text, n))
        assert(got(id) == want, s"n=$n, text=${Option(text).map(_.replace("\t", "\\t").replace("\n", "\\n"))}")
      }
    }
  }

  test("langGuess matches the plain-Scala reference") {
    def ref(text: String): String = {
      val toks = refTokens(text)
      val Seq(en, de, fr, es) =
        Seq(Text.StopEn, Text.StopDe, Text.StopFr, Text.StopEs)
          .map(sw => toks.count(sw.contains))
      if (en + de + fr + es == 0) "unknown"
      else if (en >= de && en >= fr && en >= es) "en"
      else if (de >= fr && de >= es) "de"
      else if (fr >= es) "fr"
      else "es"
    }
    val got = docsDf.where(col("text").isNotNull)
      .select(col("id"), Text.langGuess(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.filter(_._2 != null).foreach { case (id, text) =>
      assert(got(id) == ref(text), s"text=$text")
    }
    assert(got.values.toSet == Set("unknown", "en", "de", "fr", "es"))
  }

  test("shinglesOf over the row's tokens == shingles for n in {1, 2, 3, 13}") {
    for (n <- Seq(1, 2, 3, 13)) {
      docsDf
        .select(col("id"), Text.tokens(lower(col("text"))),
          Text.shingles(col("text"), n))
        .collect()
        .foreach { r =>
          val got = Option(Text.shinglesOf(r.getSeq[String](1), n))
            .map(_.toSeq)
          val want = Option(r.getSeq[String](2)).map(_.toSeq)
          assert(got == want, s"n=$n, id=${r.getLong(0)}")
        }
    }
  }

  test("shingles and langGuess tokenize each row once (one StringSplit)") {
    for (n <- Seq(1, 3)) assert(splitNodes(Text.shingles(col("text"), n)) == 1)
    assert(splitNodes(Text.langGuess(col("text"))) == 1)
  }
}

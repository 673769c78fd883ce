package perfbench

import java.util.SplittableRandom

/** A (group, member) relation: the co-occurrence builder's input. */
final case class Relation(grp: Array[Long], vid: Array[Long]) {
  def rows: Int = grp.length
  def digest: String =
    Gen.sha256 { d =>
      var i = 0
      while (i < rows) { d.putLong(grp(i)); d.putLong(vid(i)); i += 1 }
    }
}

/** A document corpus with its planted near-duplicate pairs and the ids of
  * one block of identical documents.
  */
final case class Corpus(
    ids: Array[Long],
    texts: Array[String],
    planted: Array[(Long, Long)],
    block: Array[Long],
) {
  def digest: String =
    Gen.sha256 { d =>
      ids.indices.foreach { i => d.putLong(ids(i)); d.putString(texts(i)) }
    }
}

/** Seeded input generators. The seed picks which members, words and
  * sources are drawn; every size (row counts, group-size profile, chain
  * length, corpus size) is fixed, so runs with different seeds do the
  * same amount of work on different data.
  */
object Gen {

  /** Feeds a digest without boxing. */
  final class Digest(md: java.security.MessageDigest) {
    private val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def putString(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      putLong(b.length.toLong); md.update(b)
    }
  }

  def sha256(feed: Digest => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    feed(new Digest(md))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Pairs a group of `s` distinct members contributes to the co-occurrence
    * build: all pairs up to `maxGroup`, a star above it.
    */
  def pairsOf(s: Long, maxGroup: Int): Long =
    if (s <= maxGroup) s * (s - 1) / 2 else s - 1

  /** Shape of [[skewRelation]]. Group sizes follow a fixed power-law
    * profile (size of the i-th largest group ~ (groups / i)^(1/alpha)),
    * capped at `maxSize`; `hubs` extra groups exceed the builder's
    * `maxGroup` and collapse to stars; `chain` vertices form one path.
    */
  final case class SkewShape(
      vertices: Int = 30000,
      groups: Int = 3000,
      alpha: Double = 1.6,
      minSize: Int = 2,
      maxSize: Int = 200,
      hubs: Seq[Int] = Seq(1500, 2500, 4000),
      chain: Int = 20000,
      maxGroup: Int = 1024,
      pairBudget: Long = 2000000L,
  ) {
    def sizes: Seq[Int] =
      (0 until groups).map { i =>
        val s = minSize * math.pow(groups / (i + 0.5), 1.0 / alpha)
        s.toInt.min(maxSize).max(minSize)
      } ++ hubs

    /** Pairs the co-occurrence build emits (group members are distinct). */
    def pairBound: Long =
      sizes.map(s => pairsOf(s.toLong, maxGroup)).sum + (chain - 1).max(0)
  }

  /** Heavy-tailed relation with hubs and a long chain component. Fails
    * fast if the shape could emit more than its pair budget, so no seed
    * can make the build spill unbounded data to disk.
    */
  def skewRelation(seed: Long, shape: SkewShape = SkewShape()): Relation = {
    require(
      shape.pairBound <= shape.pairBudget,
      s"shape emits up to ${shape.pairBound} pairs, budget ${shape.pairBudget}")
    require(shape.sizes.max <= shape.vertices, "a group larger than the vertex set")
    val rnd = new SplittableRandom(seed)
    val g = Array.newBuilder[Long]
    val v = Array.newBuilder[Long]
    shape.sizes.zipWithIndex.foreach { case (s, gi) =>
      // distinct members, so every group has exactly its profile size
      val members = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (members.size < s) members += rnd.nextInt(shape.vertices).toLong
      members.foreach { m => g += gi; v += m }
    }
    // the chain: consecutive ids, one two-member group per link, so its
    // length (and Wcc's round count on it) does not depend on the seed
    val base = shape.vertices.toLong
    val g0 = shape.sizes.length.toLong
    var i = 0
    while (i < shape.chain - 1) {
      g += g0 + i; v += base + i
      g += g0 + i; v += base + i + 1
      i += 1
    }
    Relation(g.result(), v.result())
  }

  /** Document corpus: `docs` documents of `tokens` words from a
    * `vocab`-word vocabulary. Every tenth document is a near-duplicate of
    * its predecessor with ~5% of its words replaced; the last `block`
    * documents are identical copies of one document, which puts `block`
    * documents into one LSH bucket of every band.
    */
  def corpus(
      seed: Long,
      docs: Int = 6000,
      tokens: Int = 40,
      vocab: Int = 1 << 16,
      block: Int = 200,
  ): Corpus = {
    val rnd = new SplittableRandom(seed)
    def word(): String = "w" + rnd.nextInt(vocab)
    val texts = new Array[Array[String]](docs)
    val planted = Array.newBuilder[(Long, Long)]
    val plain = docs - block
    var d = 0
    while (d < plain) {
      texts(d) =
        if (d % 10 == 9) {
          planted += ((d - 1).toLong -> d.toLong)
          texts(d - 1).map(w => if (rnd.nextInt(20) == 0) word() else w)
        } else Array.fill(tokens)(word())
      d += 1
    }
    val src = Array.fill(tokens)(word())
    while (d < docs) { texts(d) = src; d += 1 }
    Corpus(
      Array.tabulate(docs)(_.toLong),
      texts.map(_.mkString(" ")),
      planted.result(),
      Array.tabulate(block)(i => (plain + i).toLong),
    )
  }
}

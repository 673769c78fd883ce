package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val small = Gen.SkewShape(vertices = 2000, groups = 60, maxSize = 30,
    hubs = Seq(1100), chain = 50)

  test("the same seed gives the same input, another seed another") {
    assert(Gen.skewRelation(7, small).digest == Gen.skewRelation(7, small).digest)
    assert(Gen.skewRelation(7, small).digest != Gen.skewRelation(8, small).digest)
    assert(Gen.corpus(7, docs = 300, block = 20).digest ==
      Gen.corpus(7, docs = 300, block = 20).digest)
    assert(Gen.corpus(7, docs = 300, block = 20).digest !=
      Gen.corpus(8, docs = 300, block = 20).digest)
  }

  test("sizes do not depend on the seed") {
    val a = Gen.skewRelation(1, small); val b = Gen.skewRelation(2, small)
    assert(a.rows == b.rows)
    val c = Gen.corpus(1, docs = 300, block = 20); val d = Gen.corpus(2, docs = 300, block = 20)
    assert(c.planted.toSeq == d.planted.toSeq && c.block.toSeq == d.block.toSeq)
  }

  test("a shape over its pair budget is refused") {
    val big = Gen.SkewShape(pairBudget = 1000)
    assert(intercept[IllegalArgumentException](Gen.skewRelation(1, big))
      .getMessage.contains("budget"))
  }

  test("the pair bound bounds the reference build") {
    val rel = Gen.skewRelation(3, small)
    val g = Ref.cooccurrence(rel, small.maxGroup)
    assert(g.edges <= small.pairBound)
    // the hub collapses to a star: its smallest member links to the rest
    assert(g.undirected.map(_.length).max >= 1000)
  }

  test("the identical block and the planted pairs are what they claim") {
    val c = Gen.corpus(5, docs = 300, block = 20)
    assert(c.block.map(i => c.texts(i.toInt)).distinct.length == 1)
    c.planted.foreach { case (a, b) =>
      val (x, y) = (c.texts(a.toInt).split(" "), c.texts(b.toInt).split(" "))
      assert(x.length == y.length && x.zip(y).count { case (p, q) => p != q } < x.length / 4)
    }
  }
}

package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.scalatest.BeforeAndAfterAll

/** `QueryProbe`, the profiling entry point, on the shared session over a
  * synthesized tiny lineitem table (specs never read the testdata).
  */
class QueryProbeSpec extends GraftSuite with BeforeAndAfterAll {
  import spark.implicits._

  private val tmp = Files.createTempDirectory("qprobe")

  /** 40 orders over 12 parts: a small co-occurrence graph. */
  private lazy val dir = {
    val r = new scala.util.Random(5)
    (0 until 400)
      .map(_ => (r.nextInt(40).toLong, r.nextInt(12).toLong))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    tmp.toString
  }

  override def afterAll(): Unit =
    Files.walk(tmp).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  private val names = Seq("q_edges", "q_degrees")

  test("count sink: each rep's rows equal the query's count") {
    val reps = QueryProbe.run(spark,
      QueryProbe.parse(Seq(names.mkString(","), "2", dir)))
    assert(reps.map(r => (r.query, r.rep)) ==
      Seq(("q_edges", 1), ("q_edges", 2), ("q_degrees", 1), ("q_degrees", 2)))
    names.foreach { n =>
      val want = SparkEntry.queries(n)(spark, dir).count()
      assert(want > 0, s"$n is empty on the fixture")
      assert(reps.filter(_.query == n).map(_.rows) == Seq(Some(want), Some(want)))
    }
  }

  test("noop sink runs every query once per rep") {
    val reps = QueryProbe.run(spark,
      QueryProbe.parse(Seq(names.mkString(","), "1", dir, "noop")))
    assert(reps.map(r => (r.query, r.rows)) == names.map(n => (n, None)))
  }

  test("reps 0 times nothing, and `all` names every query") {
    assert(QueryProbe.run(spark, QueryProbe.parse(Seq("q_edges", "0", dir)))
      .isEmpty)
    assert(QueryProbe.parse(Seq("all", "0", dir)).names ==
      SparkEntry.queries.keys.toSeq.sorted)
  }

  test("bad arguments are rejected with the usage line") {
    def rejected(args: String*): String =
      intercept[IllegalArgumentException](QueryProbe.parse(args)).getMessage
    val unknown = rejected("q_edges,q_nope", "1", dir)
    assert(unknown.contains("usage: QueryProbe"))
    assert(unknown.contains("unknown query q_nope"))
    assert(unknown.contains(
      "queries: " + SparkEntry.queries.keys.toSeq.sorted.mkString(" ")))
    assert(rejected("q_edges", "two").contains("usage: QueryProbe"))
    assert(rejected("q_edges", "-1").contains("usage: QueryProbe"))
    assert(rejected("q_edges", "1", dir, "json").contains("usage: QueryProbe"))
    assert(rejected().contains("usage: QueryProbe"))
  }
}

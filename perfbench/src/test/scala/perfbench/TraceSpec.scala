package perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def job(group: String, start: Long, end: Long, site: String = "x") =
    JobRec(0, group, start, end, site, Nil)

  test("span self time excludes the part its children cover") {
    val t = new Tracer(spark.sparkContext, None)
    val (_, outer) = t.span("outer") {
      Thread.sleep(30)
      t.span("a")(Thread.sleep(40))
      t.span("b")(Thread.sleep(40))
      Thread.sleep(30)
    }
    val kids = t.spans.filter(_.parent == outer.id)
    assert(kids.map(_.name) == Seq("a", "b"))
    val self = t.selfUs(outer)
    assert(self == (outer.endUs - outer.startUs) - kids.map(k => k.endUs - k.startUs).sum)
    assert(self >= 55000 && self < outer.endUs - outer.startUs)
    assert(t.subtree(outer) == (kids.map(_.id) :+ outer.id).toSet)
  }

  test("driver time is span wall minus the union of its job intervals") {
    val jobs = Seq(job("g", 100, 300), job("g", 200, 400), job("g", 600, 700))
    val s = LayerListener.stats((0L, 1000L), 1000L, jobs, Nil)
    // jobs cover [100, 400) and [600, 700): 400 of 1000 us
    assert(s.driverS == 600 / 1e6)
    assert(s.jobs == 3)
  }

  test("per-round driver time splits at the round-closing jobs") {
    val site = "head at Superstep.scala:63"
    val jobs = Seq(
      job("g", 0, 100), // set-up job before the first round
      job("g", 150, 200, site),
      job("g", 260, 300), job("g", 320, 400, site),
    )
    val r = Layers.perRoundDriverS(jobs)
    assert(r.map(x => math.round(x * 1e6)) == Seq(50L, 80L))
  }

  test("the listener keys every task to the span that ran its job") {
    val sc = spark.sparkContext
    val l = new LayerListener
    sc.addSparkListener(l)
    try {
      val t = new Tracer(sc, Some(l))
      val (_, a) = t.span("a")(spark.range(0, 1000, 1, 3).count())
      val (_, b) = t.span("b") {
        spark.range(0, 1000, 1, 5).count()
        t.span("inner")(spark.range(0, 1000, 1, 2).count())
      }
      spark.range(0, 10, 1, 4).count() // outside every span
      ListenerDrain(sc)
      val inner = t.spans.find(_.name == "inner").get
      def groups(s: Span) = t.subtree(s).map(Tracer.groupOf)
      assert(l.tasksOf(Set(a.group)).nonEmpty)
      assert(l.jobsOf(Set(a.group)).length == l.jobsOf(Set(inner.group)).length)
      // b's own job scans 5 partitions, inner's 2 more; the final count
      // stage adds one task per job
      val bTasks = l.tasksOf(Set(b.group)).length
      val innerTasks = l.tasksOf(Set(inner.group)).length
      assert(innerTasks > 0 && bTasks > innerTasks)
      assert(l.tasksOf(groups(b)).length == bTasks + innerTasks)
      assert(l.tasks.exists(_.group == ""))
      assert(l.jobs.forall(j => j.endUs >= j.startUs))
    } finally sc.removeSparkListener(l)
  }
}

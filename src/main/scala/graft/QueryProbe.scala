package graft

import org.apache.spark.sql.SparkSession

/** The one profiling entry point: runs named [[SparkEntry.queries]]
  * repeatedly in one warm JVM and prints each rep's wall time and the
  * driver-side codegen (Janino) compile cost it paid ([[Bench]] stays the
  * frozen measurement surface). Usage:
  *   runMain graft.QueryProbe <name[,name...]|all> [reps] [sfDir] [noop]
  * `noop` times `write.format("noop")`, which computes every column of
  * every row, instead of `.count()`, which lets Spark prune columns.
  * GRAFT_EXPLAIN=1 prints each query's formatted physical plan first;
  * with `reps` 0 that is all it does. An iterative kernel's plan is its
  * final derivation's: the loop runs while the frame is built.
  * Env: SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_SF_DIR (sfDir default).
  */
object QueryProbe {
  final case class Args(
      names: Seq[String], reps: Int, sfDir: String, noop: Boolean, explain: Boolean)

  /** One timed rep; `rows` is the count sink's row count (None for noop). */
  final case class Rep(query: String, rep: Int, rows: Option[Long], seconds: Double)

  /** @throws IllegalArgumentException with the usage line on bad args */
  def parse(args: Seq[String]): Args = {
    def bad(why: String) = throw new IllegalArgumentException(
      s"$why; usage: QueryProbe <name[,name...]|all> [reps >= 0] [sfDir] [noop]")
    if (args.isEmpty || args.length > 4) bad("expected 1 to 4 arguments")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.head == "all") all else args.head.split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      bad(s"unknown query ${unknown.mkString(",")}; queries: ${all.mkString(" ")}")
    val reps = args.lift(1).fold(Option(1))(_.toIntOption).filter(_ >= 0)
      .getOrElse(bad(s"reps must be an integer >= 0, got ${args(1)}"))
    if (args.length > 3 && args(3) != "noop")
      bad(s"the 4th argument can only be noop, got ${args(3)}")
    val sfDir =
      if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Args(names, reps, sfDir, args.length > 3,
      sys.env.get("GRAFT_EXPLAIN").contains("1"))
  }

  /** Runs `a`'s reps on `spark`, printing one `[probe]` line per rep. */
  def run(spark: SparkSession, a: Args): Seq[Rep] = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    a.names.flatMap { nm =>
      val fn = SparkEntry.queries(nm)
      if (a.explain) {
        println(s"[probe] $nm plan:")
        fn(spark, a.sfDir).explain("formatted")
      }
      (1 to a.reps).map { i =>
        val (c0, s0) = (cg.getCount, cg.getSnapshot.getValues.sum)
        val t0 = System.nanoTime()
        val df = fn(spark, a.sfDir)
        val rows =
          if (a.noop) { df.write.format("noop").mode("overwrite").save(); None }
          else Some(df.count())
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $nm rep=$i ${rows.fold("sink=noop")(n => s"rows=$n")} " +
          f"$wall%.2fs codegen_compiles=${cg.getCount - c0} " +
          s"codegen_ms~${cg.getSnapshot.getValues.sum - s0}")
        Rep(nm, i, rows, wall)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a)
    finally spark.stop()
  }
}

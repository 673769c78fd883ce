package perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Benchmark driver: one workload, one seed, one JVM.
  *
  * Phases: start the session; generate the seeded input; load it into
  * Spark several times (median reported); run one untimed, checked
  * warm-up pass over a small instance of the workload; then run checked
  * passes of the workload's operations until `--seconds` of operation
  * time have been measured. Set-up time is session start plus the median
  * load plus the warm-up's load and operation time.
  * One driver thread issues every operation (a closed loop with one
  * client). With `--trace 1` a Spark listener keyed by job group
  * attributes every job and task to the span of the call that ran it.
  *
  * Prints one `PERFBENCH_DETAIL <json>` line with the full record and,
  * last, one `PERFBENCH_RESULT <json>` line with the metrics.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      localDir: Option[String],
  )

  /** Input loads per run; set-up reports their median. */
  val SetupReps = 3

  /** An operation slower than this fails and ends the run. */
  val OpDeadlineS = 60.0

  /** No operation starts once the JVM has run this long, so a run ends
    * well inside the benchmark's per-run limit.
    */
  val BudgetS = 120.0

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: => String): String = kv.getOrElse(k, d)
    Opts(
      workload = get("workload", sys.error("--workload is required")),
      seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toDouble,
      trace = get("trace", "0") == "1",
      cores = get("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      localDir = kv.get("local-dir"),
    )
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9
  /** Live heap: used heap after a full GC, a pause for Spark's cleaner to
    * drop blocks whose RDDs the first GC found unreachable, and a second
    * full GC.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val jvm0 = System.nanoTime()
    val o = parse(args)

    val session0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    o.localDir.foreach(d => builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val listener = if (o.trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer(sc, listener)
    val sessionS = since(session0)

    val genStart = System.nanoTime()
    val w = Workloads(o.workload, spark, o.seed)
    val inputs = w.inputs // forces generation and input statistics
    val genS = since(genStart)

    var checkS = 0.0
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    def fail(msg: String): Unit = { failed += 1; errors += msg }

    // set-up: load the input several times, report the median
    val setupRuns = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      since(t0)
    }

    var aborted = false
    def runPass(
        w: Workload,
        heap: Option[ArrayBuffer[Double]],
        cpu: ArrayBuffer[Double],
    ): Seq[OpOut] = {
      val outs = ArrayBuffer.empty[OpOut]
      w.ops.foreach { op =>
        attempted += 1
        if (aborted || since(jvm0) > BudgetS) {
          aborted = true
          fail(s"${op.layer}: not run, the run passed its time budget")
        } else {
          w.extras.clear()
          val c0 = cpuS
          val (res, span) = tracer.span(op.layer) {
            try Right(op.run()) catch { case NonFatal(e) => Left(e) }
          }
          cpu += cpuS - c0
          val check0 = System.nanoTime()
          val err = res match {
            case Left(e) => Some(s"${op.layer} threw $e")
            case Right(chk) =>
              try chk() catch { case NonFatal(e) => Some(s"${op.layer} check threw $e") }
          }
          checkS += since(check0)
          val late =
            if (span.wallS > OpDeadlineS) {
              aborted = true
              Some(f"${op.layer} took ${span.wallS}%.1f s, deadline ${OpDeadlineS}%.0f s")
            } else None
          val problem = err.orElse(late)
          problem.foreach(fail)
          outs += OpOut(op.layer, span, problem, w.extras.toMap)
          // every operation starts from a collected heap
          System.gc()
        }
      }
      heap.foreach(_ += liveHeapMb())
      w.endPass()
      outs.toSeq
    }

    // untimed warm-up: one checked pass over a small instance of the
    // workload fills the codegen cache and warms the JIT
    val warmW = Workloads(o.workload, spark, o.seed, warmup = true)
    val warm0 = System.nanoTime()
    warmW.setup()
    val warmSetupS = since(warm0)
    val warmOuts = runPass(warmW, None, ArrayBuffer.empty[Double])
    warmW.release()
    val warmupS = warmSetupS + warmOuts.map(_.span.wallS).sum
    val setupS = sessionS + Stats.median(setupRuns) + warmupS

    System.gc()
    val baseRdds = sc.getPersistentRDDs.keySet.toSet
    val heapMb = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[Seq[OpOut]]
    val passCpu = ArrayBuffer.empty[Double]
    var measured = 0.0
    while (!aborted && (passes.isEmpty || measured < o.seconds)) {
      val cpu = ArrayBuffer.empty[Double]
      val outs = runPass(w, Some(heapMb), cpu)
      passes += outs
      passCpu += cpu.sum
      measured += outs.map(_.span.wallS).sum
    }
    System.gc()
    Thread.sleep(500)
    val residualRdds = (sc.getPersistentRDDs.keySet.toSet -- baseRdds).size

    val timed = passes.flatten.toSeq
    val passWalls = passes.map(_.map(_.span.wallS).sum).toSeq
    val opWalls = timed.map(_.span.wallS)
    val tailP = Stats.tailPercentile(opWalls.length)
    // a run with a failed operation reports no rates (and is not correct)
    val clean = failed == 0 && timed.nonEmpty
    def med(xs: Seq[Double]) = if (clean) Stats.median(xs) else 0.0
    val headline = if (clean) w.headline(timed) else 0.0

    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (med(passWalls), "s"),
      "headline_per_s" -> (headline, "1/s"),
      "cpu_s" -> (med(passCpu.toSeq), "s"),
      "heap_peak_mb" -> (if (clean) heapMb.max else 0.0, "MB"),
    )
    val layers = listener.map { l =>
      ListenerDrain(sc)
      Layers.metrics(tracer, l, timed, passWalls, failed, attempted, residualRdds)
    }
    val metrics = layers.map(_._1).getOrElse(e2e)

    val detail = Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "config" -> Map(
        "master" -> s"local[${o.cores}]",
        "shuffle_partitions" -> o.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "codegen_cache_max_entries" -> sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "default"),
        "seconds" -> o.seconds,
      ),
      "inputs" -> inputs,
      "gen_s" -> genS,
      "session_s" -> sessionS,
      "setup_runs_s" -> setupRuns,
      "warmup_s" -> warmupS,
      "check_s" -> checkS,
      "warmup_ops" -> warmOuts.map(x => x.layer -> x.span.wallS),
      "passes" -> passes.length,
      "pass_walls_s" -> passWalls,
      "ops" -> timed.map(x =>
        Map("layer" -> x.layer, "wall_s" -> x.span.wallS, "error" -> x.error) ++ x.extra),
      "op_latency" -> Map(
        "samples" -> opWalls.length,
        "p50_s" -> (if (opWalls.isEmpty) None else Some(Stats.median(opWalls))),
        "tail_percentile" -> tailP,
        "tail_s" -> tailP.map(p => Stats.percentile(opWalls, p)),
      ),
      "pr_edges_per_s" -> (if (o.workload == "graph") Some(headline) else None),
      "dedup_docs_per_s" -> (if (o.workload == "corpus-dedup") Some(headline) else None),
      "fail_ratio" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "residual_rdds" -> residualRdds,
      "errors" -> errors,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map(_._2),
    )
    println("PERFBENCH_DETAIL " + Json.render(detail))
    val result = Map(
      "correct" -> clean,
      "attempted" -> attempted.max(1),
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    )
    println("PERFBENCH_RESULT " + Json.render(result))
    spark.stop()
  }
}

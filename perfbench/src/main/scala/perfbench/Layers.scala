package perfbench

/** Per-layer metrics of a traced run, derived from the timed spans and
  * the listener's job and task records.
  */
object Layers {

  /** Every per-layer metric with its unit. A layer the workload does not
    * call reports 0.
    */
  val Units: Seq[(String, String)] = Seq(
    "edgebuild.wall_s" -> "s", "edgebuild.shuffle_mb" -> "MB",
    "edgebuild.skew" -> "ratio", "edgebuild.spill_mb" -> "MB",
    "edgebuild.edges" -> "count",
    "csr.wall_s" -> "s", "csr.skew" -> "ratio", "csr.blocks" -> "count",
    "csr.entries" -> "count",
    "superstep.round_s" -> "s", "superstep.jobs_per_round" -> "count",
    "superstep.tasks_per_round" -> "count", "superstep.shuffle_mb_per_round" -> "MB",
    "superstep.driver_s_per_round" -> "s",
    "pagerank.wall_s" -> "s", "wcc.wall_s" -> "s", "wcc.rounds" -> "count",
    "wcc.driver_s" -> "s", "wcc.driver_s_max_round" -> "s",
    "labelprop.wall_s" -> "s", "kcore.wall_s" -> "s",
    "triangles.wall_s" -> "s", "triangles.shuffle_mb" -> "MB", "triangles.skew" -> "ratio",
    "dedup.wall_s" -> "s", "dedup.skew" -> "ratio", "dedup.shuffle_mb" -> "MB",
    "dedup.spill_mb" -> "MB", "dedup.pairs" -> "count", "dedup.recall" -> "ratio",
    "minhash.wall_s" -> "s", "simhash.wall_s" -> "s", "quality.wall_s" -> "s",
    "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.driver_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.codegen_compiles" -> "count", "spark.codegen_ms" -> "ms",
    "run.wall_s" -> "s", "run.residual_rdds" -> "count", "run.fail_ratio" -> "ratio",
  )

  /** Round-closing jobs of a Wcc run: each round ends with the
    * cut-and-aggregate action of the superstep helper.
    */
  def isRoundClose(j: JobRec): Boolean = j.callSite.startsWith("head at Superstep")

  /** Driver time per round: each round's window runs from the end of the
    * previous round-closing job (or of the job before the first round)
    * to the end of its own closing job.
    */
  def perRoundDriverS(jobs: Seq[JobRec]): Seq[Double] = {
    val sorted = jobs.sortBy(_.startUs)
    val closes = sorted.indices.filter(i => isRoundClose(sorted(i)))
    if (closes.isEmpty) Seq.empty
    else {
      val first = closes.head
      val start0 =
        if (first == 0) sorted.head.startUs else sorted(first - 1).endUs
      val bounds = start0 +: closes.map(i => sorted(i).endUs)
      bounds.sliding(2).map { case Seq(a, b) =>
        Stats.uncovered((a, b), sorted.map(j => (j.startUs, j.endUs))) / 1e6
      }.toSeq
    }
  }

  def metrics(
      tracer: Tracer,
      l: LayerListener,
      timed: Seq[OpOut],
      passWalls: Seq[Double],
      failed: Int,
      attempted: Int,
      residualRdds: Int,
  ): (Map[String, (Double, String)], Map[String, Any]) = {
    def groups(s: Span) = tracer.subtree(s).map(Tracer.groupOf)
    def statsOf(s: Span) = {
      val g = groups(s)
      LayerListener.stats((s.startUs, s.endUs), tracer.selfUs(s), l.jobsOf(g), l.tasksOf(g))
    }
    val byLayer = timed.groupBy(_.layer)
    val stats = byLayer.map { case (k, outs) => k -> outs.map(o => statsOf(o.span)) }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def layer(k: String)(f: SpanStats => Double) = med(stats.getOrElse(k, Nil).map(f))
    def extra(k: String, key: String) =
      med(byLayer.getOrElse(k, Nil).flatMap(_.extra.get(key)))

    // supersteps, measured through PageRank's loop window: the jobs
    // started after the loop began, their tasks, and the driver time
    // between them, each divided by the superstep count
    val rounds = byLayer.getOrElse("pagerank", Nil).map { o =>
      val it = o.extra.getOrElse("pagerank.supersteps", 0.0).max(1.0)
      val start = o.extra.getOrElse("pagerank.loop_start_us", o.span.startUs.toDouble).toLong
      val g = groups(o.span)
      val jobs = l.jobsOf(g).filter(_.startUs >= start)
      val stages = jobs.flatMap(_.stageIds).toSet
      val loop = LayerListener.stats(
        (start, o.span.endUs), 0L, jobs, l.tasksOf(g).filter(t => stages(t.stageId)))
      Map(
        "jobs" -> loop.jobs / it,
        "tasks" -> loop.tasks / it,
        "shuffle_mb" -> loop.shuffleMb / it,
        "driver_s" -> loop.driverS / it,
      )
    }
    def perRound(k: String) = med(rounds.map(_(k)))
    val wccRounds = byLayer.getOrElse("wcc", Nil).map(o => perRoundDriverS(l.jobsOf(groups(o.span))))
    val all = stats.values.flatten.toSeq
    val cg = timed.map(_.span)

    val values: Map[String, Double] = Map(
      "edgebuild.wall_s" -> layer("edgebuild")(_.wallS),
      "edgebuild.shuffle_mb" -> layer("edgebuild")(_.shuffleMb),
      "edgebuild.skew" -> layer("edgebuild")(_.skew),
      "edgebuild.spill_mb" -> layer("edgebuild")(_.spillMb),
      "edgebuild.edges" -> extra("edgebuild", "edgebuild.edges"),
      "csr.wall_s" -> layer("csr")(_.wallS),
      "csr.skew" -> layer("csr")(_.skew),
      "csr.blocks" -> extra("csr", "csr.blocks"),
      "csr.entries" -> extra("csr", "csr.entries"),
      "superstep.round_s" -> extra("pagerank", "pagerank.round_s"),
      "superstep.jobs_per_round" -> perRound("jobs"),
      "superstep.tasks_per_round" -> perRound("tasks"),
      "superstep.shuffle_mb_per_round" -> perRound("shuffle_mb"),
      "superstep.driver_s_per_round" -> perRound("driver_s"),
      "pagerank.wall_s" -> layer("pagerank")(_.wallS),
      "wcc.wall_s" -> layer("wcc")(_.wallS),
      "wcc.rounds" -> extra("wcc", "wcc.rounds"),
      "wcc.driver_s" -> layer("wcc")(_.driverS),
      "wcc.driver_s_max_round" -> med(wccRounds.map(r => if (r.isEmpty) 0.0 else r.max)),
      "labelprop.wall_s" -> layer("labelprop")(_.wallS),
      "kcore.wall_s" -> layer("kcore")(_.wallS),
      "triangles.wall_s" -> layer("triangles")(_.wallS),
      "triangles.shuffle_mb" -> layer("triangles")(_.shuffleMb),
      "triangles.skew" -> layer("triangles")(_.skew),
      "dedup.wall_s" -> layer("dedup")(_.wallS),
      "dedup.skew" -> layer("dedup")(_.skew),
      "dedup.shuffle_mb" -> layer("dedup")(_.shuffleMb),
      "dedup.spill_mb" -> layer("dedup")(_.spillMb),
      "dedup.pairs" -> extra("minhash", "dedup.pairs"),
      "dedup.recall" -> extra("dedup", "dedup.recall"),
      "minhash.wall_s" -> layer("minhash")(_.wallS),
      "simhash.wall_s" -> layer("simhash")(_.wallS),
      "quality.wall_s" -> layer("quality")(_.wallS),
      "spark.cpu_s" -> all.map(_.cpuS).sum / passWalls.length.max(1),
      "spark.gc_s" -> all.map(_.gcS).sum / passWalls.length.max(1),
      "spark.driver_s" -> all.map(_.driverS).sum / passWalls.length.max(1),
      "spark.jobs" -> all.map(_.jobs.toDouble).sum / passWalls.length.max(1),
      "spark.tasks" -> all.map(_.tasks.toDouble).sum / passWalls.length.max(1),
      "spark.codegen_compiles" -> cg.map(_.codegenCompiles.toDouble).sum / passWalls.length.max(1),
      "spark.codegen_ms" -> cg.map(_.codegenMs).sum / passWalls.length.max(1),
      "run.wall_s" -> med(passWalls),
      "run.residual_rdds" -> residualRdds.toDouble,
      "run.fail_ratio" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
    )
    val out = Units.map { case (k, u) => k -> (values(k), u) }.toMap
    val detail = Map(
      "spans" -> byLayer.map { case (k, outs) =>
        k -> outs.map { o =>
          val s = statsOf(o.span)
          Map(
            "wall_s" -> s.wallS, "self_s" -> s.selfS, "driver_s" -> s.driverS,
            "jobs" -> s.jobs, "tasks" -> s.tasks, "cpu_s" -> s.cpuS, "gc_s" -> s.gcS,
            "shuffle_mb" -> s.shuffleMb, "spill_mb" -> s.spillMb, "skew" -> s.skew,
            "codegen_compiles" -> o.span.codegenCompiles, "codegen_ms" -> o.span.codegenMs,
          )
        }
      },
      "wcc_driver_s_per_round" -> wccRounds,
    )
    (out, detail)
  }
}

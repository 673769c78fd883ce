package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the properties that make the engine
  * viable at 10^12-file scale are plan shapes, not just results — pin
  * them so a refactor can't silently reintroduce a shuffle.
  */
class PlanShapeSpec extends GraftSuite {
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("one superstep = exactly one exchange (the message aggregation)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    ) {
      val edges = edgeDs(Fixtures.powerlaw1k)
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val adj = Csr.build(edges, p).localCheckpoint(true)
      val state = Superstep.vertices(edges)
        .select(col("vid"), lit(false).as("dangling"), lit(0.001).as("rank"))
        .localCheckpoint(true)
      val msgs = state.join(adj, state("vid") === adj("src"))
        .select(col("rank"),
          explode(arrays_zip(col("dsts"), col("weights"))).as("e"))
        .select(col("e.dsts").as("vid"),
          (col("rank") * col("e.weights")).as("m"))
        .groupBy("vid").agg(sum("m").as("msg"))
      val next = state.join(msgs, Seq("vid"), "left_outer")
        .select(col("vid"), col("dangling"),
          (lit(0.1) + coalesce(col("msg"), lit(0.0))).as("rank"))
      val plan = next.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    }
  }

  test("steady-state superstep = exactly one sort (the msgs side)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    ) {
      // round >= 2: the state checkpoint comes from the previous round's
      // sort-merge join output, and localCheckpoint PRESERVES that
      // [vid ASC] outputOrdering (LogicalRDD carries it), so the scatter
      // join and the update join elide their state-side sorts; the CSR
      // side declares [src ASC] from its build. The ONLY per-superstep
      // sort left is the msgs side after the exchange — which is what
      // keeps the update join an SMJ whose output feeds the next round
      // sorted. Pin it: a refactor that drops the ordering (e.g. a
      // projection through a non-order-preserving node) would silently
      // re-add two |V|-row sorts per superstep.
      val edges = edgeDs(Fixtures.powerlaw1k)
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val adj = Csr.build(edges, p).localCheckpoint(true)
      def step(state: org.apache.spark.sql.DataFrame) = {
        val msgs = state.join(adj, state("vid") === adj("src"))
          .select(col("rank"),
            explode(arrays_zip(col("dsts"), col("weights"))).as("e"))
          .select(col("e.dsts").as("vid"),
            (col("rank") * col("e.weights")).as("m"))
          .groupBy("vid").agg(sum("m").as("msg"))
        state.join(msgs, Seq("vid"), "left_outer")
          .select(col("vid"), col("dangling"),
            (lit(0.1) + coalesce(col("msg"), lit(0.0))).as("rank"))
      }
      val state0 = Superstep.vertices(edges)
        .select(col("vid"), lit(false).as("dangling"), lit(0.001).as("rank"))
        .localCheckpoint(true)
      val state1 = Superstep.cut(step(state0))
      val plan2 = step(state1).queryExecution.executedPlan.toString
      val sorts = "Sort ".r.findAllIn(plan2).length
      assert(sorts == 1, s"expected 1 sort in steady state, got $sorts:\n$plan2")
    }
  }

  test("label-prop superstep = exactly one exchange (the vid repartition)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    ) {
      val edges = edgeDs(Fixtures.powerlaw1k)
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val adj = Csr.build(edges, p, Csr.WeightMode.Raw).localCheckpoint(true)
      // mirrors LabelProp.run's init: checkpoint BEFORE the (vid, vid AS
      // label) projection — localCheckpoint keeps only the first element
      // of the alias-induced PartitioningCollection (hash(label)), which
      // would cost two extra exchanges
      val state = Superstep.vertices(edges)
        .localCheckpoint(true)
        .select(col("vid"), col("vid").as("label"))
      val next = graft.algos.LabelProp.superstep(adj, state, p)
      val plan = next.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    }
  }

  test("hyperball superstep = one exchange, HashAggregate only") {
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    ) {
      val edges = edgeDs(Fixtures.powerlaw1k)
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val adj = Csr.build(edges, p, Csr.WeightMode.One).localCheckpoint(true)
      // the chain's dense state: 16 INT registers, then one BIGINT
      // estimate per round (null until its round runs)
      val regs = (0 until 16).map(j => (col("vid") % 3).cast("int").as(s"r$j"))
      val state = Superstep.vertices(edges)
        .localCheckpoint(true)
        .select(col("vid") +: regs :+ lit(0L).as("e0") :+
          lit(null).cast("long").as("e1"): _*)
      val next = graft.algos.HyperBall.superstep(adj, state, p)
      val plan = next.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
      // fixed-width max buffers: a register array or any object-typed
      // buffer would fall back to a sort- or object-based aggregate
      assert(plan.contains("HashAggregate"), plan)
      assert(!plan.contains("SortAggregate") &&
        !plan.contains("ObjectHashAggregate"), plan)
    }
  }

  test("edge-build scan never reads content (column pruning to the scan)") {
    val src = spark.createDataset(
      (0L until 50L).map(Synth.rowAt(_, 50L)))
    val plan =
      EdgeBuilder.edges(src).queryExecution.optimizedPlan.toString
    assert(!plan.contains("content"))
  }

  test("adjacency blocks carry the partitioning contract after persist") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val edges = edgeDs(Fixtures.twoCliquesBridge)
      val adj = Csr.build(edges, 8).persist()
      adj.count()
      val part = adj.queryExecution.executedPlan.outputPartitioning.toString
      adj.unpersist()
      assert(part.contains("hashpartitioning") && part.contains("src"),
        s"adjacency lost its partitioning: $part")
    }
  }

  test("IVF corpus assignment: map-side argmin, no window, one shuffle") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // key must not be provably unique: Spark 4 proves Range ids distinct
      // and then elides the aggregation exchange entirely — the real IVF
      // input has no such guarantee, so pin the general shape
      val emb = spark.range(200)
        .select(
          (col("id") % 100).as("vec_id"),
          transform(sequence(lit(0), lit(7)),
            i => (col("id") % 13 + i).cast("double")).as("v"),
        )
      val cents = emb.limit(4)
        .select(col("vec_id").as("cent"), col("v").as("centvec"))
      val assigned = graft.operators.Similarity
        .assignToNearestCentroid(emb, "vec_id", "v", cents, 6)
      val plan = assigned.queryExecution.executedPlan.toString
      // a Window here would sort-exchange the full |C|*nlist broadcast
      // expansion; min(struct) partial-aggregates map-side so the one
      // exchange carries |C| combined rows
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("partial_min"), plan)
      val shuffles =
        "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
    }
  }

  test("duplicate-span mining: no window over the corpus-wide fingerprint") {
    val docs = (0L until 50L).map(i => (i, s"a b c d e f g h i$i"))
      .toDF("doc_id", "text")
    val plan = graft.operators.Dedup
      .duplicateSpans(docs, "doc_id", "text", k = 4)
      .queryExecution.executedPlan.toString
    // a corpus-hot gram must collapse in the map-side partial count and
    // come back as an ids-only LEFT SEMI join; a Window over fp would
    // buffer the hottest gram's every occurrence in one task. The one
    // legitimate Window is the per-DOC islands pass.
    assert("Window".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("bucketed as-of: every heavy window partitions by (key, bucket)") {
    import graft.operators.Relational
    val right = Seq((1L, 10L, 100L)).toDF("rk", "rt", "rid")
    val left = Seq((1L, 5L)).toDF("lk", "lt")
    val plan = Relational
      .asofJoinBucketed(left, right, "lk", "lt", "rk", "rt",
        ts => floor(ts / 10))
      .queryExecution.executedPlan.toString
    // the hot-key guarantee IS the (key, bucket) window partitioning: a
    // refactor back to partitionBy(key) would serialize a viral key's
    // whole history into one task again. The carry window partitions by
    // key alone but ranges over BUCKETS (one row per (key, bucket)).
    val rowWindows =
      "windowspecdefinition\\(__k#\\S+, __b#\\S+, __t#".r
        .findAllIn(plan).length
    assert(rowWindows >= 1,
      s"no (key, bucket)-partitioned row window found:\n$plan")
    val keyOnlyRowWindows =
      "windowspecdefinition\\(__k#\\S+, __t#".r.findAllIn(plan).length
    assert(keyOnlyRowWindows == 0,
      s"found a raw-key row window (hot-key hazard):\n$plan")
  }

  test("stratified sample gets the rank-limit pushdown (WindowGroupLimit)") {
    val df = spark.range(5000)
      .select(col("id").as("doc_id"), (col("id") % 7).as("source"))
    val plan = graft.operators.Corpus
      .stratifiedSample(df, "source", "doc_id", n = 20)
      .queryExecution.executedPlan.toString
    // row_number() <= n must trigger Spark's WindowGroupLimit: each map
    // task pre-selects its own top-n per stratum BEFORE the shuffle, so
    // a hot stratum ships O(tasks*n) rows, never its full membership
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing:\n$plan")
  }

  test("IVF maxList cap gets the rank-limit pushdown (WindowGroupLimit)") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, Array.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val plan = graft.operators.Similarity
      .ivfTopK(df, df.where(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, nlist = 2, nprobe = 2, maxList = 8)
      .queryExecution.executedPlan.toString
    // the capped inverted list must pre-trim map-side: a degenerate list
    // ships O(tasks*maxList) rows through the cent exchange, never its
    // full membership (same device as the stratified-sample pin above)
    assert(plan.contains("WindowGroupLimit"),
      s"IVF list-cap pushdown missing:\n$plan")
  }

  test("neighbor sampling: every top-k gets the rank-limit pushdown") {
    import spark.implicits._
    val edges = (0L until 400L)
      .map(i => graft.Edge(i % 40, (i * 7 + 1) % 40, 1.0))
      .toDS()
    val seeds = Seq(0L, 20L).toDF("vid")
    val plan = graft.algos.NeighborSample
      .run(edges, seeds, fanouts = Seq(4, 2), maxNbrs = 16)
      .queryExecution.executedPlan.toString
    // three windowed top-ks (adjacency cap + one per hop; the shared
    // adjacency subplan may dedupe) — ALL must be WindowGroupLimit-pushed
    // so hubs and hot seeds pre-trim map-side, and no plain Window
    // operator (unbounded per-partition buffering) may survive
    val limits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(limits >= 2, s"rank-limit pushdown missing:\n$plan")
    assert(!plan.contains("Window ") || plan.contains("WindowGroupLimit"),
      s"unexpected unbounded Window:\n$plan")
  }

  test("orderBy+limit fuses to TakeOrderedAndProject (no full sort)") {
    val df = spark.range(1000).toDF("v")
      .orderBy(col("v").desc).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("quality signals: scalar metrics ride the scan shuffle-free") {
    // doc_id is not provably unique (Range ids are — Spark 4 would elide
    // a per-id aggregation's exchanges; the IVF pin has the same note),
    // so the 0 below is the operator's shape, not Spark's elision
    val df = spark.range(500)
      .select((col("id") % 1000).as("doc_id"),
        concat(lit("w"), (col("id") % 9).cast("string"), lit(" x y"))
          .as("text"))
    val plan = graft.operators.Corpus
      .qualitySignals(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // no exchange at all: the per-row metrics (word count, mean length,
    // distinct fraction) are codegen projections over the scan, the
    // token-length sum is length(concat_ws(...)), not an interpreted
    // array-aggregate lambda, and the bigram top/total counts run in one
    // row-wise task pass, not as a (doc, bigram) aggregate joined back
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 0, s"expected 0 shuffles, got $shuffles:\n$plan")
    assert(!plan.contains("CodegenFallback"), plan)
  }

  test("packing layout: one shard exchange, never a global range sort") {
    val df = spark.range(300)
      .select((col("id") % 1000).as("doc_id"),
        concat(lit("w "), col("id").cast("string")).as("text"))
    val plan = graft.operators.Corpus
      .packIntoShards(df, "doc_id", "text", nShards = 4)
      .queryExecution.executedPlan.toString
    // the layout is per-shard: ONE hash exchange feeds the running-sum
    // window; a rangepartitioning exchange would mean the plan
    // regressed to a global sort (the non-scalable form)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 shuffle:\n$plan")
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("repetition signals: three doc-keyed aggregate branches, codegen") {
    val df = spark.range(400)
      .select((col("id") % 1000).as("doc_id"),
        concat(lit("w"), (col("id") % 7).cast("string"),
          lit(" x y\nw x y")).as("text"))
    val plan = graft.operators.Corpus
      .repetitionSignals(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // each branch is a two-level aggregate — (doc,line)/(doc,3g)/(doc,4g)
    // then per-doc — so 2 exchanges x 3 branches; the doc-id joins must
    // reuse the final aggregates' hash(id) partitioning (a 7th exchange
    // means a join stopped being key-local)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 6, s"expected 6 shuffles, got $shuffles:\n$plan")
    assert(!plan.contains("CodegenFallback"), plan)
  }

  test("ngram contamination: eval gram set broadcasts, never shuffles") {
    val df = spark.range(300)
      .select((col("id") % 1000).as("doc_id"),
        concat(lit("tok "), (col("id") % 11).cast("string"),
          lit(" a b c d")).as("text"))
    val plan = graft.operators.Dedup
      .ngramContamination(df, df.limit(30), "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    // the hit join must be a broadcast of the eval DISTINCT-gram set —
    // the train side (the 100 TB side) never reshuffles for it; the only
    // hash exchanges are the train (id,gh) distinct, the per-id rollup,
    // and the eval-side distinct
    assert(plan.contains("BroadcastHashJoin"), plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 3, s"expected <=3 shuffles, got $shuffles:\n$plan")
  }

  test("importance weights: distribution tables broadcast, doc aggs shuffle") {
    val df = spark.range(300)
      .select(col("id").as("doc_id"),
        concat(lit("tok "), (col("id") % 13).cast("string"),
          lit(" common words here")).as("text"))
    val plan = graft.operators.Corpus
      .importanceWeights(
        df.where(col("doc_id") % 3 =!= 0),
        df.where(col("doc_id") % 3 === 0),
        "doc_id", "text", buckets = 64)
      .queryExecution.executedPlan.toString
    // the per-bucket weight table (<= buckets rows) must reach the raw
    // frame as a broadcast — the 100 TB side never reshuffles for the
    // model; a SortMergeJoin here means the bounded dimension leaked
    // into a corpus-keyed shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bigram-LM score: model tables broadcast, never sort-merge") {
    val df = spark.range(300)
      .select(col("id").as("doc_id"),
        concat(lit("tok "), (col("id") % 13).cast("string"),
          lit(" common words here")).as("text"))
    val plan = graft.operators.Corpus
      .bigramLmScore(
        df.where(col("doc_id") % 3 =!= 0),
        df.where(col("doc_id") % 3 === 0),
        "doc_id", "text", buckets = 64)
      .queryExecution.executedPlan.toString
    // both model tables are bounded by the vocab hash (<= buckets² pair
    // rows, <= buckets context rows): they must ride as broadcast
    // dimensions against the raw (doc, pair) frame
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("line dedup: doc reassembly takes exactly one grouping exchange") {
    val df = spark.range(200)
      .select((col("id") % 1000).as("doc_id"),
        concat(col("id").cast("string"), lit(" body\nshared footer"))
          .as("text"))
    val plan = graft.operators.Dedup
      .dropBoilerplateLines(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the boilerplate side aggregates (id,fp)-distinct then per-fp count
    // (2 exchanges on the line set); the reassembly groups by doc id
    // (1 exchange). A 4th would mean the join stopped being key-local.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 3, s"expected <=3 shuffles, got $shuffles:\n$plan")
    assert(!plan.contains("Window"), plan)
  }
}

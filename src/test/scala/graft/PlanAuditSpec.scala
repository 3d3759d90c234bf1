package graft

import org.scalatest.funsuite.AnyFunSuite

/** Automated guard of the scale-critical plan properties — the same
  * checks docs/PLANS.md records, asserted so a regression (lost
  * pushdown, un-broadcast dim, duplicated window sort) fails CI. */
class PlanAuditSpec extends AnyFunSuite with SharedSpark {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filters and projection push down to the parquet scan") {
    val p = plan("q_select_filter")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_discount,0.05)"), p.take(800))
    assert(p.contains("ReadSchema") && !p.contains("l_comment"))
  }

  test("dimension joins broadcast") {
    val p = plan("q_lookup_join")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("mean-max durations share one keyed exchange of the events scan") {
    val p = plan("q_meanmax")
    // the per-key kernel computes all durations in one partition-local
    // pass: one hash exchange for the data, plus one tiny exchange for
    // the |keys|·|durations|-row winner ranking — never per-duration
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("no registered window query plans an unpartitioned Window") {
    // an empty partitionSpec funnels ALL rows into one task — the
    // single-partition-window scale hazard. Guard the window-bearing
    // queries (cheap to plan; pipeline/quantile queries execute during
    // construction and are audited by their own specs).
    // (q_interp_lookup left out: its merge formulation plans no Window
    // at all — its scale shape is spec'd by the merge/broadcast
    // equivalence test instead)
    val windowed = Seq("q_meanmax", "q_weighted_stats", "q_histogram_weighted",
      "q_map_window", "q_sessionize", "q_group_samples")
    for (name <- windowed) {
      val lp = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned Window")
    }
  }

  /** A hash/merge join NODE whose leading join keys are exactly the two
    * band columns — a bare substring ("band") could match attribute
    * names anywhere in the plan and miss a lost equi-join. */
  private def bandedJoinPlanned(p: String, k2: String): Boolean =
    s"""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\\S* \\[band#\\d+L?, $k2#\\d+L?\\]""".r
      .findFirstIn(p).isDefined

  test("ngram jaccard at a near-dup threshold routes to the (band, bh) equi-join") {
    val p = plan("q_dedup_ngram_banded")
    // banding keys the candidate shuffle: a join NODE on (band, bh)
    // exists, and no cartesian/BNLJ shape does
    assert(bandedJoinPlanned(p, "bh"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("ngram jaccard at a low threshold routes to an exact shingle join, not banding") {
    val p = plan("q_dedup_ngram")
    // below the banding recall boundary the router must pick an exact
    // path (direct or prefix-filtered, by measured skew): candidates
    // come from a shingle equi-join, no band columns exist, and no
    // cartesian shape appears
    assert(!bandedJoinPlanned(p, "bh"), "low-threshold query must not use banded candidates")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("Spark pin: under AQE no exchange is reused above a cached or checkpointed leaf") {
    // the reuse gap the dedup plans are built around (Dedup.docSignatures):
    // an aggregate self-unioned over spark.range reads ONE exchange
    // twice, the same plan over a cached or checkpointed frame runs its
    // shuffle once per branch. If an upgrade closes the gap, this fails
    // and the per-document projection's rationale needs re-measuring.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    object Walk extends AdaptiveSparkPlanHelper
    def shape(base: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val agg = base.groupBy((col("id") % 10).as("k")).agg(sum("id").as("s"))
      val df = agg.union(agg)
      df.collect()
      val p = df.queryExecution.executedPlan
      (Walk.collect(p) { case s: ShuffleQueryStageExec if !s.plan.isInstanceOf[ReusedExchangeExec] => s }.size,
        Walk.collect(p) { case r: ReusedExchangeExec => r }.size)
    }
    assert(shape(spark.range(0, 1000, 1, 4).toDF()) === (1, 1), "control: range must reuse")
    val cached = spark.range(0, 1000, 1, 4).toDF().cache()
    cached.count()
    try assert(shape(cached) === (2, 0), "cached leaf")
    finally cached.unpersist()
    val ck = Checkpoints.checkpoint(spark.range(0, 1000, 1, 4).toDF())
    try assert(shape(ck) === (2, 0), "checkpointed leaf")
    finally Checkpoints.free(ck)
  }

  test("banded pair plan: one minhash_sig per document, no min aggregate over exploded shingles") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.aggregate.Min
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    object Walk extends AdaptiveSparkPlanHelper // descends into AQE-planned caches
    val q = SparkEntry.queries("q_dedup_ngram_banded")(spark, sf).queryExecution
    val outer = q.withCachedData
    val cachedPlans = outer.collect { case r: InMemoryRelation => r.cacheBuilder }
      .distinct.map(_.cachedPlan)
    def count(es: Seq[Expression])(pf: PartialFunction[Expression, Unit]) =
      es.map(_.collect(pf).size).sum
    def sigs(es: Seq[Expression]) = count(es) { case _: graft.functions.MinHashSig => () }
    def mins(es: Seq[Expression]) = count(es) { case _: Min => () }
    val outerExprs = outer.collect { case n => n.expressions }.flatten
    val cachedExprs = cachedPlans.flatMap(p => Walk.collect(p) { case n => n.expressions }.flatten)
    assert(cachedPlans.nonEmpty, "the per-document projection is not cached")
    assert(sigs(outerExprs) === 0, "minhash_sig evaluated outside the cached projection")
    assert(sigs(cachedExprs) === 1, s"expected one minhash_sig in the cached projection")
    assert(mins(outerExprs) + mins(cachedExprs) === 0, "a min aggregate is back in the banded plan")
  }

  test("spanStatsPerRow: a consumer filter stays above the spread exchange (rand()*0.0 barrier)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val bloom = graft.dedup.Dedup.duplicatedGramBloom(Tables.documents(spark, sf), "doc_id", "text")
    // one split and ~3.6 MB of plan stats: Parallelism.spread inserts its
    // round-robin exchange in front of the scoring fold
    val docs = spark.range(0, 200000, 1, 1).select(col("id").as("doc_id"),
      concat(lit("w"), col("id").cast("string"), lit(" a b c d e f g h i j k")).as("text"))
    val gated = graft.dedup.Dedup.spanStatsPerRow(docs, bloom, "doc_id", "text")
      .filter(col("dup_fraction") > 0)
    val phys = gated.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val spreads = phys.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(spreads.size === 1, s"expected the spread exchange\n$phys")
    assert(phys.toString.contains("bloom_might_contain"), phys.toString.take(1500))
    assert(!spreads.head.child.toString.contains("bloom_might_contain"),
      s"the scoring fold was pushed below the spread exchange\n$phys")
  }

  test("bounded exact embed baseline: broadcast probes × ONE corpus scan, no cartesian") {
    // q_dedup_embed is the bounded-probe exact baseline (O(|probes|·n)):
    // the right plan IS a nested-loop whose build side is the broadcast
    // 500-probe slice — what must never appear is a non-broadcast
    // cartesian (corpus × corpus)
    val p = plan("q_dedup_embed")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // corpus side streams through exactly once: one scan feeds the
    // probe slice (broadcast) and one the corpus side
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected <=2 parquet scans, got $scans\n${p.take(1500)}")
  }

  test("flagship banded embedding near-dup generates candidates via the (band, key) equi-join") {
    val p = plan("q_dedup_embed_lsh")
    assert(bandedJoinPlanned(p, "key"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the signature kernel ships seeds, not plane literals — a typedLit
    // plane matrix (the old ~1 MB-task-binary formulation) would bloat
    // the plan string with 192 × 64 double literals
    assert(p.contains("hyperplane_band_keys"), "signature kernel missing from plan")
    assert(p.length < 100000, s"plan string suspiciously large (${p.length}) — inlined literals?")
  }

  test("refined ANN re-rank: every join broadcasts a bounded side — the corpus is never shuffled") {
    // Pq.topKRefined's refine step fetches kCand survivors' full
    // vectors via equi-joins whose small sides (candidate set, probe
    // slice) are bounded BY CONSTRUCTION but reach the optimizer as a
    // window-aggregate output with poor size estimates. The broadcast
    // is pinned with explicit hints (r16 verdict watch item 1); this
    // guard makes a silent demotion to a corpus shuffle loud.
    val p = plan("q_ann_ivfpq_refined")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // the candidate-generation subtree's POSTING join (on __cid) is a
    // deliberate SortMergeJoin since r18 — the driver-built pairs
    // frame's broadcast fused all candidate scoring into the scan
    // stage, measured 3.5x (BENCH_pq_posting_join_r18.json). Every
    // OTHER join — in particular both refine fetches — must still
    // broadcast a bounded side: any SMJ NOT keyed on __cid is a
    // demotion of the fetch to a corpus shuffle.
    val smjKeys = "SortMergeJoin \\[(\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(smjKeys.forall(_.startsWith("__cid")),
      s"refine join demoted to a corpus shuffle (SMJ on $smjKeys)\n${p.take(1500)}")
    assert(!p.contains("ShuffledHashJoin"),
      s"refine join demoted to a corpus shuffle\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed join reads co-located buckets: no exchange feeds the merge join") {
    val p = plan("q_lookup_join_bucketed")
    assert(p.contains("SortMergeJoin"), p.take(1200))
    // the ONLY hash exchange allowed is the final group-by's; the join
    // inputs come straight from the bucketed scans
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"bucketed join should exchange only for the group-by, got $exchanges\n${p.take(1500)}")
  }

  test("skew demo pair: salted join is output-identical to the plain join") {
    val plain = SparkEntry.queries("q_skew_join_plain")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val salted = SparkEntry.queries("q_skew_join_salted")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(plain.nonEmpty)
    assert(plain == salted)
  }

  test("curation queries keep their narrow/broadcast shapes") {
    // the split is a per-row expression — no hash exchange at all
    // (orderBy adds only a range exchange)
    val split = plan("q_split")
    assert(!split.contains("Exchange hashpartitioning"), split.take(800))
    // the benchmark shingle set joins broadcast
    val cont = plan("q_contamination")
    assert(cont.contains("BroadcastHashJoin"), cont.take(800))
    // the bloom variant needs NO join at all — the probe is a per-row
    // filter, so the whole query is scan → partial agg → one exchange
    val bloom = plan("q_contamination_bloom")
    assert(!bloom.contains("Join"), bloom.take(1200))
    assert(bloom.contains("bloom_might_contain"), bloom.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(bloom).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges\n${bloom.take(1200)}")
  }

  test("packing windows partition by shard — never a global sort of the corpus") {
    val lp = SparkEntry.queries("q_pack")(spark, sf).queryExecution.optimizedPlan
    val bad = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "q_pack plans an unpartitioned Window")
    val p = plan("q_pack")
    // one hash exchange keys the shard windows; orderBy adds a range
    // exchange only
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges\n${p.take(1200)}")
  }

  test("stratified sampling and tf-idf plan WindowGroupLimit (partial top-n before the exchange)") {
    // Spark 3.5+ rewrites rank-filter windows into WindowGroupLimit:
    // each map task keeps only its local top-n per group, so the
    // shuffle carries ~n·groups rows, not the corpus
    for (name <- Seq("q_sample_stratified", "q_tfidf")) {
      val p = plan(name)
      assert(p.contains("WindowGroupLimit"), s"$name: ${p.take(1200)}")
    }
  }

  test("mixture resampling is a pure per-row filter — no hash exchange") {
    val p = plan("q_mixture")
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
    assert(!p.contains("Join"))
  }

  test("PII redaction is a stateless projection — no exchange, no join, no aggregate") {
    // the property that makes it streaming-legal and free at 100 TB
    // (it rides the scan); only the oracle-determinism orderBy may add
    // a range exchange
    val p = plan("q_redact_pii")
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(800))
  }

  test("token-budget mixture: one tiny group aggregate, broadcast back, no corpus shuffle") {
    val p = plan("q_mixture_tokens")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the only hash exchange feeds the per-group mass aggregate
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges\n${p.take(1200)}")
  }

  test("grouped packing windows partition by (group, shard) — never unpartitioned") {
    val lp = SparkEntry.queries("q_pack_grouped")(spark, sf).queryExecution.optimizedPlan
    val bad = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "q_pack_grouped plans an unpartitioned Window")
    val p = plan("q_pack_grouped")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges\n${p.take(1200)}")
  }

  test("duplicate-span queries: doc-partitioned windows only, no cartesian anywhere") {
    for (name <- Seq("q_dup_spans", "q_dup_spans_sa", "q_dedup_cut")) {
      val lp = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned Window")
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: ${p.take(1200)}")
    }
  }

  test("global top-k queries plan TakeOrderedAndProject, not a global sort") {
    for (name <- Seq("q_sample_weighted", "q_heavy_hitters", "q_colloc_pmi")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"), s"$name: ${p.take(1200)}")
    }
  }

  test("group aggregation is partial (map-side combine)") {
    val p = plan("q_group_agg")
    assert(p.contains("HashAggregate") && p.contains("partial"), p.take(800))
  }

  test("sliding-window chunker is a pure projection — zero exchanges") {
    val docs = Tables.documents(spark, sf)
    val p = graft.pipeline.Packing.slidingWindows(docs, "doc_id", "text", 128, 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
  }

  test("semantic-dedup pair generation is equi-join only (no cartesian, no BNLJ)") {
    val e = Tables.embeddings(spark, sf)
    val cents = graft.similarity.Ivf.train(e, "vec_id", "embedding", k = 4, iters = 1)
    val p = graft.similarity.SemDedup
      .clusterDupPairs(e, "vec_id", "embedding", cents, 0.9)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200)) // block-pair relations broadcast
  }

  test("editdist candidate join: SHJ with the nibbleL1 prefilter + banded " +
      "levenshtein fused in-stage") {
    // the registered editdist queries explain as an opaque checkpoint
    // scan (their results ride one SharedFrames family entry), so the
    // pipeline's scale shape is pinned on the operator's OWN stages —
    // which is also what the registered queries execute on first
    // materialization
    val docs = Tables.documents(spark, sf)
    val p = graft.dedup.EditDistance.stages(docs, "doc_id", "text",
      0.1, 80, 64, 0.1, 2, 0.05, 256)("verified")
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(1200))
    // prefilter and DP verify both live in the join condition / its
    // immediate projection — candidates are never re-shuffled
    assert(p.contains("nibble_l1") && p.contains("levenshtein"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("FULL REGISTRY: no cartesian, no unsanctioned BNLJ, no unpartitioned Window") {
    // the absence list asserted over EVERY registered query, not a
    // hand-picked subset — the round-7 editdist BNLJ hid in a query no
    // plan test covered. Sanctioned exceptions: the two BOUNDED-probe
    // exact baselines (q_dedup_embed's 500-probe slice, q_ann_topk's
    // 10-probe slice), whose broadcast nested loop over a constant
    // build side IS the intended O(|probes|·n) plan.
    // One-row scalar attaches (corpus totals) are NOT exempted: they
    // ride a constant-key BroadcastHashJoin (operators.ScalarAttach),
    // so a BNLJ anywhere else is a real accident.
    val bnljSanctioned = Set("q_dedup_embed", "q_ann_topk")
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, sf)
      val lp = df.queryExecution.optimizedPlan
      val badW = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(badW.isEmpty, s"$name plans an unpartitioned Window")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      if (!bnljSanctioned(name))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
    }
    // constructing the registry above populated every SharedFrames
    // entry the queries create — each live tag must be DECLARED in
    // SparkEntry.sharedFamilies, or Bench would release it mid-family
    // and the amortization would silently measure as unshared
    val undeclared = SharedFrames.liveTags.toSet -- SparkEntry.sharedFamilies.keySet
    assert(undeclared.isEmpty,
      s"SharedFrames tags without a declared Bench family: $undeclared")
  }

  test("editdist base construction is jobless; the auto chooser is the one documented exemption") {
    // LAZINESS CONTRACT: constructing a registered query's DataFrame
    // must run no Spark jobs (the registry-wide audit above and
    // docs/PLANS.md regen build every query; a construction-time job
    // makes both pay corpus scans). DOCUMENTED EXEMPTION:
    // q_dedup_editdist_auto's chooseExtraSegs runs one sampled
    // aggregation per probed ladder rung AT CONSTRUCTION by design —
    // the measured rung decision IS the operator's first step
    // (EditDistance.editDistancePairsAuto Scaladoc). Plan-only
    // consumers use editDistancePairs (the base, lazy) directly.
    val docs = Tables.documents(spark, sf)
    // count jobs BY JOB GROUP (thread-local, so only this test's work
    // counts): a bare total would miscount the async sentinel's own
    // AQE jobs (range(1).count() runs 2 jobs under AQE)
    val groupJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val anyJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        anyJobs.incrementAndGet()
        if (js.properties != null &&
            "editdist-lazy-probe" == js.properties.getProperty("spark.jobGroup.id"))
          groupJobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("editdist-lazy-probe", "construction laziness probe")
      graft.dedup.EditDistance.editDistancePairs(docs, "doc_id", "text")
      spark.sparkContext.clearJobGroup()
      // listener events are async: run a sentinel job (outside the
      // group) and poll until its JobStart lands — only then is
      // "zero group jobs so far" meaningful
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 20000
      while (anyJobs.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(anyJobs.get() >= 1, "sentinel job never observed")
      assert(groupJobs.get() == 0,
        s"base editDistancePairs construction ran ${groupJobs.get()} Spark job(s); must be jobless")
      spark.sparkContext.setJobGroup("editdist-lazy-probe", "chooser measurement probe")
      val rung = graft.dedup.EditDistance.chooseExtraSegs(docs, "doc_id", "text")
      spark.sparkContext.clearJobGroup()
      assert(rung >= 0)
      // fresh deadline: chooseExtraSegs itself may consume most of the
      // first poll's budget on a slow host, and this poll only waits
      // for the (already-run) chooser's async JobStart events to land
      val deadline2 = System.currentTimeMillis() + 20000
      while (groupJobs.get() < 1 && System.currentTimeMillis() < deadline2) Thread.sleep(20)
      assert(groupJobs.get() >= 1, // count + >= 1 per-rung probe agg
        "chooseExtraSegs is EXPECTED to measure (construction jobs); saw none")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.dedup.Dedup.releaseCaches()
    }
  }

  test("whole-stage codegen covers the scan+filter+project stages") {
    // AQE shows the final (codegen'd) plan only after execution
    val df = SparkEntry.queries("q_derived")(spark, sf)
    df.collect() // executes THIS plan so AQE finalizes it
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n) Operator" in the compact plan
    assert(p.contains("*(1)"), p.take(800))
  }
}

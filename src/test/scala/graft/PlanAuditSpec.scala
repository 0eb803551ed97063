package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the properties that make the engine work at
  * 100 TB are PLAN facts (pushdown reaching the scan, candidate joins never
  * degenerating to cartesian products, tiny sides broadcast, manifest
  * pruning limiting planned files) — lock them in so a refactor that
  * silently loses one fails here, not at scale. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q7_cold_read: the sequence filter reaches the parquet scan") {
    val p = plan("q7_cold_read")
    assert(p.contains("PushedFilters") || p.contains("DataFilters"), p.take(500))
    assert(p.linesIterator.exists(l =>
      (l.contains("PushedFilters") || l.contains("DataFilters")) && l.contains("sequence")),
      "sequence predicate must be pushed into the scan")
    assert(p.contains("Batched: true"), "committed reads must use the vectorized reader")
  }

  test("near-dup and ANN candidate generation never degenerates to a cartesian product") {
    Seq("d2_minhash_lsh", "ann_lsh_nn", "d3_embedding_neardup", "ann_ivf_probe",
        "d9_decontaminate", "d10_simhash_neardup", "d13_semdedup",
        "ann_pq_topk", "r2_hybrid_retrieve", "d18_bloom_decontaminate",
        "d19_containment", "t26_source_overlap", "e2_embedding_outliers",
        "d20_cluster_canon", "e3_quantization_error", "r7_rocchio_prf",
        "d21_banding_loss", "m5_image_phash", "d22_split_leakage",
        "e4_pq_error", "ann_incremental_add").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must stay bucket-local")
    }
  }

  test("IVF/SemDeDup training is distributed: no collected-centroid LocalTableScan") {
    // The Lloyd update keeps the k×dim fixed-point sums a frame end to
    // end — so the √N cell count can actually scale (the round-11 cap of
    // 256 existed only because the update collected onto the driver). A
    // LocalTableScan in any trained-cell plan means a driver-side collect
    // of the centroids crept back in and silently re-capped k.
    Seq("ann_ivf_probe", "ann_ivf_probe2", "ann_ivfpq_topk", "d13_semdedup",
        "d15_cell_skew_audit", "r2_hybrid_retrieve", "r5_bitext_mining",
        "ann_incremental_add")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("LocalTableScan"),
          s"$q: centroids must come from the distributed Lloyd update, not a driver collect:\n${p.take(2000)}")
      }
  }

  test("corpus spread opt-in list matches the plans: pinned-width spread ACTIVE in every member") {
    // The docsSpread opt-in list (t25, t23, d17, t7) is maintained by hand —
    // this pin keeps the LIST and the PLANS in sync: every member's plan
    // must carry the pinned-width repartition on the single-split test
    // corpus (an opted-in query whose spread silently stopped firing would
    // fall back to one-task compute, the exact class the opt-in exists for).
    Seq("t7_repetition", "t25_gopher_repetition", "t23_langid", "d17_substring_dedup")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("REPARTITION_BY_NUM"),
          s"$q is on the docsSpread opt-in list but its plan shows no pinned-width " +
            s"repartition — the list and the plan have desynchronized:\n${p.take(1500)}")
      }
    // and the fingerprint itself is meaningful: the same single-split
    // corpus WITHOUT the spread must not match (synthetic violator —
    // polices the detector, not just the members)
    val violator = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          "filter(split(lower(text), '\\\\s+'), w -> w != '')")).as("w"))
      .groupBy("w").count()
    assert(!violator.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM"),
      "the spread fingerprint must be absent from an un-spread explode chain")
  }

  test("trained IVF index is sidecar-rooted: consumer plans bounded regardless of training iterations") {
    // Round 22: the trained centroids/assignments round-trip through a
    // parquet sidecar — persist caches data, not the plan, and before the
    // sidecar every consumer inlined the full KMeansIters Lloyd lineage
    // (ann_ivfpq_topk's constructor plan carried 274 Exchange nodes). The
    // assignment frame's own plan must root at a file scan with no trace
    // of the training chain (1048576 is the fixed-point training constant;
    // the assignment/probe expressions never use it).
    val ap = llm.LlmQueries.ivfAssignments(spark, sf).queryExecution.optimizedPlan
    val leaves = ap.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val cached = im.cachedPlan.toString
        assert(cached.contains("parquet") && !cached.contains("1048576"),
          s"assigned frame must cache a sidecar file scan, not the training chain:\n${cached.take(1500)}")
      case l =>
        assert(l.toString.contains("parquet"),
          s"assigned frame leaf must be a parquet relation, got ${l.getClass.getSimpleName}")
    }
    // and the heaviest composed consumer stays bounded (the r21 verdict's
    // DONE criterion: Exchange count well under the unrolled lineage's 274)
    val n = "Exchange".r.findAllMatchIn(plan("ann_ivfpq_topk")).length
    assert(n <= 60, s"ann_ivfpq_topk plan carries $n Exchange nodes — the training lineage is leaking back in")
  }

  test("d2/d10 hot-bucket cap: ONE bounded band-key agg, broadcast hot set, no self-join, no sort") {
    // The BandMaxBucket guard folds the band frame through ONE
    // partial-aggregatable groupBy whose state is bounded (count + the cap
    // smallest members via graft_topk) — the only band-key exchange
    // carries bucket summaries, never raw band rows. Cold buckets explode
    // their pairs locally from the aggregated member array (no self-join
    // — earlier versions paid a stats pass + tagging pass + two-sided
    // self-join, or sorted the whole frame under a count window); hot
    // buckets hub-link via a broadcast bounded by N/cap. At-scale plan
    // facts (broadcast threshold off — only explicit hints survive):
    //   - EXACTLY ONE exchange on the band key (the bounded bucket agg)
    //   - the hot set rides a BroadcastExchange
    //   - NO Window anywhere: nothing may sort the band frame
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("d2_minhash_lsh" -> "band_hash", "d10_simhash_neardup" -> "band_val").foreach {
      case (q, key) =>
        val p = SparkEntry.queries(q)(s2, sf).queryExecution.executedPlan
        val bandShuffles = p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains(key) => e
        }
        assert(bandShuffles.size <= 1,
          s"$q: the bounded bucket agg must be the ONLY band-key exchange, got ${bandShuffles.size}:\n$p")
        assert(p.toString.contains("graft_topk"),
          s"$q: bucket members must fold through the bounded graft_topk aggregate")
        assert(p.toString.contains("BroadcastExchange"),
          s"$q: the hot set must broadcast — the band frame never shuffles for the cap joins")
        assert(!p.toString.contains("Window "),
          s"$q: the cap must not sort the band frame under a count window")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("d16: the corpus never shuffles for the batch probe — bounded band agg + broadcast batch") {
    // Incremental admission's scale contract: the 100 TB corpus side pays
    // exactly ONE band-key exchange (the bounded graft_topk bucket agg);
    // the incoming batch (MBs) rides BroadcastExchanges for the band
    // probe, the batch self-probe, AND the Jaccard verify join-back — no
    // corpus-sized frame is ever re-partitioned onto candidate keys, and
    // nothing sorts under a window.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("d16_incremental_dedup")(s2, sf).queryExecution.executedPlan
      val bandShuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("band_hash") => e
      }
      assert(bandShuffles.size <= 1,
        s"d16: the bounded bucket agg must be the ONLY band-key exchange, got ${bandShuffles.size}:\n$p")
      assert(p.toString.contains("graft_topk"),
        "d16: corpus band buckets must fold through the bounded graft_topk aggregate")
      assert(p.toString.contains("BroadcastExchange"),
        "d16: the batch side must broadcast — the corpus never moves for the probe")
      assert(!p.toString.contains("Window "), "d16: nothing may sort the band frame")
      assert(!p.toString.contains("CartesianProduct"), "d16: candidates stay bucket-local")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("t15: the funnel is map-side until dedup; the dup stage reuses the capped posting generator") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("t15_filter_funnel", "t15_funnel_ppl").foreach { q =>
      val p = SparkEntry.queries(q)(s2, sf).queryExecution.executedPlan.toString
      assert(p.contains("graft_topk"),
        s"$q: the dup stage must reuse d4's NgramMaxDf-capped posting aggregate")
      assert(!p.contains("Window "), s"$q: no stage may sort the corpus under a window")
      assert(!p.contains("CartesianProduct"), s"$q: the dup stage stays posting-local")
      if (q == "t15_funnel_ppl")
        assert(p.contains("BroadcastExchange"),
          s"$q: the LM context table must broadcast (t16's pinned shape carries over)")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("t16: the LM context table broadcasts; scoring never windows the token frame") {
    // The bigram LM join is corpus-sized on both sides (co-partitioned on
    // the bigram key — fine); the CONTEXT-count join must ride a
    // BroadcastExchange (the vocabulary-sized side), and nothing may rank
    // or window the corpus-sized token frame.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("t16_perplexity_filter")(s2, sf).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastExchange"),
        "t16: the vocabulary-sized context/vocab tables must broadcast")
      assert(!p.contains("Window "), "t16: no stage may window the token frame")
      assert(!p.contains("CartesianProduct"), "t16: no join may degenerate to a cartesian product")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("t18/d12_state_audit: the gate is one scan + one rollup; the audits never window or sort the corpus") {
    Seq("t18_gopher_rules", "d12_state_audit").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window "), s"$q must not window the corpus")
    }
    // t18 is pure map-side scoring: the per-source rollup's exchange must
    // be the ONLY shuffle in the plan (the t14 scale shape). The opt-in
    // corpus spread (round 20) is deliberately NOT used by t18 — its
    // per-doc scoring is cheap enough that the spread's task overhead
    // exceeds the parallelism gain — so any second exchange here is a
    // regression, spread node included.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("t18_gopher_rules")(s2, sf).queryExecution.executedPlan
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1,
        s"t18: expected exactly the rollup exchange, got ${exchanges.size}:\n$p")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("ann_lsh_nn: nearest-in-bucket is a partial-aggregatable max_by, not a window") {
    // The bucket-pair frame is occupancy-bounded but corpus-sized; ranking
    // it under a vec_id window means a full shuffle+sort. The max_by over
    // the unique (sim, -o_id) key map-side combines to one row per
    // (task, vec_id) before the exchange.
    val p = plan("ann_lsh_nn")
    assert(!p.contains("Window ["), s"ann_lsh_nn must not window the pair frame:\n${p.take(1500)}")
    assert(p.contains("max_by"), "nearest-neighbor pick must be the max_by aggregate")
  }

  test("d14: the spans frame is never JOINED on the span key (viral-span skew immunity)") {
    // A corpus-viral span must not become a hot join key: the dup-span
    // count derives from partial-aggregatable span counts (a viral span
    // leaves each map task as ONE combined row), and the only join keys on
    // doc_id. A shuffle JOIN keyed on span means the occurrence frame is
    // being re-shuffled onto hot span keys again.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("d14_span_dedup" -> "span", "d17_substring_dedup" -> "gram").foreach {
      case (q, key) =>
        val p = SparkEntry.queries(q)(s2, sf).queryExecution.executedPlan
        val joinKeys = p.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec    => j.leftKeys.mkString(",")
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys.mkString(",")
        }
        joinKeys.foreach(k =>
          assert(!k.contains(key), s"$q joins must key on doc_id, never $key: $k\n$p"))
        assert(joinKeys.nonEmpty, s"$q: expected the doc-keyed join to be present")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("e1_embedding_coherence: centroids broadcast back; no window, no cartesian") {
    val p = plan("e1_embedding_coherence")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the label-centroid frame (bounded dimension) must broadcast to the member pass")
    assert(!p.contains("Window "), "the coherence fold must stay a partial-aggregatable agg")
    assert(!p.contains("CartesianProduct"), "the member join keys on label")
  }

  test("e2_embedding_outliers: both bounded sides broadcast; no window, no cartesian") {
    val p = plan("e2_embedding_outliers")
    val broadcastJoins = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcastJoins >= 2,
      s"the label-centroid frame AND the label-stats frame (both label-bounded) must " +
        s"broadcast onto the scored scan; saw $broadcastJoins broadcast joins\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-sized shuffle join may appear — every join side is label-bounded")
    assert(!p.contains("Window "), "the outlier fold must stay a partial-aggregatable agg")
  }

  test("e5_embedding_drift: labels-bounded sides broadcast; no window, no cartesian") {
    val p = plan("e5_embedding_drift")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the per-slice centroid frames (labels-bounded) must broadcast onto the norm rollup")
    assert(!p.contains("Window ["), "drift folds through plain aggregates, never a window")
    assert(!p.contains("CartesianProduct"))
  }

  test("t12_mixture_resample: the weight table broadcasts; the corpus never shuffles for it") {
    val p = plan("t12_mixture_resample")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the sources-sized weight table must broadcast to the corpus side")
  }

  test("d9_decontaminate: the eval vocabulary is the broadcast side of the overlap join") {
    val p = plan("d9_decontaminate")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the (fixed-size) eval vocab must broadcast — the corpus postings must never shuffle for it")
  }

  test("d18: the bloom probe is a plan literal — filter build never joins the corpus scan") {
    val p = plan("d18_bloom_decontaminate")
    // the filter's bit_or aggregation ran at query-construction time over
    // eval grams only; the returned plan must carry the packed words as a
    // literal array probed map-side (forall over the 3 fnv positions),
    // with no join or aggregate of the filter frame anywhere in it
    assert(!p.contains("bit_or"), "filter build must not be part of the probe plan")
    assert(p.contains("forall"), "the probe must be the map-side forall over plan-literal words")
  }

  test("r4_hard_negatives: broadcast anchors, bounded top-k cut, no window") {
    val p = plan("r4_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the tiny anchor set must broadcast; the corpus must never shuffle for it")
    assert(p.contains("partial_graft_topk"),
      "the negative cut must fold through the bounded partial top-k aggregate")
    assert(!p.contains("Window ["), "r4 must not window at all")
    assert(!p.contains("CartesianProduct"))
  }

  test("t25_gopher_repetition: coverage folds through plain aggregates — no window, no cartesian") {
    val p = plan("t25_gopher_repetition")
    assert(!p.contains("Window ["),
      "the max-coverage fold is a partial-aggregatable max, never a per-doc rank window")
    assert(!p.contains("CartesianProduct"))
  }

  test("t24_dsir_select: bucket LMs broadcast; NO window — threshold is the two-phase prefix memo") {
    val p = plan("t24_dsir_select")
    assert(p.contains("BroadcastExchange"),
      "the bucket-bounded LM weight table must broadcast onto the occurrence scan")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window ["),
      "the selection threshold comes from the memoized two-phase prefix sum — " +
        "an unpartitioned cum-sum window here serializes the distinct-importance frame at scale")
  }

  test("ann_incremental_add: centroids broadcast to the batch assign; no window, no retrain scan") {
    // the FAISS add path's scale contract: the arriving batch is assigned
    // map-side against BROADCAST trained centroids (never re-shuffled, no
    // Lloyd update re-run), and the occupancy audit folds through plain
    // bounded aggregates — no window anywhere
    val p = plan("ann_incremental_add")
    assert(p.contains("BroadcastExchange"),
      "trained centroids must broadcast onto the batch scan")
    assert(!p.contains("Window ["), "occupancy rollups are plain aggregates, never a window")
    assert(p.contains("max_by"), "cell assignment must be the partial-aggregatable max_by argmax")
  }

  test("t21_hll_cardinality: one register shuffle, no window, no cartesian") {
    val p = plan("t21_hll_cardinality")
    assert(!p.contains("Window ["),
      "the register file is a bounded aggregate, never a corpus window")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("fnv32("), "registers must come from the codegen'd hash")
  }

  test("r6_retrieval_eval: the hit list broadcasts into the label frame; no window, no cartesian") {
    val p = plan("r6_retrieval_eval")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the queries x K hit list must broadcast — the corpus label frame never shuffles for it")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window ["), "scoring is per-query aggregation, never a window")
  }

  test("r5_bitext_mining: cell-local candidates, bounded topk neighborhoods, no window, no cartesian") {
    // the pair join must ride the IVF cell key (the d13 discipline), each
    // side's neighborhood must fold through the partial graft_topk, and
    // nothing may window or cross-join the corpus
    val p = plan("r5_bitext_mining")
    assert(p.contains("partial_graft_topk"),
      "per-endpoint neighborhoods must be the partial-aggregatable bounded top-k")
    assert(!p.contains("CartesianProduct"), "candidates must stay cell-local")
    assert(!p.contains("Window ["), "r5 must not window — argmax rides the topk buffer")
  }

  test("r3_mmr_rerank: candidate gen broadcasts the query set, cuts via bounded top-C, no cartesian") {
    // the scale-bearing stage of MMR is candidate generation — same
    // contract as ann_topk_brute: tiny query set broadcasts, the corpus
    // folds through the bounded partial top-k, and the candidate pair
    // frame joins on q_id over the already-cut C rows (never a corpus
    // self-join)
    val (rel, pairs) = llm.LlmQueries.mmrCandidateFrames(spark, sf)
    val pr = rel.queryExecution.executedPlan.toString
    val pp = pairs.queryExecution.executedPlan.toString
    assert(pr.contains("partial_graft_topk"),
      "the top-C candidate cut must be the partial-aggregatable bounded top-k")
    assert(pr.contains("BroadcastExchange") || pr.contains("BroadcastNestedLoopJoin"),
      "the query set must broadcast; the corpus never shuffles for scoring")
    assert(!pr.contains("CartesianProduct"))
    assert(!pp.contains("CartesianProduct"),
      "the candidate×candidate sim join must stay keyed on q_id over the cut frame")
    assert(!pp.contains("Window ["))
  }

  test("t20_bpe_apply: merge chain over distinct vocab — no cartesian, no corpus window") {
    val p = plan("t20_bpe_apply")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window ["),
      "t20 ranks nothing — token counts join back on the word key")
  }

  test("t27_fertility_hist: shared apply frames, totals broadcast, no cartesian, no window") {
    val p = plan("t27_fertility_hist")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window ["),
      "t27 buckets and shares via joins — never a corpus-wide rank")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the source-cardinality totals frame must broadcast for the share division")
  }

  test("t22_cms_heavy_hitters: warm plan reads ONLY the memoized vocab — zero corpus scans") {
    // both the counter grid and the heavy-hitter cut fold out of the
    // persisted (w, cnt) frame; a leaf that is not the in-memory vocab
    // means a second corpus pass crept back in (the round-14 double-scan)
    val lp = SparkEntry.queries("t22_cms_heavy_hitters")(spark, sf)
      .queryExecution.optimizedPlan
    val leaves = lp.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { l =>
      assert(l.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation],
        s"t22 leaf must be the memoized vocab, got ${l.getClass.getSimpleName}")
    }
  }

  test("t22_cms_heavy_hitters: exact cut is TakeOrdered over the vocab agg; probes broadcast") {
    val p = plan("t22_cms_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      "the heavy-hitter cut must be TakeOrdered over the vocabulary aggregate, " +
        "never a global window over the pre-cut vocab")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the KxD probe rows must broadcast into the counter grid")
    assert(!p.contains("CartesianProduct"))
  }

  test("t23_langid: topk doc-profile cut, broadcast profile joins, one vocab-bounded window") {
    // doc profiles fold through the bounded graft_topk aggregate (never a
    // doc_id window sort); profile lookups are broadcast hash joins; the
    // ONLY window ranks the (lang, gram) count frame — vocabulary-bounded
    // after its map-side combine, never corpus rows
    val p = plan("t23_langid")
    assert(p.contains("partial_graft_topk"),
      "the doc-profile cut must be the partial-aggregatable bounded top-k")
    assert(p.contains("BroadcastExchange"),
      "the languages x profile frames are tiny and must broadcast into the distance join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("codepointtrigrams("),
      "the gram pass must be the codegen'd trigram kernel, not the interpreted substring lambda")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"),
      "the trained profile table must come from the (session, dir) memo, not retrain per run")
    // the profile-rank window runs ONCE at memo build; the warm scoring
    // plan must carry no live window at all (matches in the plan STRING
    // are the memo's cached-plan dump, so count structurally instead)
    val liveWindows = SparkEntry.queries("t23_langid")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(liveWindows.isEmpty,
      s"warm t23 must not window — the vocab-bounded profile rank belongs to the memo build, got ${liveWindows.size}")
  }

  test("ann_topk_brute: the query set is the broadcast side") {
    val p = plan("ann_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the tiny query set must broadcast; the corpus must never shuffle for it")
  }

  test("r7_rocchio_prf: both passes broadcast the query side; no corpus window") {
    val p = plan("r7_rocchio_prf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the shifted query set must broadcast like the brute pass's")
    assert(!p.contains("Window ["),
      "ranking is the bounded partial top-k on both passes — never a corpus window")
  }

  test("ANN family: ranking is the bounded two-phase top-k aggregate, never a full-corpus q_id window") {
    // The scale contract of the whole ANN family: the scored corpus folds
    // through partial_graft_topk (map-side combine to <= k entries per
    // (task, q_id)) BEFORE any exchange on q_id. A window doing the
    // ranking instead would shuffle every scored row onto |queries| tasks.
    Seq("ann_topk_brute", "ann_ivf_probe", "ann_ivf_probe2",
        "ann_sq_topk", "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfsq_topk",
        "r7_rocchio_prf").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_graft_topk"),
        s"$q: the candidate cut must be the partial-aggregatable bounded top-k:\n${p.take(2000)}")
      assert(p.contains("ObjectHashAggregate"),
        s"$q: graft_topk must plan as an ObjectHashAggregate")
    }
    // brute force needs NO window at all (ranks come from posexplode of the
    // sorted survivor array); windows elsewhere may only rank bounded
    // frames (probe selection over queries x centroids, the exact re-rank
    // over queries x SqCandidates survivors) — never a corpus scan.
    assert(!plan("ann_topk_brute").contains("Window ["),
      "ann_topk_brute must not window at all")
    assert(!plan("ann_ivf_probe").contains("Window ["),
      "ann_ivf_probe must not window at all (its cell id is carried by the aggregate payload)")
  }

  test("t28_chunk_overlap: map-side chunking — no window, no cartesian, source-bounded joins only") {
    val p = plan("t28_chunk_overlap")
    assert(!p.contains("Window ["),
      "chunk fingerprints fold through plain aggregates (xor is order-free) — never a window")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("fnv32("), "chunk ids must come from the codegen'd hash")
  }

  test("x10_mor_sql_read: the SQL catalog plans the graft batch scan; no window, no cartesian") {
    val p = plan("x10_mor_sql_read")
    assert(p.contains("BatchScan") || p.contains("GraftScan"),
      "the catalog read must plan through the V2 graft scan (which folds the delete masks)")
    assert(!p.contains("Window ["))
    assert(!p.contains("CartesianProduct"))
  }

  test("x8/x9 MoR reads: masks are a codegen'd filter — NO join node at all") {
    // merge-on-read's read-side contract at 100 TB, tightened in r18: the
    // masks ride one cached broadcast MorMaskIndex probed by the codegen'd
    // PosMasked/EqMasked predicates, so the masked read is scan → filter →
    // agg in ONE whole-stage-codegen span. Any join node here means the
    // anti-join machinery crept back (per-query delete re-reads + hash
    // relation builds at every masked read).
    Seq("x8_mor_delete", "x9_eq_delete").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: masks must be a filter, never a join:\n${p.take(1500)}")
      assert(p.contains("pos_masked") || p.contains("eq_masked") || p.contains("Masked"),
        s"$q: the mask predicates must appear in the filter:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("x11/x13: maintenance-fixture reads stay plain scan+agg — no join, no window") {
    // snapshot expiry and manifest rewrite change METADATA only; their
    // oracle reads must plan like any committed read (a join or window
    // appearing here means the read path grew a hidden correction pass)
    Seq("x11_expire", "x13_manifest_rewrite").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: metadata maintenance must not add a join:\n${p.take(800)}")
      assert(!p.contains("Window ["))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("x14_tag_travel: a ref-name-pinned read stays plain scan+agg — no join, no window") {
    // ref resolution is DRIVER-side metadata (name -> snapshot id before
    // the scan plans); a join/window here means the tag-pinned read path
    // grew a hidden correction pass
    val p = plan("x14_tag_travel")
    assert(!p.contains("Join"), s"x14: tag travel must not add a join:\n${p.take(800)}")
    assert(!p.contains("Window ["))
    assert(!p.contains("CartesianProduct"))
  }

  test("x12_spec_evolution: a mixed-spec read is a UNION of scans — no join, no window") {
    val p = plan("x12_spec_evolution")
    assert(p.contains("Union"), "old-spec and evolved-spec files load as two unioned scans")
    assert(!p.contains("Join"), s"spec routing must never become a join:\n${p.take(800)}")
    assert(!p.contains("Window ["))
    assert(!p.contains("CartesianProduct"))
  }

  test("tt3_changefeed: per-snapshot resolution is codegen'd mask filters — no join, no shuffle") {
    // the feed resolves each delete snapshot with the SAME broadcast-index
    // predicates as the committed read (prior-mask exclusion + this
    // commit's hits as one disjunctive filter) — a join node here means
    // the parent snapshot's row set started paying per-commit hash builds
    val p = plan("tt3_changefeed")
    assert(!p.contains("Join"), s"tt3: resolution must be mask filters, not joins:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"tt3: resolution must not shuffle the corpus:\n${p.take(1500)}")
    assert(!p.contains("Window ["))
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch_q3: dimension joins broadcast") {
    val p = plan("tpch_q3_shipping")
    assert(p.contains("BroadcastHashJoin"), "small dimension sides must broadcast")
  }

  test("tpch: no FORCED broadcast of fact-sized sides (orders / customer)") {
    // With the stats threshold off and AQE off, the only BroadcastExchange
    // nodes left are ones a broadcast() HINT forced — exactly the
    // scale-killers this guards against: customer/orders grow with SF and
    // must be left to statistics/AQE, unlike bounded dims (region, nation,
    // the nation-filtered supplier chain).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("tpch_q3_shipping", "tpch_q5_local_supplier", "tpch_q10_returns").foreach { q =>
      val phys = SparkEntry.queries(q)(s2, sf).queryExecution.executedPlan
      val forced = phys.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.collectLeaves().exists { l =>
            val t = l.toString; t.contains("orders.parquet") || t.contains("customer.parquet")
          } => b
      }
      assert(forced.isEmpty,
        s"$q forces a broadcast whose input scans orders/customer:\n${forced.headOption.map(_.toString).getOrElse("")}")
    } finally graft.core.SessionMemo.release(s2)
  }

  test("tpch_q6: filters AND column pruning reach the lineitem scan") {
    val p = plan("tpch_q6_revenue")
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("l_shipdate") && scanLine.contains("l_discount") &&
           scanLine.contains("l_quantity"),
      s"all three predicates must push into the parquet scan, got: $scanLine")
    // projection pruning: the scan must not read fact columns the query
    // never touches (a scan reading all 11 lineitem columns for a
    // 4-column query is wrong at any scale)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty, "plan must render a ReadSchema line (else the pruning check is vacuous)")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey") &&
           !readSchema.contains("l_returnflag"),
      s"unused columns must be pruned from the scan, got: $readSchema")
  }

  test("t6/d8/d10 corpus ops: codegen'd pipeline, no UDF, no cartesian") {
    Seq("t6_pii_scrub", "d8_url_dedup", "d10_simhash_neardup").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // AQE finalizes the plan (codegen spans appear) only on execution
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join")
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"$q must stay on codegen'd native expressions")
      // the final adaptive plan renders codegen stages as `*(n) Op` markers
      assert(p.contains("WholeStageCodegen") || p.contains("*("),
        s"$q must run inside whole-stage codegen")
    }
  }

  test("ann_sq_topk: the candidate pass scans the codes index, never full-precision vectors") {
    val p = plan("ann_sq_topk")
    val imScans = p.linesIterator.filter(_.contains("InMemoryTableScan")).toSeq
    // the candidate pass reads the persisted codes index: a scan with the
    // tinyint codes and WITHOUT full-precision v must exist (the re-rank
    // side may separately scan (vec_id, v) — that's the point: only the
    // bounded survivor join touches vectors)
    def hasV(l: String) = l.matches(""".*[\[, ]v#\d+.*""")
    assert(imScans.exists(l => l.contains("code#") && !hasV(l)),
      s"SQ8 candidates must scan the codes-only index:\n${imScans.mkString("\n")}")
    assert(!imScans.exists(l => l.contains("code#") && hasV(l)),
      s"no scan may carry codes AND full-precision v together:\n${imScans.mkString("\n")}")
  }

  test("ann_ivfsq_topk: the composed candidate pass is codes-only too") {
    val p = plan("ann_ivfsq_topk")
    val imScans = p.linesIterator.filter(_.contains("InMemoryTableScan")).toSeq
    def hasV(l: String) = l.matches(""".*[\[, ]v#\d+.*""")
    assert(imScans.exists(l => l.contains("code#") && !hasV(l)),
      s"IVF×SQ8 candidates must scan the codes-only index:\n${imScans.mkString("\n")}")
    assert(!imScans.exists(l => l.contains("code#") && hasV(l)),
      s"no scan may carry codes AND full-precision v together:\n${imScans.mkString("\n")}")
  }

  test("V2 source: manifest bounds prune planned input files") {
    val root = graft.table.CommittedTables.tableRoot(spark, sf)
    val c = new graft.iceberg.IcebergCommitter(new graft.iceberg.LocalTableIO(root), "events")
    val active = c.activeDataFiles().size
    val pruned = spark.read.format("graft").load(root)
      .filter(org.apache.spark.sql.functions.col("partition") === 1)
      .rdd.getNumPartitions
    assert(active >= 8, s"expected one file per log partition, got $active")
    assert(pruned === 1, s"a partition filter must plan exactly 1 of $active files, planned $pruned")
  }

  test("time-pruned committed read plans only files overlapping the range") {
    val root = graft.table.CommittedTables.tableRoot(spark, sf)
    val c = new graft.iceberg.IcebergCommitter(new graft.iceberg.LocalTableIO(root), "events")
    val lo = graft.core.HotQueries.RangeLo
    val hi = graft.core.HotQueries.RangeHi
    val pruned = graft.table.EventTable.pruneByTimeRange(c, lo, hi)
    assert(pruned.nonEmpty && pruned.size <= c.activeDataFiles().size)
    // and a disjoint range prunes EVERYTHING before any IO
    assert(graft.table.EventTable.pruneByTimeRange(c, 1L, 2L).isEmpty)
  }

  test("per-partition sequencing: ONE exchange, window satisfied by the repartition, no RDD hop") {
    import org.apache.spark.sql.functions._
    val df = graft.core.EventLog.deduped(graft.core.EventLog.raw(spark, sf))
    val seq = graft.core.EventLog.assignSequencesPerPartition(df, base = Map(0 -> 5L), width = 8)
    val p   = seq.queryExecution.executedPlan
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the dedup window and the sequencing window share the part_id
    // clustering chain: exactly one exchange per clustering, and the
    // explicit repartition(part_id) must satisfy the sequencing window's
    // distribution instead of adding a third shuffle
    assert(exchanges.size <= 2, s"expected <=2 exchanges (dedup key + part_id), got:\n$p")
    val s = p.toString
    assert(s.contains("Window"), "sequencing must be a Window, not an RDD hop")
    assert(!s.contains("DeserializeToObject"),
      "ingest's widest stage must stay in Tungsten rows (no external Row boxing)")
  }

  test("bootstrap keys frame: persisted partitioning is REUSED by the per-trigger anti-join") {
    // At 100 TB the committed-keys frame is enormous; the ingest loop joins
    // against it EVERY trigger. StreamIngest persists it pre-partitioned on
    // the join keys so the cached side never re-exchanges — pin the plan
    // fact on the same shape (forced non-broadcast, like the at-scale plan).
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val keys = s2.range(1000).select((col("id") % 8).cast("int").as("part_id"),
        concat(lit("k"), col("id")).as("idempotency_key"))
      .repartition(col("part_id"), col("idempotency_key"))
      .persist()
    try {
      keys.count()
      val probe = s2.range(100).select((col("id") % 8).cast("int").as("part_id"),
        concat(lit("k"), col("id") * 13).as("idempotency_key"))
      val joined = probe.join(keys, Seq("part_id", "idempotency_key"), "left_anti")
      joined.collect()
      // count exchanges in the JOIN plan only — the dump repeats the cached
      // plan (whose one-time REPARTITION_BY_COL build shuffle is the point)
      // inside the InMemoryRelation subtree, and the pre-AQE Initial Plan
      val finalPlan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.split("InMemoryRelation").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
      assert(finalPlan.contains("InMemoryTableScan"), finalPlan)
      assert(exchanges === 1,
        s"only the probe side may shuffle; the cached keys side must reuse its partitioning:\n$finalPlan")
    } finally { keys.unpersist(); () }
  }

  test("bootstrap bloom gate: codegen'd expression, no UDF anywhere in the ingest gate plan") {
    import org.apache.spark.sql.functions._
    val sess = spark
    import sess.implicits._
    // range-backed (NOT a local relation, which constant-folds the whole
    // gate away before codegen): 100 events, the first 10 already committed;
    // ids 90+ carry NULL keys (no-dedup events — must pass the gate, not
    // vanish into a null _maybe that fails both filters)
    val df = spark.range(100).select($"id".cast("int").as("part_id"),
      when($"id" < 90, concat(lit("k"), $"id")).as("idempotency_key"))
    val keys = df.filter($"part_id" < 10)
    val key  = concat($"part_id".cast("string"), lit(":"), $"idempotency_key")
    val bc   = spark.sparkContext.broadcast(keys.stat.bloomFilter(key, 100, 0.01))
    // the exact afterBoot composition from StreamIngest.processBatch
    val tagged = df.withColumn("_maybe",
      coalesce(graft.functions.BloomMightContain(bc, key), lit(false)))
    val out = tagged.filter(!col("_maybe")).drop("_maybe")
      .unionByName(tagged.filter(col("_maybe")).drop("_maybe")
        .join(keys, Seq("part_id", "idempotency_key"), "left_anti"))
    // collect() executes THIS Dataset's queryExecution (count() would spawn
    // a fresh one), so AQE finalizes and codegen spans appear in the plan
    val rows = out.collect()
    assert(rows.length === 90)
    assert(rows.map(_.getInt(0)).min === 10)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython") && !p.contains("UDF("),
      s"ingest gate must stay UDF-free:\n$p")
    // `*(n)` is the WholeStageCodegen span marker: both bloom-gate filters
    // must sit INSIDE a codegen span, fused with their Range+Project stage
    // (the dump repeats the pre-AQE Initial Plan without markers — scope to
    // the Final Plan section)
    val finalPlan = p.split("== Initial Plan ==").head
    val gateLines = finalPlan.linesIterator.filter(_.contains("bloommightcontain")).toSeq
    assert(gateLines.nonEmpty && gateLines.forall(_.matches(""".*\*\(\d+\) Filter.*""")),
      s"bloom gate must be inside a WholeStageCodegen span:\n$p")
    // a bloom over inserted keys can never report a false negative
    assert(tagged.filter($"part_id" < 10 && !$"_maybe").count() === 0)
  }

  test("warm query constructors run no Spark job (no schema inference per table read)") {
    // CLAUDE.md: query constructors must not run jobs. A bare
    // read.parquet(table) infers its schema with a one-task job on every
    // call; ParquetTables.read pays it once per file set
    assert(SparkEntry.queries eq SparkEntry.queries, "the registry is built once")
    val qs = Seq("tpch_q3_shipping", "tpch_q18_large_orders", "s7_idempotency_dedup",
                 "x1_payload_extract", "d1_exact_dedup")
    qs.foreach(q => SparkEntry.queries(q)(spark, sf)) // warm-up: first reads infer
    qs.foreach { q =>
      assert(TestSpark.jobsDuring(SparkEntry.queries(q)(spark, sf)) === 0, q)
    }
  }

  test("every sf0.001 fixture table reads through ParquetTables exactly as a bare read.parquet") {
    val tables = new java.io.File(sf).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10, tables.mkString(","))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    tables.foreach { t =>
      val path = s"$sf/$t"
      val bare = spark.read.parquet(path)
      graft.core.ParquetTables.read(spark, path)
      val warm = graft.core.ParquetTables.read(spark, path) // served from the cache
      assert(warm.schema === bare.schema, t)
      assert(rows(warm) === rows(bare), t)
    }
  }
}

package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Corpus-preparation operators a training-data pipeline runs before any
  * model sees a token — profiling, splitting, and context packing — each
  * built as the plan that survives 100 TB:
  *
  *  - `t4_corpus_profile`: per-source distribution profile with EXACT
  *    nearest-rank percentiles. Percentile-by-sort is a single-task trap at
  *    scale; instead the values are pre-aggregated per (source, n_chars)
  *    (bounded by the distinct-value count, not the row count), cum-summed
  *    with a source-local window, and the rank test `100·cum ≥ p·n` stays
  *    in integers — bit-identical in any engine, no float interpolation.
  *
  *  - `d5_train_split`: deterministic stratified train/val/test split via a
  *    multiplicative hash of doc_id — pure map-side (no shuffle before the
  *    count agg), reproducible across engines and runs, the property a
  *    training pipeline needs so splits never leak when data is re-read.
  *
  *  - `t5_context_pack`: greedy sequential packing of docs (in doc_id
  *    order) into fixed token-budget context windows: window =
  *    floor(exclusive-prefix-sum of tokens / budget). A naive
  *    `Window.orderBy(doc_id)` prefix sum puts the WHOLE corpus through
  *    one task; this uses the same two-phase distributed prefix sum as the
  *    engine's sequence assignment (range-partition, per-partition totals
  *    collected — metadata-sized — then a broadcast running offset).
  *
  *  - `t6_pii_scrub`: PII redaction (emails, phone numbers, IPv4) via
  *    chained codegen'd `regexp_replace` — pure map-side, zero shuffle
  *    before the per-source audit agg. The synthetic corpus carries no
  *    PII, so the query plants deterministic doc_id-derived PII first and
  *    the oracle verifies the scrubber found ALL of it and left NONE
  *    (residual count is computed post-scrub, not assumed).
  *
  *  - `d8_url_dedup`: URL canonicalization dedup — lowercase scheme+host,
  *    upgrade http→https, strip default ports / utm_* tracking params /
  *    fragments / trailing slash, then count per-source collapse. All
  *    regex-only (no replacement groups: Java `$n` vs RE2 `\n` differ),
  *    so Spark and DuckDB run literally the same patterns.
  *
  *  - `t7_repetition`: intra-document repetition ratio (duplicate-bigram
  *    permille), the classic repetitious-text quality gate — pure map-side
  *    array math per doc, integer permille so both engines agree exactly.
  *
  *  - `t8_mixture_weights`: per-source sampling weights to steer the token
  *    mixture toward a uniform target — per-source token totals (one
  *    shuffle), the corpus total as a broadcast single row, all shares and
  *    weights in integer permille.
  *
  *  - `t9_epoch_shuffle`: deterministic global permutation for training-
  *    epoch data ordering (a training run must see the corpus in a
  *    reproducible shuffled order, re-derivable from the seed alone).
  *    Position = global rank in (hash-key, doc_id) order. A
  *    `row_number() OVER (ORDER BY key)` is a single-task trap at scale;
  *    this uses the engine's two-phase prefix shape — range-partition by
  *    key, per-partition COUNTS collected (metadata-sized), broadcast
  *    exclusive offsets, local increment.
  *
  *  - `t10_stratified_sample`: deterministic Bernoulli sample via the
  *    same multiplicative-hash bucket family as d5 — pure map-side
  *    membership (reproducible across engines/runs/SFs: a doc's
  *    membership never depends on the rest of the corpus), audited
  *    per source with sampled checksums.
  */
object CorpusQueries {

  /** t5: token budget per packed context window. */
  val PackBudget = 256L

  /** d5: permille split boundaries (800 train / 100 val / 100 test). */
  val TrainPermille = 800L
  val ValPermille   = 900L

  /** d5's permille split bucket over an arbitrary id column — a
    * multiplicative hash in [0, 1000), all operations bounded in Long so
    * the same expression is exact in Spark and DuckDB. ONE definition for
    * the split itself (d5/d7) and d22's leakage audit, which buckets BOTH
    * endpoints of a dup pair. */
  private[llm] def splitBucketOf(c: String): String =
    s"(($c % 1000003) * 2654435761 + 12345) % 1000"
  /** The split name for an id column — Spark and DuckDB share the text. */
  private[llm] def splitCaseOf(c: String): String =
    s"""CASE WHEN ${splitBucketOf(c)} < $TrainPermille THEN 'train'
       |     WHEN ${splitBucketOf(c)} < $ValPermille THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** t9: epoch-seeded shuffle key (same hash family, epoch seed 777).
    * Collisions are possible (doc_id folds through 1000003), so every
    * ordering over it ties-break by doc_id — total and engine-identical. */
  private[llm] val shuffleKey = "((doc_id % 1000003) * 2654435761 + 777) % 1000000007"

  /** t10: sample-membership bucket in [0, 1000) (seed 999) and the rate. */
  private[llm] val sampleBucket = "((doc_id % 1000003) * 2654435761 + 999) % 1000"
  val SampleRatePermille = 200L

  /** t11: linear-counting bitmap width. The estimate quality knob: a
    * register file of m bits per (source) — fixed size however large the
    * corpus grows, which is the whole point of the sketch. */
  val LinearCountBits = 4096L

  /** t21: HyperLogLog geometry (Flajolet et al. 2007). p precision bits →
    * m = 2^p registers per source; the remaining 32−p hash bits feed the
    * leading-zero rank, so ranks live in [1, 32−p+1]. The estimate is kept
    * integer-exact across engines: Σ 2^−M[j] is summed as 2^(HllFp −
    * M[j]) fixed-point longs and the bias constant α_m enters as the
    * pre-scaled literal [[HllAlpha16]] = floor(α_256 · 2^16), so the
    * estimate α·m²/Σ — with m² = 2^16 exactly cancelling the α scale —
    * collapses to `floor(α16 · 2^HllFp / S_scaled)`: pure long division
    * in Spark and DuckDB both. */
  val HllP       = 8
  val HllM       = 1 << HllP        // 256 registers
  val HllRestBits = 32 - HllP       // 24 rank-feeding bits
  val HllFp      = 30               // fixed-point scale for Σ 2^−M[j]
  val HllAlpha16 = 47073L           // floor(0.7182725 * 2^16), α for m=256
  /** Flajolet's small-range correction as integers: linear-counting
    * estimates round(m·ln(m/e)) for e = 1..m−1 EMPTY registers, computed
    * once here and embedded as the SAME literals in both engines' plans
    * (the md5-dyadic-literal trick) — the corrected estimate stays
    * bit-identical without either engine evaluating a float log at query
    * time. Applied when registers remain empty and the raw estimate is
    * below 2.5m (the standard HLL regime switch). */
  val HllLinearCount: IndexedSeq[Long] =
    (1 until HllM).map(e => Math.round(HllM.toDouble * Math.log(HllM.toDouble / e)))

  /** t22: count-min sketch geometry (Cormode & Muthukrishnan 2005). d
    * independent rows (seeded FNV streams) × w counters — 3·1024 longs
    * per sketch however large the corpus, mergeable by addition. The
    * audit reports the top-[[CmsTopK]] exact heavy hitters against their
    * sketch estimates (CMS never underestimates; the overshoot column is
    * the collision noise the d×w budget buys down). */
  val CmsRows = 3
  val CmsWidth = 1024L
  val CmsTopK = 20

  /** t23: Cavnar–Trenkle (1994) n-gram language ID — per-language ranked
    * trigram profiles of this size, compared to each doc's top
    * [[LangIdDocTop]] trigrams by the out-of-place measure (rank distance;
    * a gram absent from a language profile costs the full profile size).
    * All ranks are integers with a total (count DESC, gram ASC)
    * tie-break, so profiles, distances, and argmin predictions are
    * bit-identical across engines: both engines index strings by code
    * point (the trigram windows agree), and the 21-bit packed-long gram
    * order ([[graft.functions.CodePointTrigrams]]) equals UTF-8 byte
    * order — DuckDB's binary collation — for ANY input, ASCII or not. */
  val LangIdProfile = 50L
  val LangIdDocTop  = 20L

  /** t24: DSIR importance resampling (Xie et al. 2023) — hashed-bigram
    * feature space size (DSIR's fixed-bucket trick: both "LMs" stay
    * bucket-bounded however large the corpus) and the keep fraction in
    * permille (top 20% of raw docs by importance, ties inclusive). */
  val DsirBuckets      = 512

  /** t28 RAG chunking: window size (words) and stride — overlap =
    * [[ChunkWords]] − [[ChunkStride]] words, the context carried across
    * chunk boundaries so a retrieval hit near an edge still sees its
    * surroundings. */
  val ChunkWords  = 24
  val ChunkStride = 16
  val DsirKeepPermille = 200L

  /** t25: Gopher repetition thresholds — permille of a doc's word chars
    * that the most-covering n-gram may span before the doc drops
    * (Rae et al. 2021 Table A1: 20%/18%/16% for n = 2/3/4). */
  val RepTop2Permille = 200L
  val RepTop3Permille = 180L
  val RepTop4Permille = 160L

  /** d14: the C4-style global-dedup unit — non-overlapping spans of this
    * many words (the corpus has no sentence boundaries to span over). */
  val SpanWords = 5

  /** d17: the exact-substring unit — SLIDING windows of this many words
    * (stride 1, unlike d14's non-overlapping spans: a repeat is caught at
    * every alignment, so its exact extent is measurable). */
  val SubstrGramWords = 5
  /** d17: flag threshold — a maximal run of ≥ this many consecutive
    * duplicated grams (= run + [[SubstrGramWords]] − 1 duplicated words,
    * ≥ 12 here: the Lee et al. min-match-length knob in word units). */
  val SubstrMinRunGrams = 8

  /** t19: BPE merge-learning rounds. Each round is one vocab-sized pair
    * count + a LIMIT-1 argmax; K bounds the learned table (real
    * tokenizers run tens of thousands of rounds of exactly this step —
    * the ENGINE contract is the round, not the vocabulary size). */
  val BpeLearnMerges = 6

  // t18: the Gopher quality-rule gate (Rae et al. 2021, public — Table A1's
  // heuristics). The RULE SHAPES are the contract; the band constants are
  // config, here tuned so every rule is exercised by the synthetic corpus
  // (Gopher's own bands: words 50..100k, mean word length 3..10 chars,
  // symbol ratio 0.1, 80% alpha words, ≥2 stop words).
  val GopherMinWords           = 40L
  val GopherMaxWords           = 100000L
  val GopherMeanLenLowPermille = 4000L  // mean word length, chars ×1000
  val GopherMeanLenHighPermille = 5000L
  val GopherMaxSymbolPermille  = 100L   // '#' + '…'-style ellipsis per word
  val GopherMinAlphaPermille   = 800L   // words containing ≥1 letter
  val GopherMinStopWords       = 2L     // distinct members of the t1 stop set

  // ---- t15: the curation funnel's stage gates (CCNet/C4-style pipeline
  // order: cheap structural gates first, the model score next, dedup — the
  // only non-map-side stage — last, over the already-shrunk survivor set).
  // Every doc is attributed to the FIRST stage that drops it, so the
  // per-stage counts read as a funnel: n_docs = Σ drops + kept.
  val FunnelMinWords       = 20L  // len gate: shorter docs carry no signal
  val FunnelLang           = "en" // lang gate: the training target language
  val FunnelMaxRepPermille = 100L // rep gate: stricter than t7's 500 audit
                                  // line — a funnel drops marginal docs a
                                  // standalone audit only flags

  /** t17: token budget per exported training shard (t5's window budget is
    * the per-sample context; this is the per-FILE dataloader unit). */
  val ShardTokenBudget = 2048L

  // ---- t16: LM-surprise (perplexity-filter) band, in permille of bits
  // per bigram. The CCNet filter keeps the MIDDLE of the perplexity
  // distribution: too-predictable text is boilerplate, too-surprising is
  // gibberish. Thresholds bracket the synthetic corpus's p10/p90 (measured
  // 4407/4611 at sf0.01) so both reject bands are exercised. ----
  val LmLowBitsPermille  = 4400L
  val LmHighBitsPermille = 4620L

  /** t12: resample-membership bucket (seed 555 — independent of t10's). */
  private[llm] val resampleBucket = "((doc_id % 1000003) * 2654435761 + 555) % 1000"

  /** t8/t12 shared: per-source mixture weights toward a uniform-token
    * target. weight_permille = 1000·total div (n_sources·src_tokens):
    * sampling at that rate per source yields a uniform token mixture. The
    * corpus total is ONE row — broadcast, never a shuffle of the fact
    * side. `greatest(…, 1)` guards the divisions: a source whose text has
    * no [a-z0-9] tokens (CJK-only, punctuation-only) has src_tokens = 0,
    * and Spark's default ANSI mode turns that into a DIVIDE_BY_ZERO crash
    * while DuckDB's `// 0` yields NULL — the guard pins BOTH engines to
    * the same convention (a token-less source gets the max weight and
    * contributes nothing to shares). ONE definition for the Spark frame,
    * with [[mixtureWeightCtes]] its oracle twin, so t8 and t12 can't
    * drift. */
  private def mixtureWeightFrame(s: SparkSession, dir: String): DataFrame = {
    val perSource = docs(s, dir)
      .select(col("source"), expr(tokensExpr).as("tokens"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("src_tokens"))
    val total = perSource.agg(
      sum(col("src_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("src_tokens"),
        expr("(1000 * src_tokens) div greatest(total_tokens, 1)").as("share_permille"),
        expr("(1000 * total_tokens) div (n_sources * greatest(src_tokens, 1))").as("weight_permille"))
  }

  /** DuckDB twin of [[mixtureWeightFrame]]: per_source / t / w CTEs. */
  private def mixtureWeightCtes: String =
    s"""per_source AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY 1
       |), t AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens, count(*) AS n_sources FROM per_source
       |), w AS (
       |  SELECT source, n_docs, src_tokens,
       |    CAST((1000 * src_tokens) // greatest(total_tokens, 1) AS BIGINT) AS share_permille,
       |    CAST((1000 * total_tokens) // (n_sources * greatest(src_tokens, 1)) AS BIGINT) AS weight_permille
       |  FROM per_source CROSS JOIN t
       |)""".stripMargin

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.core.ParquetTables.read(s, s"$dir/documents.parquet")

  /** [[LlmQueries.spread]] applied to the corpus: opt-in for the queries
    * whose per-rep compute is single-task-dominated (t25, t23 — measured
    * 3×/2× warm wins — d17, which joined in round 21 with the same
    * posexplode-dominated profile, and t7 since round 22); everything
    * else keeps the un-spread read (the
    * universal spread taxed every mid-tier query ~0.5 s of task overhead
    * at bench scale — see spread()'s doc for both bounds). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    LlmQueries.spread(s, docs(s, dir), "doc_id", s"$dir/documents.parquet")

  /** t15's staged frame (doc_id, source, n_chars, stage) per (session,
    * dir): the funnel's survivor branch and its final rollup both read it,
    * so it persists narrow (verdict + rollup keys only) instead of
    * re-running the per-word scoring per branch. */
  private val funnelCache = graft.core.SessionMemo.frames()

  /** t16's bigram-token frame (doc_id, bigram, w1) per (session, dir): the
    * LM count, the context count, and the scoring join all read it — four
    * corpus scans with the words/bigrams explode collapse to one build. */
  private val lmTokCache = graft.core.SessionMemo.frames()
  /** t16's vocabulary size per (session, dir) — a single Long (the
    * embCountCache pattern): without it every invocation re-scans the
    * corpus with the words explode just to recount distinct words. */
  private val lmVocabCache = new graft.core.SessionMemo[Long]()
  /** The per-doc LM-surprise frame (doc_id, doc_bits, nb, ap) — the
    * OUTPUT of [[lmDocBits]], memoize-persisted narrow so t16 and the
    * t15 perplexity stage pay the LM joins once per (session, dir)
    * instead of once per invocation (each warm rep was re-running the
    * lm2 shuffle + context broadcast + scoring join over the token
    * frame). */
  private val lmDocCache = graft.core.SessionMemo.frames()

  /** t19/t20 shared: the learned BPE merge table per (session, dir) — K
    * (rank, l, r, count) rows, a decision value like compaction's
    * candidate list. Driver-side Seq (no executor storage). */
  private val bpeMergeCache = new graft.core.SessionMemo[Seq[(Long, String, String, Long)]]()

  /** t23's trained language-ID model per (session, dir): the ranked
    * per-language trigram profile (lang, enc, lrank) — ≤ |langs| ×
    * [[LangIdProfile]] rows, the table a deployment materializes once and
    * classifies against forever (the IVF-centroid / d3-plane-table
    * pattern). Memoize-persisting it moves the training pass (corpus
    * trigram count + the vocab-bounded rank window) to first touch, so
    * warm invocations pay only doc scoring. */
  private val langProfCache = graft.core.SessionMemo.frames()

  /** t22's exact word-count vocabulary (w, cnt) per (session, dir): BOTH
    * the CMS counter grid and the exact heavy-hitter cut fold out of it,
    * so the corpus-side words explode runs once per (session, dir)
    * instead of twice per invocation — at 100 TB that is one full corpus
    * pass instead of two (plus warm reps skipping it entirely).
    * Vocab-bounded, hence the natural memo. */
  private val cmsVocabCache = graft.core.SessionMemo.frames()

  /** t24's trained importance model per (session, dir): the bucket weight
    * table (b, w) — ≤ [[DsirBuckets]] rows — plus the W0 mass normalizer.
    * This IS what DSIR materializes once and scores every shard against;
    * memoizing it means warm invocations pay one scoring scan (explode →
    * broadcast weight probe → per-doc sum), not the LM-building
    * aggregation too. */
  private val dsirLmCache = new graft.core.SessionMemo[(DataFrame, Long)](onEvict = { case (df, _) => df.unpersist(); () })
  /** t24's selection threshold per (session, dir) — a single Long decision
    * value (the bpeMergeCache pattern). Computing it is the one stage of
    * DSIR that is NOT a plain broadcast-join rollup (a nearest-rank cut
    * over the importance distribution), so it runs ONCE at first touch via
    * the two-phase distributed prefix sum and the query constructor stays
    * job-free on warm invocations. */
  private val dsirThrCache = new graft.core.SessionMemo[Long]()

  /** One corpus pass over bigram OCCURRENCES (importance is linear over
    * occurrences — Σ_b c_b·w_b == Σ_occurrences w(b) — so no per-doc
    * bucket histogram is ever built): per-bucket occurrence totals fold
    * to ≤ [[DsirBuckets]] rows with map-side combine, then the bits-trick
    * weights and the W0 normalizer. */
  private def dsirLm(s: SparkSession, dir: String): (DataFrame, Long) =
    dsirLmCache.getOrElseUpdate(s, dir) {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val lm = dsirTokens(s, dir)
        .groupBy("b").agg(
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("np"),
          sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("nq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w0 = lm.agg(expr(
        "cast(length(bin(sum(np) + 1)) - length(bin(sum(nq) + 1)) as bigint)").as("w0"))
        .head.getLong(0)
      val w = lm.select(col("b"),
        expr("cast(length(bin(np + 1)) - length(bin(nq + 1)) as bigint)").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      w.count()
      lm.unpersist()
      (w, w0)
    }

  private def dsirTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("words", expr(LlmQueries.wordsExpr))
      .select(col("doc_id"), col("source"), explode(expr(LlmQueries.bigramsExpr)).as("bg"))
      .withColumn("b", expr(s"graft_fnv32(concat('dsir:', bg)) % $DsirBuckets"))

  /** Per-doc DSIR importance: ONE occurrence-level scan — the broadcast
    * bucket-weight probe feeds a map-side-combinable per-doc sum (importance
    * is linear over occurrences, so no per-doc bucket histogram exists). */
  private def dsirImportance(s: SparkSession, dir: String): DataFrame = {
    val (w, w0) = dsirLm(s, dir)
    dsirTokens(s, dir).filter(col("source") =!= "src0")
      .join(broadcast(w), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("w")).as("cw"), count(lit(1)).as("cl"))
      .select(col("doc_id"), col("source"), (col("cw") - lit(w0) * col("cl")).as("imp"))
  }

  /** The nearest-rank selection threshold: the LARGEST importance value
    * whose descending cumulative doc count reaches [[DsirKeepPermille]] of
    * the corpus. A `Window.orderBy(desc(imp))` computes this on ONE task —
    * fine while distinct importance values are few, but importance is an
    * integer SUM over per-doc occurrence counts, so at 100 TB the distinct
    * count approaches n_docs and that window serializes the corpus. This is
    * the t5/t17 two-phase distributed prefix sum instead: range-partition
    * the value-aggregated (imp, cnt) frame DESC by imp, collect the
    * O(ranges) per-range count totals, broadcast exclusive offsets, and let
    * each range find its first quota-reaching value locally — the global
    * threshold is the max over ≤ ranges candidates. Partition-boundary
    * independent by construction (the desc traversal result does not depend
    * on where range bounds fall), hence layout-independent. */
  private def dsirThreshold(s: SparkSession, dir: String): Long =
    dsirThrCache.getOrElseUpdate(s, dir) {
      val byVal = dsirImportance(s, dir)
        .groupBy("imp").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val parts  = math.max(1, s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
        val sorted = byVal.repartitionByRange(parts, col("imp").desc)
          .sortWithinPartitions(col("imp").desc)
        val impIdx = sorted.schema.fieldIndex("imp")
        val cntIdx = sorted.schema.fieldIndex("cnt")
        val rdd    = sorted.rdd
        // per-range doc totals: O(ranges) collect, metadata-sized
        val perRange = rdd
          .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.map(_.getLong(cntIdx)).sum))
          .collect().sortBy(_._1).map(_._2)
        val n    = perRange.sum
        val offs = perRange.scanLeft(0L)(_ + _)
        val offB = s.sparkContext.broadcast(offs)
        val quota = DsirKeepPermille
        // each range emits at most its FIRST quota-reaching value; ranges
        // are desc-ordered, so the boundary range's candidate is the max
        val cands = rdd.mapPartitionsWithIndex { (i, it) =>
          var cc = offB.value(i)
          var found: Option[Long] = None
          while (found.isEmpty && it.hasNext) {
            val r = it.next()
            cc += r.getLong(cntIdx)
            if (cc * 1000 >= quota * n) found = Some(r.getLong(impIdx))
          }
          found.iterator
        }.collect()
        require(cands.nonEmpty, s"dsir threshold: no importance values under $dir")
        cands.max
      } finally { byVal.unpersist(); () }
    }

  private def cmsVocab(s: SparkSession, dir: String): DataFrame =
    cmsVocabCache.getOrElseUpdate(s, dir) {
      docs(s, dir).select(explode(expr(LlmQueries.wordsExpr)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Train the Cavnar–Trenkle profiles: count trigrams per (lang, gram)
    * with map-side combine (the aggregate key is vocabulary-bounded —
    * doc_id never enters training state), rank inside each language by
    * (count DESC, gram ASC), keep the top [[LangIdProfile]]. Grams are
    * [[graft.functions.CodePointTrigrams]] longs end-to-end: packed order
    * == UTF-8 byte order, so the rank tie-break equals the oracle's
    * binary string collation for any input. */
  private def langProfiles(s: SparkSession, dir: String): DataFrame =
    langProfCache.getOrElseUpdate(s, dir) {
      graft.functions.GraftFunctions.ensureRegistered(s)
      docs(s, dir)
        .select(col("lang"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= 3)
        .select(col("lang"), explode(expr("graft_trigrams(t)")).as("enc"))
        .groupBy(col("lang"), col("enc"))
        .agg(count(lit(1)).as("c"))
        .withColumn("lrank", row_number().over(
          Window.partitionBy("lang").orderBy(desc("c"), asc("enc"))).cast("long"))
        .filter(col("lrank") <= LangIdProfile)
        .select("lang", "enc", "lrank")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** BPE symbol-boundary plumbing shared by the learner and the apply
    * pass. Boundaries are DOUBLE U+0001 separators: a merge pattern
    * consumes only the INNER separator of each shared boundary
    * (sep·l·sep·sep·r·sep → sep·lr·sep), so back-to-back occurrences of
    * the winning pair all merge in one pass — the zero-width lookaround
    * semantics of Sennrich's re.sub, which a single-separator pattern
    * cannot reproduce ("mama" would under-merge to [ma, m, a] because
    * the shared boundary is consumed). The U+0001 separator cannot occur
    * inside a symbol (symbols are whitespace-split word characters; a
    * corpus carrying literal U+0001 bytes needs upstream sanitation). */
  private[llm] val BpeSep  = "char(1)"
  private[llm] val BpeSep2 = s"concat($BpeSep, $BpeSep)"
  private def bpeSeqExpr(wordCol: String): String =
    s"concat($BpeSep2, array_join(transform(sequence(1, length($wordCol)), i -> substring($wordCol, i, 1)), $BpeSep2), $BpeSep2)"
  // Spark string literals need BACKSLASH escaping — SQL-style quote
  // doubling would parse 'n''t' as adjacent-literal concatenation ("nt")
  // and silently corrupt the pattern
  private def bpeQuote(x: String): String = x.replace("\\", "\\\\").replace("'", "\\'")
  private def bpeMergeApplied(seqExpr: String, l: String, r: String): String =
    s"replace($seqExpr, concat($BpeSep, '${bpeQuote(l)}', $BpeSep2, '${bpeQuote(r)}', $BpeSep), concat($BpeSep, '${bpeQuote(l)}${bpeQuote(r)}', $BpeSep))"
  private def bpeTokenCount(seqCol: String): String =
    s"cast(size(filter(split($seqCol, $BpeSep), x -> x != '')) as bigint)"

  /** The K learning rounds (Sennrich et al. 2016): everything runs over
    * the VOCABULARY frame (word, count) — corpus-sized text folds to the
    * bounded word-count table first, so each round is one
    * partial-aggregatable (l, r) pair-count shuffle over vocab rows plus
    * a LIMIT-1 argmax. The chosen pair (ONE row per round) is collected
    * and embedded as literals in the next round's plan; the driver sees
    * K rows total. Tie-break: count desc, then (l, r) binary-ascending —
    * identical in both engines. */
  private def bpeLearnedMerges(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    bpeMergeCache.getOrElseUpdate(s, dir) {
      val base = docs(s, dir)
        .select(explode(expr(LlmQueries.wordsExpr)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .withColumn("seq", expr(bpeSeqExpr("word")))
        .select("cnt", "seq")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      try {
        var seqs: DataFrame = base
        (1 to BpeLearnMerges).foreach { round =>
          val top = seqs
            .select(col("cnt"), expr(s"filter(split(seq, $BpeSep), x -> x != '')").as("syms"))
            .filter(size(col("syms")) >= 2)
            .select(col("cnt"), explode(expr(
              "transform(sequence(1, size(syms) - 1), i -> named_struct('l', element_at(syms, i), 'r', element_at(syms, i + 1)))")).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum("cnt").as("pcnt"))
            .orderBy(col("pcnt").desc, col("l"), col("r"))
            .limit(1).collect()
          top.headOption.foreach { row =>
            val (lSym, rSym, c) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((round.toLong, lSym, rSym, c))
            seqs = seqs.withColumn("seq", expr(bpeMergeApplied("seq", lSym, rSym)))
          }
        }
      } finally base.unpersist()
      merges.toSeq
    }

  /** DuckDB twin of [[bpeAppliedVocab]]: the t19 learning chain re-unrolled
    * CARRYING the word column (the apply pass needs word → final
    * segmentation), producing CTEs `sw` (source, word, cnt) and `applied`
    * (word, n_tokens). Shared prefix of the t20 and t27 twins — the learned
    * merges must be the same rows as t19's pc/p argmax chain. */
  private def bpeApplySqlPrefix: String = {
    def round(i: Int) =
      s"""pc$i AS (
         |  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
         |    SELECT cnt, syms[i] AS l, syms[i + 1] AS r FROM (
         |      SELECT cnt, list_filter(string_split(seq, chr(1)), x -> x != '') AS syms FROM a${i - 1}),
         |      LATERAL unnest(generate_series(1, len(syms) - 1)) t(i)
         |    WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |p$i AS (SELECT l, r, pcnt FROM pc$i ORDER BY pcnt DESC, l, r LIMIT 1),
         |a$i AS (SELECT word, cnt, replace(seq,
         |          coalesce((SELECT chr(1) || l || chr(1) || chr(1) || r || chr(1) FROM p$i), chr(2)),
         |          coalesce((SELECT chr(1) || l || r || chr(1) FROM p$i), chr(2))) AS seq FROM a${i - 1})""".stripMargin
    s"""base AS (
       |  SELECT source, list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
       |  FROM documents
       |), sw AS (
       |  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT source, unnest(words) AS word FROM base) GROUP BY 1, 2),
       |w0 AS (SELECT word, CAST(sum(cnt) AS BIGINT) AS cnt FROM sw GROUP BY 1),
       |a0 AS (
       |  SELECT word, cnt,
       |         chr(1) || chr(1) || array_to_string(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), chr(1) || chr(1)) || chr(1) || chr(1) AS seq
       |  FROM w0),
       |${(1 to BpeLearnMerges).map(round).mkString(",\n")},
       |applied AS (
       |  SELECT word, CAST(len(list_filter(string_split(seq, chr(1)), x -> x != '')) AS BIGINT) AS n_tokens
       |  FROM a$BpeLearnMerges)""".stripMargin
  }

  /** t20/t27 shared apply pass: per-(source, word) occurrence counts plus
    * the learned merges applied over the DISTINCT vocabulary — the corpus
    * folds to vocab × sources first, the K codegen'd replaces never touch
    * corpus text, and token counts join back on the word key (vocab-sized
    * frames, one bounded shuffle). ONE definition so the mean ratio (t20)
    * and the fertility histogram (t27) segment identically. */
  private def bpeAppliedVocab(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val merges = bpeLearnedMerges(s, dir)
    val sourceWords = docs(s, dir)
      .select(col("source"), explode(expr(LlmQueries.wordsExpr)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val seqApplied = merges.foldLeft(
      sourceWords.select("word").distinct().withColumn("seq", expr(bpeSeqExpr("word")))) {
        case (df, (_, l, r, _)) => df.withColumn("seq", expr(bpeMergeApplied("seq", l, r)))
      }
    val tokens = seqApplied.select(col("word"), expr(bpeTokenCount("seq")).as("n_tokens"))
    (sourceWords, tokens)
  }

  /** The per-doc LM-surprise scorer shared by t16 and the t15 perplexity
    * funnel stage — ONE definition of the bigram LM so the filter band
    * can never drift from the audit. Returns (doc_id, doc_bits, nb, ap):
    * integer total surprise bits, bigram count, and the permille average
    * (`ap`) the band gates on; docs with no bigrams are absent (LEFT join
    * and treat null as "too short"). Scale shape: the bigram LM is ONE
    * corpus shuffle (count by bigram); the context-count table is
    * vocabulary-sized and BROADCAST (see the note at lm1); scoring joins
    * each bigram occurrence to its own LM row (bigram-key co-partitioned,
    * posting-local) and folds per doc with map-side combine — the
    * standard distributed LM-scoring dataflow. */
  private def lmDocBits(s: SparkSession, dir: String): DataFrame =
    lmDocCache.getOrElseUpdate(s, dir)(buildLmDocBits(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def buildLmDocBits(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).withColumn("words", expr(LlmQueries.wordsExpr))
    val toks = lmTokCache.getOrElseUpdate(s, dir)(base
      .select(col("doc_id"), explode(expr(LlmQueries.bigramsExpr)).as("bigram"))
      .withColumn("w1", expr("split(bigram, ' ')[0]"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val lm2   = toks.groupBy("bigram").agg(count(lit(1)).as("n2"))
    // SCALE ASSUMPTION (weaker than lm2's co-partitioned join): the
    // broadcast hint presumes a bounded word-level vocabulary — real
    // corpora plateau in the tens of millions of distinct words (a
    // few hundred MB of (word, count)), inside the broadcast ceiling,
    // but the tail is unbounded in principle. If a corpus breaks the
    // assumption, drop this one hint and the planner falls back to the
    // same bigram-style shuffle join lm2 uses; the plan shape is pinned
    // in PlanAuditSpec, so the fallback is a deliberate edit, not a
    // silent regression.
    val lm1   = toks.groupBy("w1").agg(count(lit(1)).as("n1"))
    // vocabulary size memoized as one Long — a metadata-sized collect,
    // so warm invocations skip the words-explode distinct scan entirely
    val v = lmVocabCache.getOrElseUpdate(s, dir)(
      base.select(explode(col("words")).as("w"))
        .agg(countDistinct(col("w"))).head.getLong(0))
    toks.join(lm2, "bigram")
      .join(broadcast(lm1), "w1")
      .withColumn("bits", expr(s"cast(length(bin(n1 + ${v}L)) - length(bin(n2 + 1)) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(sum("bits").as("doc_bits"), count(lit(1)).as("nb"))
      .withColumn("ap", expr("(1000 * doc_bits) div nb"))
  }

  /** t15's staged frame: every MAP-SIDE funnel gate evaluated in one
    * corpus scan, memoize-persisted narrow (doc_id, source, n_chars,
    * stage — the heavy word/bigram intermediates are dropped before the
    * persist). Shared by t15 and the t15_funnel_ppl variant; it feeds the
    * survivor semi-joins AND the rollup join of each, so without the memo
    * the per-word classifier scoring would run once per branch per
    * query. */
  private def funnelStaged(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    funnelCache.getOrElseUpdate(s, dir)(docs(s, dir)
      .withColumn("words", expr(LlmQueries.wordsExpr))
      .withColumn("bigrams", expr(LlmQueries.bigramsExpr))
      .withColumn("nt", size(col("bigrams")).cast("long"))
      .withColumn("rep_permille",
        when(col("nt") === 0L, lit(0L))
          .otherwise(expr("(1000 * (nt - size(array_distinct(bigrams)))) div nt")))
      // t14's hashed-weight linear score — same expression, same gate
      .withColumn("score", expr(
        """aggregate(transform(words, w -> cast(graft_fnv32(w) % 16 as bigint) - 8),
          |          cast(0 as bigint), (a, x) -> a + x)""".stripMargin))
      .withColumn("stage",
        when(size(col("words")) < FunnelMinWords, "len")
          .when(col("lang") =!= FunnelLang, "lang")
          .when(col("rep_permille") >= FunnelMaxRepPermille, "rep")
          .when(col("score") < 0, "cls"))
      // the heavy intermediates are DROPPED before persisting: only the
      // stage verdict and the rollup keys stay resident
      .select("doc_id", "source", "n_chars", "stage")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** The funnel's dedup stage + per-source rollup over a staged frame
    * carrying `gate_stage` (the first-fail verdict of every NON-dedup
    * gate). Dedup runs among gate survivors only (pipelines dedup AFTER
    * quality gates — a pair whose better-quality copy was already dropped
    * keeps its surviving copy): of each surviving dup pair the higher
    * doc_id is dropped — pairwise-greedy admission, the d16 arrival-order
    * rule (d6's connected components is the full-cluster variant). The
    * pair generator is d4's NgramMaxDf-capped posting index — bounded
    * fan-out per posting, never all-pairs. */
  private def funnelRollup(s: SparkSession, dir: String,
                           staged: DataFrame, withPpl: Boolean): DataFrame = {
    val survivors = staged.filter(col("gate_stage").isNull).select("doc_id")
    val dupDropped = LlmQueries.ngramDupPairs(s, dir)
      .join(survivors.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(survivors.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("dup_drop", lit(true))
    val fin = staged.join(dupDropped, Seq("doc_id"), "left")
      .withColumn("final_stage",
        coalesce(col("gate_stage"), when(col("dup_drop"), "dup").otherwise(lit("kept"))))
    val aggs =
      Seq(sum(when(col("final_stage") === "len", 1L).otherwise(0L)).as("n_drop_len"),
          sum(when(col("final_stage") === "lang", 1L).otherwise(0L)).as("n_drop_lang"),
          sum(when(col("final_stage") === "rep", 1L).otherwise(0L)).as("n_drop_rep"),
          sum(when(col("final_stage") === "cls", 1L).otherwise(0L)).as("n_drop_cls")) ++
      (if (withPpl) Seq(sum(when(col("final_stage") === "ppl", 1L).otherwise(0L)).as("n_drop_ppl"))
       else Seq.empty) ++
      Seq(sum(when(col("final_stage") === "dup", 1L).otherwise(0L)).as("n_drop_dup"),
          sum(when(col("final_stage") === "kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("final_stage") === "kept", col("n_chars")).otherwise(0L)).as("kept_chars"))
    fin.groupBy("source").agg(count(lit(1)).as("n_docs"), aggs: _*)
  }

  /** t6: PII patterns — conservative constructs only (char classes, bounded
    * repeats, `\b`), valid and identical in Java regex and RE2/DuckDB. */
  private[llm] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[llm] val PhoneRe = "\\+1-555-[0-9]{4}"
  private[llm] val Ipv4Re  = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** BPE-ish subword token count (same regex as t1_text_stats). */
  private val tokensExpr =
    "cast(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)) as long)"

  /** t13: toy-BPE merge table — frequent English character n-grams as the
    * learned vocabulary, ordered LONGEST-FIRST then by priority. Real BPE
    * applies merges rank by rank; this toy fixes the trained table and
    * applies ONE greedy left-to-right non-overlapping merge pass, which is
    * exactly what a global regex scan does: both Java regex (Spark) and
    * RE2 (DuckDB) match leftmost-position-first, first-listed-alternative,
    * resuming after each match — so a single `regexp_extract_all` IS the
    * merge pass, bit-identical across engines. Vocabulary = 26 letters +
    * these merges; a match of length L collapses L chars into one token. */
  private[graft] val BpeMerges: Seq[String] = graft.functions.BpeTokens.Merges
  private[graft] val BpeMergePattern = BpeMerges.mkString("(", "|", ")")

  /** Tokens = in-vocab chars (every [a-z] char is a base token) minus the
    * chars saved by merges (L-char merge: L→1 token, saves L-1). The scan
    * is the codegen'd [[graft.functions.BpeTokens]] kernel (java.util.regex
    * was the whole query's cost); the DuckDB twin keeps the equivalent
    * regex formulation, property-gated in GraftExpressionsSpec. Pure
    * map-side — the kernel a 100 TB token-budget pass runs. */
  private[llm] val bpeTokensExpr = "graft_bpe_tokens(lower(text))"

  /** t5/t13 shared: greedy sequential packing of a (doc_id, tokens) frame
    * into fixed token-budget context windows, window = floor(exclusive
    * prefix sum / [[PackBudget]]). A naive `Window.orderBy(doc_id)` prefix
    * sum puts the WHOLE corpus through one task; this is the engine's
    * two-phase distributed prefix sum — range-partition by doc_id,
    * per-range totals collected (O(ranges), metadata-sized), broadcast
    * running offsets, per-partition local scan. */
  /** The two-phase distributed prefix-sum assignment shared by t5/t13
    * packing and t17 sharding: range-partition by `orderCols`, collect the
    * metadata-sized per-range token totals, broadcast exclusive offsets,
    * assign each doc its exclusive-prefix div `budget` window locally.
    * Returns the per-doc frame (doc_id, tokens, window_id[, chash]) — an
    * optional long `chash` column in the input (a per-doc content hash)
    * rides through the assignment for manifest checksums. */
  private def packBy(s: SparkSession, d: DataFrame, budget: Long,
                     orderCols: Seq[String]): DataFrame = {
    val parts  = math.max(1, s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
    val sorted = d.repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = sorted.schema
    val docIdx = schema.fieldIndex("doc_id")
    val tokIdx = schema.fieldIndex("tokens")
    val carry  = if (schema.fieldNames.contains("chash")) Some(schema.fieldIndex("chash")) else None
    val rdd    = sorted.rdd
    // per-range token totals: O(ranges) collect, metadata-sized
    val perRange = rdd
      .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.map(_.getLong(tokIdx)).sum))
      .collect().sortBy(_._1).map(_._2)
    val offsets = perRange.scanLeft(0L)(_ + _) // exclusive prefix per range
    val offB    = s.sparkContext.broadcast(offsets)
    val packed = rdd.mapPartitionsWithIndex { (i, it) =>
      var prefix = offB.value(i)
      it.map { r =>
        val t  = r.getLong(tokIdx)
        val wi = prefix / budget // exclusive-prefix window assignment
        prefix += t
        carry match {
          case Some(ci) => Row(r.getLong(docIdx), t, wi, r.getLong(ci))
          case None     => Row(r.getLong(docIdx), t, wi)
        }
      }
    }
    val fields = Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("tokens", LongType, nullable = false),
      StructField("window_id", LongType, nullable = false)) ++
      carry.map(_ => StructField("chash", LongType, nullable = false))
    s.createDataFrame(packed, StructType(fields))
  }

  private def packWindows(s: SparkSession, d: DataFrame): DataFrame =
    packBy(s, d, PackBudget, Seq("doc_id"))
      .groupBy("window_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- RAG ingestion: sliding-window chunking with overlap ----------
    "t28_chunk_overlap" -> { (s, dir) =>
      // The chunking pass every RAG ingestion pipeline runs before
      // embedding: fixed [[ChunkWords]]-word windows at [[ChunkStride]]
      // stride (overlap carries boundary context), n_chunks =
      // 1 + ceil((n − W)/S) for n > W, one chunk for short docs, none for
      // empty ones. Audited per source as counts + an ORDER-INDEPENDENT
      // XOR of per-chunk FNV fingerprints (content-addressed chunk ids —
      // the dedup key a chunk store uses) + total chunk words (the
      // overlap-inflation factor). Pure map-side explode; the only
      // exchanges are two source-bounded rollups; integer end to end, so
      // the rows hash-gate.
      graft.functions.GraftFunctions.ensureRegistered(s)
      val (w, st) = (ChunkWords, ChunkStride)
      val base = docs(s, dir).withColumn("words", expr(LlmQueries.wordsExpr))
      val chunksExpr =
        s"""CASE WHEN size(words) = 0 THEN array()
           |ELSE transform(
           |  sequence(0, CASE WHEN size(words) <= $w THEN 0
           |                   ELSE ((size(words) - $w) + $st - 1) div $st END),
           |  i -> named_struct(
           |    'fp', graft_fnv32(array_join(
           |            slice(words, i * $st + 1, least(i * $st + $w, size(words)) - i * $st), ' ')),
           |    'nw', cast(least(i * $st + $w, size(words)) - i * $st as bigint)))
           |END""".stripMargin
      val stats = base.select(col("source"), explode(expr(chunksExpr)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
             expr("bit_xor(c.fp)").as("chunk_xor"),
             sum(col("c.nw")).as("sum_chunk_words"))
      base.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(stats, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("chunk_xor"), lit(0L)).as("chunk_xor"),
          coalesce(col("sum_chunk_words"), lit(0L)).as("sum_chunk_words"))
    },

    "t4_corpus_profile" -> { (s, dir) =>
      val d = docs(s, dir)
      val totals = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"))
      // distinct-value pre-aggregation: the window below runs over
      // |distinct n_chars| rows per source, not |docs| rows
      val counts = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts.withColumn("cum", sum(col("c")).over(w))
      def rankPick(permille: Long, as: String) =
        min(when(col("cum") * 1000 >= lit(permille) * col("n_docs"), col("n_chars"))).as(as)
      cum.join(totals, "source")
        .groupBy(col("source"), col("n_docs"), col("n_langs"), col("total_chars").cast("long").as("total_chars"))
        .agg(rankPick(500L, "p50_chars"), rankPick(900L, "p90_chars"), rankPick(990L, "p99_chars"))
    },

    "d5_train_split" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("split", expr(splitCaseOf("doc_id")))
        .groupBy("source", "split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"), // checksum: one reassigned doc breaks it
          sum(col("n_chars")).cast("long").as("sum_chars"))
    },

    "t5_context_pack" -> { (s, dir) =>
      packWindows(s, docs(s, dir).select(col("doc_id"), expr(tokensExpr).as("tokens")))
    },

    // ---------- dataset shard export: manifest of training-order shards ----------
    "t17_shard_export" -> { (s, dir) =>
      // The export stage a training run reads: shards are cut along the
      // t9 TRAINING ORDER (epoch-shuffle key, doc_id tie-break) with a
      // token budget per shard — the dataloader unit — and the result is
      // the shard MANIFEST: doc/token counts, doc-id range, and an
      // order-independent CONTENT checksum (bit_xor of per-doc
      // fnv32("id:text") — corrupted or swapped text changes it, not just
      // membership) a reader verifies after download. Same two-phase
      // distributed prefix sum as t5 ([[packBy]] — per-range totals
      // collected metadata-sized, never a single-task global window),
      // ordered by the shuffle key instead of doc_id.
      graft.functions.GraftFunctions.ensureRegistered(s)
      val d = docs(s, dir).select(col("doc_id"),
        expr(tokensExpr).as("tokens"),
        expr(shuffleKey).as("skey"),
        expr("graft_fnv32(concat(cast(doc_id as string), ':', text))").as("chash"))
      packBy(s, d, ShardTokenBudget, Seq("skey", "doc_id"))
        .groupBy(col("window_id").as("shard_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          expr("bit_xor(chash)").as("checksum"))
    },

    // ---------- context packing under the toy-BPE token budget ----------
    "t13_bpe_pack" -> { (s, dir) =>
      // t5's two-phase prefix-sum pack, but budgeted in [[bpeTokensExpr]]
      // subword tokens instead of regex word counts — the packing/mixture
      // family measured the way a training pipeline actually budgets.
      graft.functions.GraftFunctions.ensureRegistered(s)
      packWindows(s, docs(s, dir).select(col("doc_id"), expr(bpeTokensExpr).as("tokens")))
    },

    // ---------- corpus-global repeated-span removal (C4-style) ----------
    "d14_span_dedup" -> { (s, dir) =>
      // The C4 pipeline's global dedup (Raffel et al. 2020: any
      // three-sentence span occurring more than once in the corpus is
      // removed): this corpus has no sentence boundaries, so the unit is
      // the non-overlapping [[SpanWords]]-word span.
      //
      // SKEW-IMMUNE shape: a doc's dup-span count is its span count MINUS
      // its corpus-UNIQUE span count, and a df=1 span has exactly one
      // owner, which rides the span aggregate as min(struct(doc, src)) —
      // so the spans frame is never JOINED on the span key at all. The
      // earlier spans⋈counts join re-shuffled every occurrence of a
      // corpus-viral span onto one task (the classic hot-key straggler);
      // here both span-keyed operations are partial-aggregatable, so a
      // viral span leaves each map task as ONE combined row. Remaining
      // exchanges: one on span (bounded), one on (doc, source), one
      // doc-keyed join — all skew-free at any scale.
      val spans = docs(s, dir)
        .select(col("doc_id"), col("source"), expr(LlmQueries.wordsExpr).as("words"))
        .select(col("doc_id"), col("source"), explode(expr(
          s"""CASE WHEN size(words) < $SpanWords THEN array()
             |ELSE transform(sequence(0, size(words) div $SpanWords - 1),
             |               i -> array_join(slice(words, i * $SpanWords + 1, $SpanWords), ' '))
             |END""".stripMargin)).as("span"))
      val perDoc = spans.groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_spans"))
      val uniquePerDoc = spans.groupBy(col("span"))
        .agg(count(lit(1)).as("span_df"),
             min(struct(col("doc_id"), col("source"))).as("owner"))
        .filter(col("span_df") === 1)
        // keyed on BOTH doc and source, like perDoc: a doc_id appearing
        // under two sources must not get the combined unique count
        // attached to each (doc, source) row
        .groupBy(col("owner.doc_id").as("doc_id"), col("owner.source").as("source"))
        .agg(count(lit(1)).as("n_unique"))
      perDoc.join(uniquePerDoc, Seq("doc_id", "source"), "left")
        .select(col("doc_id"), col("source"), col("n_spans"),
                (col("n_spans") - coalesce(col("n_unique"), lit(0L))).as("n_dup_spans"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_spans").as("n_spans"),
             sum("n_dup_spans").as("n_dup_spans"),
             sum(when(col("n_dup_spans") > 0, 1L).otherwise(0L)).as("n_docs_affected"))
    },

    // ---------- corpus-global exact-substring dedup (suffix-array style) ----------
    "d17_substring_dedup" -> { (s, dir) =>
      // Lee et al. 2022 ("Deduplicating Training Data Makes Language
      // Models Better", public): EXACT-SUBSTRING dedup — any substring of
      // at least the threshold length repeated ANYWHERE in the corpus
      // (across docs or within one) marks every occurrence. The paper
      // builds one corpus-wide suffix array; the distributed twin is
      // sliding word-grams (stride 1) + global df + per-doc maximal runs
      // of consecutive duplicated positions: a run of r grams is an
      // r+G−1-word duplicated substring, so max_run measures the exact
      // extent the suffix array would report (at word granularity).
      //
      // SKEW-IMMUNE d14 shape: the gram frame is NEVER joined on the
      // gram key. A df=1 gram has exactly ONE owner (doc, pos), which
      // rides the gram aggregate as min(doc_id)/min(pos); duplicated
      // positions are then all positions MINUS the unique ones via a
      // (doc_id, pos) anti-join — doc-keyed, skew-free, and a
      // corpus-viral gram leaves each map task as ONE combined row. Run
      // detection windows PER DOC over positions (bounded by the doc's
      // own length — never a corpus-wide window): the islands trick,
      // pos − row_number.
      //
      // Gram KEY shape (round 21 — t25's int-tuple trick applied to the
      // round-20 verdict's slowest warm median; hash WIDENED to 64 bits in
      // round 22 per the r21 verdict): NO gram string is ever built. Each
      // word hashes once (built-in codegen'd xxhash64) and a gram is the
      // fixed-width LONG TUPLE (k1..k5) of its word hashes — the df
      // exchange carries 5 longs instead of a ~30-char concatenated
      // string. Hashed-tuple grouping equals exact-string grouping
      // unless two distinct WORDS collide under the hash: at 32 bits the
      // expected collision count is ~V²/2³³ (≈116 at V=10⁶ — near-certain
      // at corpus scale); at 64 bits it is ~V²/2⁶⁵ (≈3·10⁻⁸ at V=10⁹ —
      // see the collision-bound note in CLAUDE.md). The DuckDB oracle
      // intentionally keeps the exact string-gram formulation as the
      // stronger independent check.
      graft.functions.GraftFunctions.ensureRegistered(s)
      val kCols = (1 to SubstrGramWords).map(j => s"k$j")
      val gramTupleExpr =
        s"""transform(sequence(1, size(wh) - ${SubstrGramWords - 1}),
           |          i -> struct(${(0 until SubstrGramWords)
                .map(j => s"element_at(wh, i + $j) AS k${j + 1}").mkString(", ")}))""".stripMargin
      val g = docsSpread(s, dir)
        .select(col("doc_id"), col("source"), expr(LlmQueries.wordsExpr).as("words"))
        .filter(size(col("words")) >= SubstrGramWords)
        .withColumn("wh", expr("transform(words, w -> xxhash64(w))"))
        .select(col("doc_id"), col("source"),
                posexplode(expr(gramTupleExpr)).as(Seq("pos", "gk")))
        .select(Seq(col("doc_id"), col("source"), col("pos")) ++
                kCols.map(k => col(s"gk.$k").as(k)): _*)
      val uniq = g.groupBy(kCols.head, kCols.tail: _*)
        .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"), min("pos").as("pos"))
        .filter(col("df") === 1)
        .select("doc_id", "pos")
      // The anti-join side only consumes (doc_id, source, pos) — deriving
      // it from `g` re-built the gram tuples (per-word hashing + struct
      // posexplode over the whole corpus) just to throw them away (round
      // 22, guide §1.2 per-task work). A plain integer sequence yields the
      // IDENTICAL position range: posexplode over the gram transform is
      // 0-based with size(words) − G + 1 elements, i.e. exactly
      // sequence(0, size(words) − G).
      val dup = docsSpread(s, dir)
        .select(col("doc_id"), col("source"), expr(LlmQueries.wordsExpr).as("words"))
        .filter(size(col("words")) >= SubstrGramWords)
        .select(col("doc_id"), col("source"),
                explode(expr(s"sequence(0, size(words) - $SubstrGramWords)")).as("pos"))
        .join(uniq, Seq("doc_id", "pos"), "left_anti")
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val perDoc = dup
        .withColumn("grp", col("pos") - row_number().over(wDoc))
        .groupBy(col("doc_id"), col("source"), col("grp"))
        .agg(count(lit(1)).as("run"))
        .groupBy("doc_id", "source")
        .agg(max("run").as("max_run"), sum("run").as("n_dup_grams"))
      docs(s, dir).select("doc_id", "source")
        .join(perDoc, Seq("doc_id", "source"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("max_run") >= SubstrMinRunGrams, 1L).otherwise(0L)).as("n_docs_flagged"),
          coalesce(sum("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          coalesce(max("max_run"), lit(0L)).as("max_run"))
    },

    // ---------- BPE merge learning ----------
    "t19_bpe_learn" -> { (s, dir) =>
      // BPE merge LEARNING (Sennrich et al. 2016, public): K rounds of
      // count-adjacent-symbol-pairs → take the most frequent pair →
      // merge it corpus-wide. t13 APPLIES a fixed merge table; this
      // LEARNS one — the other half of the tokenizer story. The K-row
      // table comes from [[bpeLearnedMerges]] (shared with t20, which
      // applies it), returned as a local frame.
      val merges = bpeLearnedMerges(s, dir)
      val st = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("merge_rank", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("l_sym", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("r_sym", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pair_count", org.apache.spark.sql.types.LongType)))
      val rows = merges.map { case (rank, l, r, c) => org.apache.spark.sql.Row(rank, l, r, c) }
      s.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, st)
    },

    // ---------- BPE tokenization under the LEARNED merge table ----------
    "t20_bpe_apply" -> { (s, dir) =>
      // The learner's output APPLIED back to the corpus — what a
      // tokenize-and-count pass before training actually runs: every
      // word segmented under the K learned merges, rolled up per source
      // as token/word totals and the tokens-per-word ratio (integer
      // permille — the compression the vocabulary bought).
      //
      // Distributed shape: the corpus folds to (source, word) counts
      // first (bounded by vocab × sources), the merge chain runs over
      // the DISTINCT vocabulary only (K codegen'd replaces — never over
      // corpus text), and the token counts join back on the word key:
      // vocab-sized frames on both sides, one bounded shuffle. At 100 TB
      // the corpus-side work is exactly one explode + partial-agg scan.
      val (sourceWords, tokens) = bpeAppliedVocab(s, dir)
      sourceWords.join(tokens, "word")
        .groupBy("source").agg(
          count(lit(1)).as("n_word_types"),
          sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_tokens")).as("n_tokens"),
          expr("cast((1000 * sum(cnt * n_tokens)) div sum(cnt) as bigint)").as("tok_permille"))
    },

    // ---------- tokenizer fertility histogram ----------
    "t27_fertility_hist" -> { (s, dir) =>
      // t20 reports the MEAN tokens-per-word; a tokenizer QA pass needs
      // the DISTRIBUTION — how much of each source's word mass the
      // vocabulary covers whole (1 token), splits once (2), or shatters
      // (4+ ≈ character fallback). One row per (source, bucket): word
      // types, word occurrences, and the occurrence share in permille.
      // Same [[bpeAppliedVocab]] frames as t20 (vocab-sized merge chain,
      // corpus folds to (source, word) counts first); the per-source
      // totals frame is source-cardinality and broadcast for the share
      // division — no window over the corpus.
      val (sourceWords, tokens) = bpeAppliedVocab(s, dir)
      val bucketed = sourceWords.join(tokens, "word")
        .withColumn("fertility_bucket", least(col("n_tokens"), lit(4L)))
        .groupBy("source", "fertility_bucket")
        .agg(count(lit(1)).as("n_word_types"), sum(col("cnt")).as("n_words"))
      val totals = bucketed.groupBy("source").agg(sum("n_words").as("_tw"))
      bucketed.join(broadcast(totals), "source")
        .select(col("source"), col("fertility_bucket"),
                col("n_word_types"), col("n_words"),
                expr("cast((1000 * n_words) div _tw as bigint)").as("share_permille"))
    },

    // ---------- Gopher quality-rule gate ----------
    "t18_gopher_rules" -> { (s, dir) =>
      // The Gopher/MassiveText repetition-independent document filters
      // (Rae et al. 2021): word-count band, mean-word-length band,
      // symbol-to-word ratio, minimum alphabetic-word share, minimum
      // stop-word presence — each doc attributed to the FIRST rule it
      // fails (t15's funnel accounting applied to the Gopher rule set, so
      // n_docs = Σ drops + kept reconciles exactly). Every rule is
      // integer permille arithmetic over one corpus scan — pure map-side,
      // zero shuffles before the per-source rollup, the t14 scale shape.
      docs(s, dir)
        .withColumn("words", expr(LlmQueries.wordsExpr))
        .withColumn("nw", size(col("words")).cast("long"))
        .withColumn("ml", expr("CASE WHEN nw = 0 THEN 0 ELSE (1000 * aggregate(words, cast(0 as bigint), (a, x) -> a + length(x))) div nw END"))
        .withColumn("nsym", expr("cast(length(text) - length(replace(text, '#', '')) + (length(text) - length(replace(text, '...', ''))) div 3 as bigint)"))
        .withColumn("nalpha", expr("cast(size(filter(words, w -> w rlike '[a-z]')) as bigint)"))
        .withColumn("nstop", expr("cast(size(filter(array('the','a','of','and','to','in'), sw -> array_contains(words, sw))) as bigint)"))
        .withColumn("rule",
          when(col("nw") < GopherMinWords || col("nw") > GopherMaxWords, "words")
            .when(col("ml") < GopherMeanLenLowPermille || col("ml") > GopherMeanLenHighPermille, "meanlen")
            .when(col("nsym") * 1000L > col("nw") * GopherMaxSymbolPermille, "symbol")
            .when(col("nalpha") * 1000L < col("nw") * GopherMinAlphaPermille, "alpha")
            .when(col("nstop") < GopherMinStopWords, "stop"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rule") === "words", 1L).otherwise(0L)).as("n_drop_words"),
          sum(when(col("rule") === "meanlen", 1L).otherwise(0L)).as("n_drop_meanlen"),
          sum(when(col("rule") === "symbol", 1L).otherwise(0L)).as("n_drop_symbol"),
          sum(when(col("rule") === "alpha", 1L).otherwise(0L)).as("n_drop_alpha"),
          sum(when(col("rule") === "stop", 1L).otherwise(0L)).as("n_drop_stop"),
          sum(when(col("rule").isNull, 1L).otherwise(0L)).as("n_kept"))
    },

    // ---------- fastText-style linear quality filter ----------
    "t14_quality_classifier" -> { (s, dir) =>
      // The canonical LLM-corpus quality gate (CCNet/LLaMA use a fastText
      // linear classifier): tokens → weight lookup → summed score →
      // threshold. Weights come from the hashing trick with a fixed seed
      // (integer in [-8, 7] per token hash — a deterministic stand-in for
      // trained weights; the ENGINE contract is the shape: pure map-side
      // codegen'd scoring, integer-exact, zero shuffles before the
      // per-source audit agg, no model file to distribute because the
      // "table" is the hash itself).
      graft.functions.GraftFunctions.ensureRegistered(s)
      docs(s, dir)
        .select(col("source"), expr(LlmQueries.qualityScoreExpr).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_keep"),
             sum("score").as("sum_score"))
    },

    // ---------- the curation funnel: every filter composed, with per-stage accounting ----------
    "t15_filter_funnel" -> { (s, dir) =>
      // The end-to-end quality pipeline a corpus owner actually ships:
      // length gate → language gate → repetition gate → classifier gate →
      // near-dedup, each doc attributed to the FIRST stage that drops it
      // (so the per-source rows read as a funnel and reconcile exactly:
      // n_docs = n_drop_* + n_kept). Scale shape: stages 1–4 are pure
      // map-side expressions over one corpus scan — zero shuffles; the
      // dedup stage reuses d4's posting-bucketed pair generator (the
      // NgramMaxDf-capped inverted index — bounded fan-out per posting)
      // restricted to stage-1–4 survivors, keeping d1's "lowest doc_id of
      // a dup pair wins" admission rule; the only other exchange is the
      // final per-source rollup.
      val staged = funnelStaged(s, dir)
      funnelRollup(s, dir, staged.withColumn("gate_stage", col("stage")), withPpl = false)
    },

    // ---------- the funnel with the CCNet perplexity band inside the chain ----------
    "t15_funnel_ppl" -> { (s, dir) =>
      // The CCNet-style variant: the LM-surprise band gate (t16's
      // [[lmDocBits]] — the SAME memoized bigram LM, one definition)
      // joins the chain after the classifier, before dedup. First-fail
      // accounting gains an `n_drop_ppl` stage: a doc outside
      // [LmLowBitsPermille, LmHighBitsPermille] that passed the map-side
      // gates is attributed to the LM band, and the dedup stage then runs
      // over the SMALLER survivor set. The staged frame and the LM are
      // both shared memos, so running t15 and this variant side by side
      // pays one corpus scoring pass and one LM build between them. A
      // stage-null doc always has >= FunnelMinWords words, hence >= 1
      // bigram, hence a non-null `ap` — the left join can't leak nulls
      // into the band predicate for surviving docs.
      val staged = funnelStaged(s, dir)
      val withPpl = staged
        .join(lmDocBits(s, dir).select("doc_id", "ap"), Seq("doc_id"), "left")
        .withColumn("gate_stage", coalesce(col("stage"),
          when(col("ap") < LmLowBitsPermille || col("ap") > LmHighBitsPermille, "ppl")))
      funnelRollup(s, dir, withPpl, withPpl = true)
    },

    // ---------- LM-surprise perplexity filter (the CCNet quality signal) ----------
    "t16_perplexity_filter" -> { (s, dir) =>
      // A bigram LM trained ON THE CORPUS scores every document's
      // cross-entropy, and the filter keeps the middle band (CCNet: low
      // perplexity = boilerplate, high = gibberish). Floating log() is not
      // bit-portable across engines, so surprise is measured in INTEGER
      // BITS: for Laplace probability (n2+1)/(n1+V), the per-occurrence
      // surprise is bits(n1+V) − bits(n2+1) where bits(x) = length of the
      // binary representation = floor(log2 x)+1 — log2 at power-of-two
      // resolution, exact in both engines via length(bin(x)) on integers.
      // Scale shape: the bigram LM is ONE corpus shuffle (count by bigram);
      // the context-count table is vocabulary-sized and BROADCAST; scoring
      // joins each bigram occurrence to its own LM row (bigram-key
      // co-partitioned, posting-local) and folds per doc with map-side
      // combine — the standard distributed LM-scoring dataflow.
      docs(s, dir).select("doc_id", "source")
        .join(lmDocBits(s, dir), Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("nb").isNull, 1L).otherwise(0L)).as("n_short"),
          coalesce(sum("doc_bits"), lit(0L)).as("sum_bits"),
          coalesce(sum("nb"), lit(0L)).as("sum_bigrams"),
          sum(when(col("ap") < LmLowBitsPermille, 1L).otherwise(0L)).as("n_low"),
          sum(when(col("ap") > LmHighBitsPermille, 1L).otherwise(0L)).as("n_high"),
          sum(when(col("ap") >= LmLowBitsPermille && col("ap") <= LmHighBitsPermille, 1L)
            .otherwise(0L)).as("n_kept"))
    },

    "t6_pii_scrub" -> { (s, dir) =>
      // plant deterministic doc_id-derived PII (the synthetic corpus has
      // none), scrub it, and AUDIT: every planted item found, zero residual
      val planted = docs(s, dir).withColumn("dirty",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail-"), col("source"), lit(".example.com"),
          lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), expr("(doc_id div 7) % 256").cast("string")))
      def found(c: org.apache.spark.sql.Column, re: String) =
        size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
      val scrubbed = planted.withColumn("clean",
        regexp_replace(regexp_replace(regexp_replace(
          col("dirty"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>"))
      scrubbed.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(found(col("dirty"), EmailRe)).as("emails_found"),
        sum(found(col("dirty"), PhoneRe)).as("phones_found"),
        sum(found(col("dirty"), Ipv4Re)).as("ips_found"),
        sum(found(col("clean"), EmailRe) + found(col("clean"), PhoneRe) +
            found(col("clean"), Ipv4Re)).as("residual_pii"),
        sum(length(col("clean"))).cast("long").as("sum_clean_len"))
    },

    "d8_url_dedup" -> { (s, dir) =>
      // four deterministic variants of one logical URL per within-source
      // group of 4 docs (rank-derived, so the collapse is real whatever the
      // corpus's source striping): mixed-case host, http + default :80,
      // :443 + utm_* tracking params, fragment + trailing slash — the forms
      // a crawler actually emits for one page
      val rn  = row_number().over(Window.partitionBy("source").orderBy("doc_id")) - 1
      val vnt = rn % 4
      val grp = floor(rn / lit(4)).cast("long").cast("string") // rn ≥ 0: floor = integer div
      val url = when(vnt === 0,
          concat(lit("https://WWW."), col("source"), lit(".Example.COM/docs/"), grp))
        .when(vnt === 1,
          concat(lit("http://www."), col("source"), lit(".example.com:80/docs/"), grp, lit("/")))
        .when(vnt === 2,
          concat(lit("https://www."), col("source"), lit(".example.com:443/docs/"), grp,
                 lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"), grp, lit("#section-2")))
      // canonicalize: fragment → tracking params → lowercase scheme+host →
      // http→https → default ports → trailing slash. No replacement groups
      // (Java `$n` vs RE2 `\n` differ); the port patterns assume the
      // path-follows form `:80/`, which URL syntax guarantees here.
      val noFrag  = regexp_replace(url, "#.*$", "")
      val noUtm   = regexp_replace(noFrag, "[?&]utm_[A-Za-z0-9_]+=[^&#]*", "")
      val hostLow = concat(lower(regexp_extract(noUtm, "^[^/]*//[^/?#]*", 0)),
                           regexp_replace(noUtm, "^[^/]*//[^/?#]*", ""))
      val https   = regexp_replace(hostLow, "^http://", "https://")
      val noPort  = regexp_replace(regexp_replace(https, ":80/", "/"), ":443/", "/")
      val canon   = regexp_replace(noPort, "/$", "")
      docs(s, dir)
        .select(col("source"), canon.as("canonical_url"))
        .groupBy("source", "canonical_url").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum(col("c")).as("n_urls"),
          count(lit(1)).as("n_canonical"),
          (sum(col("c")) - count(lit(1))).as("n_duplicates"),
          max(col("c")).as("max_dup_group"),
          sum(length(col("canonical_url")) * col("c")).cast("long").as("checksum_len"))
    },

    "t7_repetition" -> { (s, dir) =>
      // duplicate-bigram permille per doc: 1000·(total − distinct) div
      // total (LlmQueries' shared word split, same bigram pairing as the
      // d4/d9 shingles); docs under 2 words carry no bigrams and are
      // excluded, mirroring the d4/d9 filter (size(words) >= 2 ≡ the old
      // size(bigrams) > 0 on the concatenated-string form).
      // Round 22: the per-doc DISTINCT runs on fixed-width xxhash64
      // word-hash PAIRS instead of concatenated "a b" strings — no
      // per-bigram string is ever allocated (the d17/t25 hashed-key
      // shape; PER-DOC vocabulary, so the collision bound in CLAUDE.md is
      // ~10⁻⁴ per doc even at 32 bits — 64 used here), and nt needs no
      // bigram array at all (size(words) − 1). The read joins the
      // docsSpread opt-in list: the whole tokenize+distinct chain ran as
      // ONE task on the single-split bench corpus (the t25 profile).
      val d = docsSpread(s, dir)
        .withColumn("words", expr(LlmQueries.wordsExpr))
        .filter(size(col("words")) >= 2)
        .withColumn("wh", expr("transform(words, w -> xxhash64(w))"))
        .withColumn("nt", (size(col("words")) - 1).cast("long"))
        .withColumn("nd", expr(
          """cast(size(array_distinct(zip_with(
            |  slice(wh, 1, size(wh) - 1), slice(wh, 2, size(wh) - 1),
            |  (a, b) -> named_struct('a', a, 'b', b)))) as bigint)""".stripMargin))
        .withColumn("rep_permille", expr("(1000 * (nt - nd)) div nt"))
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("sum_bigrams"),
        sum(col("nd")).as("sum_distinct"),
        max(col("rep_permille")).as("max_rep_permille"),
        sum(when(col("rep_permille") >= 500, 1L).otherwise(0L)).as("n_repetitious"))
    },

    "t8_mixture_weights" -> { (s, dir) =>
      mixtureWeightFrame(s, dir)
        .select(col("source"), col("n_docs"), col("src_tokens"),
                col("share_permille"), col("weight_permille"))
    },

    "t9_epoch_shuffle" -> { (s, dir) =>
      // exact global positions without a global window: range-partition by
      // (key, doc_id), collect per-range COUNTS (metadata-sized), then each
      // range numbers its rows from a broadcast exclusive offset — t5's
      // two-phase prefix shape with count instead of token-sum.
      val keyed  = docs(s, dir).select(col("doc_id"), expr(shuffleKey).as("shuffle_key"))
      val parts  = math.max(1, s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
      val sorted = keyed.repartitionByRange(parts, col("shuffle_key"), col("doc_id"))
        .sortWithinPartitions("shuffle_key", "doc_id")
      val rdd = sorted.rdd
      val perRange = rdd
        .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.size.toLong))
        .collect().sortBy(_._1).map(_._2)
      val offsets = perRange.scanLeft(0L)(_ + _)
      val offB    = s.sparkContext.broadcast(offsets)
      val numbered = rdd.mapPartitionsWithIndex { (i, it) =>
        var pos = offB.value(i)
        it.map { r => val p = pos; pos += 1; Row(r.getLong(0), r.getLong(1), p) }
      }
      s.createDataFrame(numbered, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("shuffle_key", LongType, nullable = false),
        StructField("pos", LongType, nullable = false))))
    },

    "t10_stratified_sample" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("b", expr(sampleBucket))
        .withColumn("sampled", col("b") < SampleRatePermille)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          coalesce(sum(when(col("sampled"), col("doc_id"))), lit(0L)).as("sum_sampled_doc_id"),
          coalesce(sum(when(col("sampled"), col("n_chars"))), lit(0L)).cast("long").as("sum_sampled_chars"))
    },

    "t11_linear_counting" -> { (s, dir) =>
      // Cardinality sketching with EXACT cross-engine parity: hash every
      // word into a fixed m-bit register file per source and count the
      // occupied bits — linear counting's observable, all integers (the
      // -m·ln(1 - occupied/m) estimate is a driver-side float the oracle
      // can't hash-compare; occupancy is the sketch). The scale shape:
      // after the distinct, each source carries AT MOST m rows however
      // big its vocabulary — the fixed-size-register property that lets a
      // 100 TB corpus profile in one bounded shuffle. The exact distinct
      // rides along as the accuracy reference (a production run drops it
      // — it is the unbounded thing the sketch replaces).
      graft.functions.GraftFunctions.ensureRegistered(s)
      docs(s, dir)
        .select(col("source"), explode(expr(LlmQueries.wordsExpr)).as("w"))
        .groupBy("source")
        .agg(
          countDistinct(expr(s"graft_fnv32(w) % $LinearCountBits")).as("occupied_bits"),
          countDistinct(col("w")).as("exact_distinct"))
        .withColumn("m_bits", lit(LinearCountBits))
    },

    "t12_mixture_resample" -> { (s, dir) =>
      // t8 × t10 composed: resample every source at ITS OWN mixture
      // weight (uniform-token target, integer permille, capped at keep-
      // all) — the rebalancing pass a training pipeline runs after
      // profiling. The weight table is sources-sized and broadcast; the
      // corpus side stays map-local until the audit agg.
      val weights = mixtureWeightFrame(s, dir)
        .select(col("source"), least(col("weight_permille"), lit(1000L)).as("keep_permille"))
      docs(s, dir)
        .withColumn("b", expr(resampleBucket))
        .join(broadcast(weights), "source")
        .withColumn("kept", col("b") < col("keep_permille"))
        .groupBy("source")
        .agg(
          first(col("keep_permille")).as("keep_permille"),
          count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(col("kept"), col("doc_id"))), lit(0L)).as("sum_kept_doc_id"))
    },

    // ---------- sketch: HyperLogLog cardinality per source ----------
    // ---------- Gopher repetition filters (the half t18 leaves out) ----------
    "t25_gopher_repetition" -> { (s, dir) =>
      // Gopher/MassiveText REPETITION rules (Rae et al. 2021, Table A1) —
      // complementing t18, whose rules are repetition-independent. The
      // corpus is single-line (no \n / sentence structure), so the
      // duplicate-line/paragraph rules are vacuous here; implemented is
      // the top-n-gram character-coverage family for n = 2, 3, 4: a doc
      // fails when the chars covered by its MOST-COVERING REPEATED word
      // n-gram (occurrences × gram chars, over grams occurring ≥ 2 times
      // — a deterministic, tie-free refinement of the paper's "most
      // frequent n-gram" wording that also keeps the rule a REPETITION
      // measure: a once-occurring long gram in a short doc covers a big
      // fraction without any repetition) exceed the 20%/18%/16% band of
      // its total word chars. First-failing-rule attribution,
      // t18/t15-style (n_docs = Σ drops + kept reconciles).
      //
      // Scale shape: ONE corpus TEXT scan and NO gram string is ever
      // built (round 20 — the r19 verdict's slowest warm median spent its
      // time allocating array_join gram strings and shuffling them): each
      // word hashes once (codegen'd fnv32) and measures once, a gram is
      // the fixed-width INT TUPLE of its word hashes with its word-char
      // sum riding along (length(g) − (n−1) ≡ Σ word lengths — the
      // separator arithmetic cancels exactly), and ONE synthetic n=0
      // marker row per doc carries the exact total word chars — so doc
      // presence, totals, and coverage all fold from one (doc, n, k1..k4)
      // fixed-width count exchange with map-side combine; one doc-key
      // fold; no join back, no window, no broadcast side. Integer
      // permille end to end. The hashed keys match exact-string grouping
      // unless two distinct WORDS collide under fnv32 (~V²/2³³ — none in
      // the test corpora); the DuckDB oracle intentionally keeps the
      // exact string-gram formulation as the stronger independent check.
      graft.functions.GraftFunctions.ensureRegistered(s)
      val ns = Seq(2, 3, 4)
      def kExpr(n: Int, j: Int): String =
        if (j < n) s"element_at(wh, i + $j)" else "0"
      val gramArrays =
        s"""array(named_struct('n', 0, 'k1', 0, 'k2', 0, 'k3', 0, 'k4', 0,
           |                   'wc', aggregate(wl, 0, (a, x) -> a + x)))""".stripMargin +:
        ns.map(n =>
          s"""CASE WHEN size(wh) >= $n THEN
             |  transform(sequence(1, size(wh) - ${n - 1}), i -> named_struct(
             |    'n', $n, 'k1', ${kExpr(n, 0)}, 'k2', ${kExpr(n, 1)},
             |    'k3', ${kExpr(n, 2)}, 'k4', ${kExpr(n, 3)},
             |    'wc', ${(0 until n).map(j => s"element_at(wl, i + $j)").mkString(" + ")}))
             |ELSE array() END""".stripMargin)
      val gramsExpr = gramArrays.mkString("concat(", ", ", ")")
      def covered(n: Int) = coalesce(max(when(col("n") === n && col("cnt") >= 2,
        col("cnt") * col("wc"))), lit(0L))
      val perDoc = docsSpread(s, dir)
        .withColumn("words", expr(LlmQueries.wordsExpr))
        .withColumn("wh", expr("transform(words, w -> graft_fnv32(w))"))
        .withColumn("wl", expr("transform(words, w -> length(w))"))
        .select(col("doc_id"), col("source"), explode(expr(gramsExpr)).as("t"))
        .groupBy(col("doc_id"), col("t.n").as("n"),
                 col("t.k1").as("k1"), col("t.k2").as("k2"),
                 col("t.k3").as("k3"), col("t.k4").as("k4"))
        .agg(max(col("source")).as("source"), count(lit(1)).as("cnt"),
             max(col("t.wc")).as("wc"))
        .groupBy(col("doc_id"))
        .agg(max(col("source")).as("source"),
             max(when(col("n") === 0, col("wc").cast("long"))).as("total_chars"),
             covered(2).as("c2"), covered(3).as("c3"), covered(4).as("c4"))
      val p = perDoc
        .select(col("doc_id"), col("source"),
          expr("coalesce((1000 * c2) div total_chars, 0L)").as("p2"),
          expr("coalesce((1000 * c3) div total_chars, 0L)").as("p3"),
          expr("coalesce((1000 * c4) div total_chars, 0L)").as("p4"))
      p.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("p2") > RepTop2Permille, 1L).otherwise(0L)).as("drop_top2"),
        sum(when(col("p2") <= RepTop2Permille && col("p3") > RepTop3Permille, 1L)
          .otherwise(0L)).as("drop_top3"),
        sum(when(col("p2") <= RepTop2Permille && col("p3") <= RepTop3Permille &&
                 col("p4") > RepTop4Permille, 1L).otherwise(0L)).as("drop_top4"),
        sum(when(col("p2") <= RepTop2Permille && col("p3") <= RepTop3Permille &&
                 col("p4") <= RepTop4Permille, 1L).otherwise(0L)).as("n_kept"),
        max(col("p2")).as("max_p2"), max(col("p3")).as("max_p3"),
        max(col("p4")).as("max_p4"))
    },

    // ---------- data selection: DSIR hashed-n-gram importance resampling ----------
    "t24_dsir_select" -> { (s, dir) =>
      // DSIR domain selection (Xie et al. 2023, public): keep the raw
      // documents whose hashed-bigram distribution most resembles a
      // TARGET domain (src0 plays the target). Importance(doc) =
      // Σ_b c_b·(bits(np_b+1) − bits(nq_b+1)) − W0·Σ_b c_b — the exact
      // floor-log2 "bits" trick (t16's length(bin(x))) standing in for
      // log p/q, with W0 = bits(Np+1) − bits(Nq+1) normalizing the two
      // LM masses — integers end to end, so the selection hash-gates.
      // Docs with no bigrams carry no distributional signal and are out
      // of scope on both engines.
      //
      // Scale shape: the feature space is FIXED ([[DsirBuckets]]
      // buckets — DSIR's own trick), so both "LMs" are bucket-bounded
      // frames that BROADCAST; per-doc importance folds through ONE
      // (doc, bucket) count exchange with map-side combine; the
      // selection threshold is the memoized TWO-PHASE distributed prefix
      // sum over the value-aggregated importance frame ([[dsirThreshold]]
      // — no unpartitioned window anywhere); the verdict gate probes the
      // threshold as a plan literal.
      graft.functions.GraftFunctions.ensureRegistered(s)
      val thr = dsirThreshold(s, dir)
      dsirImportance(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("imp") >= lit(thr), 1L).otherwise(0L)).as("n_selected"),
             sum(col("imp")).as("sum_importance"))
        .withColumn("threshold", lit(thr))
    },

    "t21_hll_cardinality" -> { (s, dir) =>
      // t11's estimator upgraded to the production sketch: HyperLogLog
      // registers (m = 2^p per source) instead of a linear-count bitmap.
      // reg = low p hash bits, rank = leading-zero count of the high bits
      // + 1 via the exact floor-log2 trick (length(bin(x))) — integers
      // end to end, including the estimate (fixed-point Σ 2^−M[j], see
      // [[HllAlpha16]]). Scale shape: ONE shuffle onto (source, reg) with
      // map-side max-combine; after it each source is ≤ m rows however
      // large the corpus, and the per-register countDistinct rides the
      // same exchange (same word → same register, so the rollup's sum of
      // per-register distincts IS the exact distinct — the accuracy
      // reference a production run drops).
      graft.functions.GraftFunctions.ensureRegistered(s)
      val maxRank = HllRestBits + 1
      val regs = docs(s, dir)
        .select(col("source"), explode(expr(LlmQueries.wordsExpr)).as("w"))
        .withColumn("h", expr("graft_fnv32(w)"))
        .select(col("source"), col("w"),
                expr(s"h % $HllM").as("reg"),
                expr(s"CASE WHEN h div $HllM = 0 THEN $maxRank ELSE $maxRank - length(bin(h div $HllM)) END").as("rank"))
        .groupBy(col("source"), col("reg"))
        .agg(max(col("rank")).as("m_rank"),
             countDistinct(col("w")).as("reg_distinct"))
      regs.groupBy("source")
        .agg(count(lit(1)).as("n_registers_set"),
             sum(expr(s"shiftleft(cast(1 as bigint), $HllFp - m_rank)")).as("present_inv"),
             sum(col("reg_distinct")).as("exact_distinct"),
             max(col("m_rank")).cast("long").as("max_rank"))
        .withColumn("sum_inv_scaled",
          col("present_inv") +
            (lit(HllM.toLong) - col("n_registers_set")) * lit(1L << HllFp))
        .withColumn("hll_estimate",
          expr(s"(cast($HllAlpha16 as bigint) * cast(shiftleft(cast(1 as bigint), $HllFp) as bigint)) div sum_inv_scaled"))
        .withColumn("corrected_estimate",
          when(col("n_registers_set") < HllM.toLong && col("hll_estimate") * 2 < 5L * HllM,
               element_at(typedLit(HllLinearCount.toArray),
                          (lit(HllM.toLong) - col("n_registers_set")).cast("int")))
            .otherwise(col("hll_estimate")))
        .select(col("source"), col("n_registers_set"), col("sum_inv_scaled"),
                col("hll_estimate"), col("corrected_estimate"),
                col("exact_distinct"), col("max_rank"))
    },

    // ---------- sketch: count-min heavy-hitter audit ----------
    "t22_cms_heavy_hitters" -> { (s, dir) =>
      // Frequency estimation under a fixed memory budget: a d×w count-min
      // sketch ([[CmsRows]]×[[CmsWidth]] counters — mergeable longs,
      // constant size at any corpus scale), audited against the exact
      // top-[[CmsTopK]] tokens. Scale shape: the sketch build is ONE
      // shuffle onto (row, col) with map-side sum-combine and ≤ d·w rows
      // alive after it; the exact side is a vocabulary-bounded aggregate
      // cut to K through TakeOrdered (never a corpus-wide window); the
      // estimate join broadcasts K·d probe rows against the d·w counter
      // frame. CMS never underestimates — `overshoot` is the collision
      // noise the d×w budget buys down.
      graft.functions.GraftFunctions.ensureRegistered(s)
      // ONE corpus pass: both branches fold out of the memoized exact
      // vocabulary frame (w, cnt) — the counter grid sums vocab counts
      // into its (row, col) cells (identical totals to per-occurrence
      // counting, since every occurrence of w lands in the same cell),
      // and the heavy-hitter cut is TakeOrdered over the same frame
      val vocab = cmsVocab(s, dir)
      val probeExpr =
        s"""transform(sequence(0, ${CmsRows - 1}),
           |          r -> named_struct('r', r, 'c', graft_fnv32(concat('cms', r, ':', w)) % $CmsWidth))""".stripMargin
      val counters = vocab
        .select(col("cnt"), explode(expr(probeExpr)).as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
        .agg(sum(col("cnt")).as("cnt"))
      val top = vocab.select(col("w"), col("cnt").as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("w")).limit(CmsTopK)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("exact_cnt"), asc("w"))).cast("long"))
      val probes = top
        .select(col("rank"), col("w"), col("exact_cnt"),
                explode(expr(probeExpr)).as("rc"))
        .select(col("rank"), col("w"), col("exact_cnt"),
                col("rc.r").as("r"), col("rc.c").as("c"))
      counters.join(broadcast(probes), Seq("r", "c"))
        .groupBy(col("rank"), col("w"), col("exact_cnt"))
        .agg(min(col("cnt")).as("cms_estimate"))
        .withColumn("overshoot", col("cms_estimate") - col("exact_cnt"))
    },

    // ---------- text analysis: n-gram language identification ----------
    "t23_langid" -> { (s, dir) =>
      // Cavnar–Trenkle n-gram language ID (see [[LangIdProfile]]): learn a
      // ranked character-trigram profile per labeled language, score every
      // doc's top trigrams by the out-of-place rank distance, predict the
      // argmin language, and report the confusion matrix.
      //
      // Scale shape (alternatives measured — BENCH_NOTES r14/r15): grams
      // are [[graft.functions.CodePointTrigrams]] longs from the scan
      // onward — ONE codegen'd pass packing each trigram into 21-bit
      // big-endian code-point fields, replacing the interpreted
      // per-occurrence substring lambda (one interpreted call + one
      // string allocation per gram, ~1.5M per corpus pass, measured as
      // the dominant stage); packed order == UTF-8 byte order, so every
      // downstream (count DESC, gram ASC) tie-break matches the oracle's
      // binary string collation for ANY input — no ASCII assumption. The
      // trained profile table is memoized per (session, dir)
      // ([[langProfiles]] — the model a deployment materializes once),
      // so a warm invocation pays only doc scoring: the doc-profile cut
      // is the bounded two-phase graft_topk aggregate — NEVER a doc_id
      // window sort; the profile lookups are codegen'd broadcast hash
      // joins (an in-row map-literal probe lost 60% — interpreted
      // element_at is a LINEAR scan of the 250-key MapData per probe; a
      // fully in-row variant also counting grams per-expression lost 3×
      // — O(L²) interpreted lambdas); and the argmin is min(struct(dist,
      // lang)) — a partial-aggregatable aggregate, not a per-doc rank
      // window. After the gram-count exchange every frame shrinks:
      // docs×top, docs×|langs|, |langs|².
      graft.functions.GraftFunctions.ensureRegistered(s)
      val base = docsSpread(s, dir)
        .select(col("doc_id"), col("lang").as("actual_lang"),
                lower(col("text")).as("t"))
        .filter(length(col("t")) >= 3)
      val docCounts = base
        .select(col("doc_id"), col("actual_lang"), explode(expr("graft_trigrams(t)")).as("enc"))
        .groupBy(col("doc_id"), col("actual_lang"), col("enc"))
        .agg(count(lit(1)).as("c"))
      val langProf = langProfiles(s, dir)
      // candidate languages come from the (persisted, vocab-bounded)
      // profile table — any language with ≥1 trained doc has ≥1 profile
      // gram, and reading the memo twice is a cache hit, not the second
      // corpus scan the pre-memo plan avoided by deriving langs from base
      val langs = langProf.select(col("lang")).distinct()
      val docProf = docCounts
        .groupBy(col("doc_id"), col("actual_lang"))
        .agg(graft.functions.TopKByScore.column(
          col("c").cast("double"), col("enc"), lit(0L), LangIdDocTop.toInt).as("top"))
        .select(col("doc_id"), col("actual_lang"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("doc_id"), col("actual_lang"), col("t.id").as("enc"),
                (col("pos") + 1).cast("long").as("drank"))
      val dists = docProf.crossJoin(broadcast(langs))
        .join(broadcast(langProf), Seq("lang", "enc"), "left")
        .groupBy(col("doc_id"), col("actual_lang"), col("lang"))
        .agg(sum(coalesce(abs(col("drank") - col("lrank")),
                          lit(LangIdProfile))).as("dist"))
      dists
        .groupBy(col("doc_id"), col("actual_lang"))
        .agg(min(struct(col("dist"), col("lang"))).as("best"))
        .groupBy(col("actual_lang"), col("best.lang").as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("best.dist")).as("sum_dist"))
    }
  )

  def oracles: Map[String, String] = Map(
    // t19 twin: the same K rounds unrolled as CTE triplets (pair counts →
    // LIMIT-1 argmax → separator-anchored replace). An exhausted
    // vocabulary leaves pK empty; the coalesce(chr(2)) guards turn the
    // replace into a no-op instead of poisoning seq with NULL, and the
    // UNION arms contribute nothing — matching the Spark loop's break.
    "t19_bpe_learn" -> {
      // Boundaries are DOUBLE chr(1)s; the merge pattern consumes only
      // the inner separator of each shared boundary (Sennrich's
      // zero-width-lookaround semantics — back-to-back occurrences of
      // the winning pair all merge), mirroring the Spark side exactly.
      def round(i: Int) =
        s"""pc$i AS (
           |  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
           |    SELECT cnt, syms[i] AS l, syms[i + 1] AS r FROM (
           |      SELECT cnt, list_filter(string_split(seq, chr(1)), x -> x != '') AS syms FROM s${i - 1}),
           |      LATERAL unnest(generate_series(1, len(syms) - 1)) t(i)
           |    WHERE len(syms) >= 2)
           |  GROUP BY 1, 2),
           |p$i AS (SELECT l, r, pcnt FROM pc$i ORDER BY pcnt DESC, l, r LIMIT 1),
           |s$i AS (SELECT cnt, replace(seq,
           |          coalesce((SELECT chr(1) || l || chr(1) || chr(1) || r || chr(1) FROM p$i), chr(2)),
           |          coalesce((SELECT chr(1) || l || r || chr(1) FROM p$i), chr(2))) AS seq FROM s${i - 1})""".stripMargin
      s"""WITH base AS (
         |  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
         |  FROM documents
         |), w0 AS (SELECT word, count(*) AS cnt FROM (SELECT unnest(words) AS word FROM base) GROUP BY 1),
         |s0 AS (
         |  SELECT cnt,
         |         chr(1) || chr(1) || array_to_string(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), chr(1) || chr(1)) || chr(1) || chr(1) AS seq
         |  FROM w0),
         |${(1 to BpeLearnMerges).map(round).mkString(",\n")}
         |${(1 to BpeLearnMerges)
             .map(i => s"SELECT $i::BIGINT AS merge_rank, l AS l_sym, r AS r_sym, pcnt AS pair_count FROM p$i")
             .mkString("\nUNION ALL\n")}""".stripMargin
    },
    // t20 twin: t19's learning chain re-unrolled CARRYING the word column
    // (the apply pass needs word → final segmentation), then token counts
    // joined back to per-(source, word) occurrence counts. The pc/p
    // argmax CTEs are identical in structure to t19's — the learned
    // merges must be the same rows.
    "t20_bpe_apply" ->
      s"""WITH $bpeApplySqlPrefix
         |SELECT sw.source, count(*) AS n_word_types,
         |  CAST(sum(sw.cnt) AS BIGINT) AS n_words,
         |  CAST(sum(sw.cnt * a.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST((1000 * sum(sw.cnt * a.n_tokens)) // sum(sw.cnt) AS BIGINT) AS tok_permille
         |FROM sw JOIN applied a USING (word)
         |GROUP BY 1""".stripMargin,
    // t27 twin: the SAME learn+apply chain as t20's (shared prefix — the
    // two oracles cannot drift), bucketed least(n_tokens, 4) and shared
    // against per-source occurrence totals.
    "t27_fertility_hist" ->
      s"""WITH $bpeApplySqlPrefix,
         |fb AS (
         |  SELECT sw.source, least(a.n_tokens, 4) AS fertility_bucket,
         |         CAST(count(*) AS BIGINT) AS n_word_types,
         |         CAST(sum(sw.cnt) AS BIGINT) AS n_words
         |  FROM sw JOIN applied a USING (word)
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, sum(n_words) AS tw FROM fb GROUP BY 1)
         |SELECT source, CAST(fb.fertility_bucket AS BIGINT) AS fertility_bucket,
         |  fb.n_word_types, fb.n_words,
         |  CAST((1000 * fb.n_words) // t.tw AS BIGINT) AS share_permille
         |FROM fb JOIN tot t USING (source)""".stripMargin,
    "t18_gopher_rules" ->
      s"""WITH w AS (
         |  SELECT source, text,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
         |  FROM documents
         |), m AS (
         |  SELECT source,
         |         len(words)::BIGINT AS nw,
         |         CASE WHEN len(words) = 0 THEN 0
         |              ELSE (1000 * list_sum(list_transform(words, x -> length(x)))) // len(words)
         |         END AS ml,
         |         (length(text) - length(replace(text, '#', ''))
         |          + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS nsym,
         |         len(list_filter(words, x -> regexp_matches(x, '[a-z]')))::BIGINT AS nalpha,
         |         len(list_filter(['the','a','of','and','to','in'], sw -> list_contains(words, sw)))::BIGINT AS nstop
         |  FROM w
         |), r AS (
         |  SELECT source,
         |         CASE WHEN nw < $GopherMinWords OR nw > $GopherMaxWords THEN 'words'
         |              WHEN ml < $GopherMeanLenLowPermille OR ml > $GopherMeanLenHighPermille THEN 'meanlen'
         |              WHEN nsym * 1000 > nw * $GopherMaxSymbolPermille THEN 'symbol'
         |              WHEN nalpha * 1000 < nw * $GopherMinAlphaPermille THEN 'alpha'
         |              WHEN nstop < $GopherMinStopWords THEN 'stop' END AS rule
         |  FROM m
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rule = 'words' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_words,
         |  CAST(sum(CASE WHEN rule = 'meanlen' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_meanlen,
         |  CAST(sum(CASE WHEN rule = 'symbol' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_symbol,
         |  CAST(sum(CASE WHEN rule = 'alpha' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_alpha,
         |  CAST(sum(CASE WHEN rule = 'stop' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_stop,
         |  CAST(sum(CASE WHEN rule IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM r GROUP BY 1""".stripMargin,
    "d17_substring_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, source, i AS pos,
         |         array_to_string(words[i + 1:i + $SubstrGramWords], ' ') AS gram
         |  FROM base, LATERAL unnest(generate_series(0, len(words) - $SubstrGramWords)) t(i)
         |  WHERE len(words) >= $SubstrGramWords
         |), dfreq AS (
         |  SELECT gram, count(*) AS df, min(doc_id) AS od, min(pos) AS op FROM g GROUP BY 1
         |), uniq AS (SELECT od AS doc_id, op AS pos FROM dfreq WHERE df = 1),
         |dup AS (
         |  SELECT g.doc_id, g.source, g.pos
         |  FROM g ANTI JOIN uniq u ON g.doc_id = u.doc_id AND g.pos = u.pos
         |), runs AS (
         |  SELECT doc_id, source,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM dup
         |), rl AS (SELECT doc_id, source, grp, count(*) AS run FROM runs GROUP BY 1, 2, 3),
         |pd AS (SELECT doc_id, source, max(run) AS max_run, sum(run) AS n_dup_grams
         |       FROM rl GROUP BY 1, 2)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN pd.max_run >= $SubstrMinRunGrams THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
         |  CAST(coalesce(sum(pd.n_dup_grams), 0) AS BIGINT) AS n_dup_grams,
         |  CAST(coalesce(max(pd.max_run), 0) AS BIGINT) AS max_run
         |FROM documents d LEFT JOIN pd USING (doc_id, source)
         |GROUP BY 1""".stripMargin,
    "d14_span_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
         |  FROM documents
         |), sp AS (
         |  SELECT doc_id, source, unnest(
         |    CASE WHEN len(words) < $SpanWords THEN []
         |    ELSE list_transform(generate_series(0, len(words) // $SpanWords - 1),
         |                        i -> array_to_string(words[i * $SpanWords + 1 : i * $SpanWords + $SpanWords], ' '))
         |    END) AS span
         |  FROM w
         |), df AS (SELECT span, count(*) AS span_df FROM sp GROUP BY 1),
         |per_doc AS (
         |  SELECT sp.doc_id, sp.source, count(*) AS n_spans,
         |         CAST(sum(CASE WHEN df.span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         |  FROM sp JOIN df USING (span) GROUP BY 1, 2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
         |  CAST(sum(n_dup_spans) AS BIGINT) AS n_dup_spans,
         |  CAST(sum(CASE WHEN n_dup_spans > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_affected
         |FROM per_doc GROUP BY 1""".stripMargin,
    "t14_quality_classifier" ->
      s"""WITH w AS (
         |  SELECT source,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
         |  FROM documents
         |), sc AS (
         |  SELECT source, ${LlmQueries.duckQualityScore("words")} AS score
         |  FROM w)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(sum(score) AS BIGINT) AS sum_score
         |FROM sc GROUP BY 1""".stripMargin,
    "t16_perplexity_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS words
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(words) < 2 THEN []
         |    ELSE list_transform(generate_series(1, len(words) - 1), i -> words[i] || ' ' || words[i + 1])
         |    END AS bg
         |  FROM base
         |), tok AS (
         |  SELECT doc_id, string_split(bigram, ' ')[1] AS w1, bigram
         |  FROM (SELECT doc_id, unnest(bg) AS bigram FROM sh)
         |), c2 AS (SELECT bigram, count(*) AS n2 FROM tok GROUP BY 1),
         |c1 AS (SELECT w1, count(*) AS n1 FROM tok GROUP BY 1),
         |vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
         |          FROM (SELECT unnest(words) AS w FROM base)),
         |scored AS (
         |  SELECT t.doc_id,
         |         CAST(sum(length(bin(c1.n1 + (SELECT v FROM vocab))) - length(bin(c2.n2 + 1))) AS BIGINT) AS doc_bits,
         |         CAST(count(*) AS BIGINT) AS nb
         |  FROM tok t JOIN c2 USING (bigram) JOIN c1 USING (w1)
         |  GROUP BY 1
         |), pd AS (
         |  SELECT d.doc_id, d.source, s.doc_bits, s.nb,
         |         CASE WHEN s.nb IS NULL THEN NULL ELSE (1000 * s.doc_bits) // s.nb END AS ap
         |  FROM documents d LEFT JOIN scored s USING (doc_id)
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN nb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |  CAST(coalesce(sum(doc_bits), 0) AS BIGINT) AS sum_bits,
         |  CAST(coalesce(sum(nb), 0) AS BIGINT) AS sum_bigrams,
         |  CAST(sum(CASE WHEN ap < $LmLowBitsPermille THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         |  CAST(sum(CASE WHEN ap > $LmHighBitsPermille THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
         |  CAST(sum(CASE WHEN ap >= $LmLowBitsPermille AND ap <= $LmHighBitsPermille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM pd GROUP BY 1""".stripMargin,
    // Composes LlmQueries.ngramPairCtes (the d4 dup chain — ONE definition
    // of the dup criterion) with the t7/t14 stage expressions.
    "t15_filter_funnel" ->
      s"""WITH ${LlmQueries.ngramPairCtes},
         |st AS (
         |  SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |         len(b.words) AS nw,
         |         CASE WHEN len(s.shingles) = 0 THEN 0
         |              ELSE (1000 * (len(s.shingles) - len(list_distinct(s.shingles)))) // len(s.shingles)
         |         END AS rep,
         |         CAST(coalesce(list_sum(list_transform(b.words, w -> (${LlmQueries.fnv32Expr("w")}) % 16 - 8)), 0) AS BIGINT) AS score
         |  FROM documents d JOIN base b USING (doc_id) JOIN sh s USING (doc_id)
         |), staged AS (
         |  SELECT *, CASE WHEN nw < $FunnelMinWords THEN 'len'
         |                 WHEN lang != '$FunnelLang' THEN 'lang'
         |                 WHEN rep >= $FunnelMaxRepPermille THEN 'rep'
         |                 WHEN score < 0 THEN 'cls' END AS stage
         |  FROM st
         |), surv AS (SELECT doc_id FROM staged WHERE stage IS NULL),
         |dd AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM dup
         |  WHERE doc_a IN (SELECT doc_id FROM surv) AND doc_b IN (SELECT doc_id FROM surv)
         |), fin AS (
         |  SELECT sg.source, sg.n_chars,
         |         coalesce(sg.stage, CASE WHEN dd.doc_id IS NOT NULL THEN 'dup' ELSE 'kept' END) AS final_stage
         |  FROM staged sg LEFT JOIN dd USING (doc_id)
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN final_stage = 'len' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_len,
         |  CAST(sum(CASE WHEN final_stage = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_lang,
         |  CAST(sum(CASE WHEN final_stage = 'rep' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_rep,
         |  CAST(sum(CASE WHEN final_stage = 'cls' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_cls,
         |  CAST(sum(CASE WHEN final_stage = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dup,
         |  CAST(sum(CASE WHEN final_stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN final_stage = 'kept' THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM fin GROUP BY 1""".stripMargin,
    // The ppl variant: t15's chain with t16's LM band between cls and dup.
    // The LM CTEs reuse ngramPairCtes' sh — shingles ARE word bigrams (one
    // definition of the bigram on both engines), so the funnel's LM
    // cannot drift from d4's shingle pipeline either.
    "t15_funnel_ppl" ->
      s"""WITH ${LlmQueries.ngramPairCtes},
         |tok AS (
         |  SELECT doc_id, string_split(bigram, ' ')[1] AS w1, bigram
         |  FROM (SELECT doc_id, unnest(shingles) AS bigram FROM sh)
         |), c2 AS (SELECT bigram, count(*) AS n2 FROM tok GROUP BY 1),
         |c1 AS (SELECT w1, count(*) AS n1 FROM tok GROUP BY 1),
         |vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
         |          FROM (SELECT unnest(words) AS w FROM base)),
         |scored_lm AS (
         |  SELECT t.doc_id,
         |         CAST(sum(length(bin(c1.n1 + (SELECT v FROM vocab))) - length(bin(c2.n2 + 1))) AS BIGINT) AS doc_bits,
         |         CAST(count(*) AS BIGINT) AS nb
         |  FROM tok t JOIN c2 USING (bigram) JOIN c1 USING (w1)
         |  GROUP BY 1
         |), st AS (
         |  SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |         len(b.words) AS nw,
         |         CASE WHEN len(s.shingles) = 0 THEN 0
         |              ELSE (1000 * (len(s.shingles) - len(list_distinct(s.shingles)))) // len(s.shingles)
         |         END AS rep,
         |         CAST(coalesce(list_sum(list_transform(b.words, w -> (${LlmQueries.fnv32Expr("w")}) % 16 - 8)), 0) AS BIGINT) AS score,
         |         CASE WHEN lm.nb IS NULL THEN NULL ELSE (1000 * lm.doc_bits) // lm.nb END AS ap
         |  FROM documents d JOIN base b USING (doc_id) JOIN sh s USING (doc_id)
         |       LEFT JOIN scored_lm lm USING (doc_id)
         |), staged AS (
         |  SELECT *, CASE WHEN nw < $FunnelMinWords THEN 'len'
         |                 WHEN lang != '$FunnelLang' THEN 'lang'
         |                 WHEN rep >= $FunnelMaxRepPermille THEN 'rep'
         |                 WHEN score < 0 THEN 'cls'
         |                 WHEN ap < $LmLowBitsPermille OR ap > $LmHighBitsPermille THEN 'ppl' END AS stage
         |  FROM st
         |), surv AS (SELECT doc_id FROM staged WHERE stage IS NULL),
         |dd AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM dup
         |  WHERE doc_a IN (SELECT doc_id FROM surv) AND doc_b IN (SELECT doc_id FROM surv)
         |), fin AS (
         |  SELECT sg.source, sg.n_chars,
         |         coalesce(sg.stage, CASE WHEN dd.doc_id IS NOT NULL THEN 'dup' ELSE 'kept' END) AS final_stage
         |  FROM staged sg LEFT JOIN dd USING (doc_id)
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN final_stage = 'len' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_len,
         |  CAST(sum(CASE WHEN final_stage = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_lang,
         |  CAST(sum(CASE WHEN final_stage = 'rep' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_rep,
         |  CAST(sum(CASE WHEN final_stage = 'cls' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_cls,
         |  CAST(sum(CASE WHEN final_stage = 'ppl' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_ppl,
         |  CAST(sum(CASE WHEN final_stage = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dup,
         |  CAST(sum(CASE WHEN final_stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN final_stage = 'kept' THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM fin GROUP BY 1""".stripMargin,
    "t4_corpus_profile" ->
      """WITH t AS (
        |  SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |         CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY 1
        |), c AS (
        |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
        |), cum AS (
        |  SELECT source, n_chars,
        |         sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c
        |)
        |SELECT t.source, t.n_docs, t.n_langs, t.total_chars,
        |  min(CASE WHEN cum.cum * 1000 >= 500 * t.n_docs THEN cum.n_chars END) AS p50_chars,
        |  min(CASE WHEN cum.cum * 1000 >= 900 * t.n_docs THEN cum.n_chars END) AS p90_chars,
        |  min(CASE WHEN cum.cum * 1000 >= 990 * t.n_docs THEN cum.n_chars END) AS p99_chars
        |FROM cum JOIN t USING (source)
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    // t28 twin: the same integer chunk-count arithmetic, 1-based DuckDB
    // list slicing mirroring Spark's slice(start, len), the shared fnv32
    // over the space-joined window, bit_xor both sides (order-free).
    "t28_chunk_overlap" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, ${LlmQueries.duckWords} AS words FROM documents
         |), idx AS (
         |  SELECT source, words,
         |         unnest(generate_series(0, CASE WHEN len(words) <= $ChunkWords THEN 0
         |                                        ELSE ((len(words) - $ChunkWords) + $ChunkStride - 1) // $ChunkStride END)) AS i
         |  FROM base WHERE len(words) > 0
         |), ch AS (
         |  SELECT source,
         |         ${LlmQueries.fnv32Expr(s"array_to_string(words[i * $ChunkStride + 1 : least(i * $ChunkStride + $ChunkWords, len(words))], ' ')")} AS fp,
         |         (least(i * $ChunkStride + $ChunkWords, len(words)) - i * $ChunkStride)::BIGINT AS nw
         |  FROM idx
         |), st AS (
         |  SELECT source, count(*)::BIGINT AS n_chunks, bit_xor(fp)::BIGINT AS chunk_xor,
         |         sum(nw)::BIGINT AS sum_chunk_words
         |  FROM ch GROUP BY 1
         |), nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM base GROUP BY 1)
         |SELECT nd.source, nd.n_docs,
         |  coalesce(st.n_chunks, 0)::BIGINT AS n_chunks,
         |  coalesce(st.chunk_xor, 0)::BIGINT AS chunk_xor,
         |  coalesce(st.sum_chunk_words, 0)::BIGINT AS sum_chunk_words
         |FROM nd LEFT JOIN st ON st.source = nd.source""".stripMargin,
    "d5_train_split" ->
      s"""SELECT source,
         |  ${splitCaseOf("doc_id")} AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |GROUP BY 1, 2""".stripMargin,
    "t5_context_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))::BIGINT AS tokens
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, tokens,
         |         CAST(coalesce(sum(tokens) OVER (ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
         |  FROM d
         |)
         |SELECT CAST(prefix // $PackBudget AS BIGINT) AS window_id, count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY 1""".stripMargin,
    // t17 twin: t5's prefix-sum shape ordered by the t9 shuffle key; the
    // checksum is an order-independent xor so GROUP BY order is immaterial
    "t17_shard_export" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))::BIGINT AS tokens,
         |         $shuffleKey AS skey,
         |         ${LlmQueries.fnv32Expr("doc_id::VARCHAR || ':' || text")} AS chash
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, tokens, chash,
         |         CAST(coalesce(sum(tokens) OVER (ORDER BY skey, doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
         |  FROM d
         |)
         |SELECT CAST(prefix // $ShardTokenBudget AS BIGINT) AS shard_id, count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  CAST(bit_xor(chash) AS BIGINT) AS checksum
         |FROM p GROUP BY 1""".stripMargin,
    // t13 twin: same prefix-sum pack, tokens from the toy-BPE merge pass —
    // RE2's leftmost-first alternation reproduces the Java-regex greedy
    // merge scan exactly (pure-literal alternation, longest-first order)
    "t13_bpe_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |      - coalesce(list_sum(list_transform(
         |          regexp_extract_all(lower(text), '$BpeMergePattern'),
         |          m -> len(m) - 1)), 0) AS BIGINT) AS tokens
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, tokens,
         |         CAST(coalesce(sum(tokens) OVER (ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
         |  FROM d
         |)
         |SELECT CAST(prefix // $PackBudget AS BIGINT) AS window_id, count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY 1""".stripMargin,
    "t6_pii_scrub" ->
      s"""WITH planted AS (
         |  SELECT source,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |         || '@mail-' || source || '.example.com'
         |         || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |         || '.0.' || CAST((doc_id // 7) % 256 AS VARCHAR) AS dirty
         |  FROM documents
         |), scrubbed AS (
         |  SELECT source, dirty,
         |    regexp_replace(regexp_replace(regexp_replace(dirty,
         |      '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$Ipv4Re', '<IP>', 'g') AS clean
         |  FROM planted
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(dirty, '$EmailRe'))) AS BIGINT) AS emails_found,
         |  CAST(sum(len(regexp_extract_all(dirty, '$PhoneRe'))) AS BIGINT) AS phones_found,
         |  CAST(sum(len(regexp_extract_all(dirty, '$Ipv4Re'))) AS BIGINT) AS ips_found,
         |  CAST(sum(len(regexp_extract_all(clean, '$EmailRe'))
         |         + len(regexp_extract_all(clean, '$PhoneRe'))
         |         + len(regexp_extract_all(clean, '$Ipv4Re'))) AS BIGINT) AS residual_pii,
         |  CAST(sum(len(clean)) AS BIGINT) AS sum_clean_len
         |FROM scrubbed GROUP BY 1""".stripMargin,
    "d8_url_dedup" ->
      """WITH ranked AS (
        |  SELECT source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS rn
        |  FROM documents
        |), urls AS (
        |  SELECT source,
        |    CASE rn % 4
        |      WHEN 0 THEN 'https://WWW.' || source || '.Example.COM/docs/' || CAST(rn // 4 AS VARCHAR)
        |      WHEN 1 THEN 'http://www.' || source || '.example.com:80/docs/' || CAST(rn // 4 AS VARCHAR) || '/'
        |      WHEN 2 THEN 'https://www.' || source || '.example.com:443/docs/' || CAST(rn // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |      ELSE 'https://www.' || source || '.example.com/docs/' || CAST(rn // 4 AS VARCHAR) || '#section-2'
        |    END AS url
        |  FROM ranked
        |), canon AS (
        |  SELECT source,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      lower(regexp_extract(
        |        regexp_replace(regexp_replace(url, '#.*$', ''), '[?&]utm_[A-Za-z0-9_]+=[^&#]*', '', 'g'),
        |        '^[^/]*//[^/?#]*', 0))
        |      || regexp_replace(
        |        regexp_replace(regexp_replace(url, '#.*$', ''), '[?&]utm_[A-Za-z0-9_]+=[^&#]*', '', 'g'),
        |        '^[^/]*//[^/?#]*', ''),
        |      '^http://', 'https://'), ':80/', '/'), ':443/', '/') AS with_port
        |  FROM urls
        |), final AS (
        |  SELECT source, regexp_replace(with_port, '/$', '') AS canonical_url FROM canon
        |), grouped AS (
        |  SELECT source, canonical_url, count(*) AS c FROM final GROUP BY 1, 2
        |)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_urls,
        |  count(*) AS n_canonical,
        |  CAST(sum(c) - count(*) AS BIGINT) AS n_duplicates,
        |  CAST(max(c) AS BIGINT) AS max_dup_group,
        |  CAST(sum(len(canonical_url) * c) AS BIGINT) AS checksum_len
        |FROM grouped GROUP BY 1""".stripMargin,
    "t7_repetition" ->
      """WITH base AS (
        |  SELECT source, list_filter(string_split_regex(lower(text), '\s+'), w -> w != '') AS words
        |  FROM documents
        |), b AS (
        |  SELECT source,
        |    list_transform(generate_series(1, len(words) - 1), i -> words[i] || ' ' || words[i + 1]) AS bigrams
        |  FROM base WHERE len(words) >= 2
        |), r AS (
        |  SELECT source, len(bigrams) AS nt, len(list_distinct(bigrams)) AS nd,
        |         (1000 * (len(bigrams) - len(list_distinct(bigrams)))) // len(bigrams) AS rep_permille
        |  FROM b
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS sum_bigrams,
        |  CAST(sum(nd) AS BIGINT) AS sum_distinct,
        |  CAST(max(rep_permille) AS BIGINT) AS max_rep_permille,
        |  CAST(sum(CASE WHEN rep_permille >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitious
        |FROM r GROUP BY 1""".stripMargin,
    "t8_mixture_weights" ->
      s"""WITH $mixtureWeightCtes
         |SELECT source, n_docs, src_tokens, share_permille, weight_permille FROM w""".stripMargin,
    "t9_epoch_shuffle" ->
      s"""SELECT doc_id, shuffle_key,
         |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM (SELECT doc_id, $shuffleKey AS shuffle_key FROM documents)""".stripMargin,
    "t10_stratified_sample" ->
      s"""SELECT source, count(*) AS n_docs,
         |  COALESCE(SUM(CASE WHEN b < $SampleRatePermille THEN 1 ELSE 0 END), 0)::BIGINT AS n_sampled,
         |  COALESCE(SUM(CASE WHEN b < $SampleRatePermille THEN doc_id END), 0)::BIGINT AS sum_sampled_doc_id,
         |  COALESCE(SUM(CASE WHEN b < $SampleRatePermille THEN n_chars END), 0)::BIGINT AS sum_sampled_chars
         |FROM (SELECT source, doc_id, n_chars, $sampleBucket AS b FROM documents)
         |GROUP BY 1""".stripMargin,
    "t11_linear_counting" ->
      s"""SELECT source,
         |  count(DISTINCT ${LlmQueries.fnv32Expr("w")} % $LinearCountBits) AS occupied_bits,
         |  count(DISTINCT w) AS exact_distinct,
         |  $LinearCountBits::BIGINT AS m_bits
         |FROM (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w != '')) AS w
         |      FROM documents)
         |GROUP BY 1""".stripMargin,
    "t12_mixture_resample" ->
      s"""WITH $mixtureWeightCtes, k AS (
         |  SELECT source, CAST(least(weight_permille, 1000) AS BIGINT) AS keep_permille FROM w
         |)
         |SELECT d.source, any_value(k.keep_permille) AS keep_permille, count(*) AS n_docs,
         |  COALESCE(SUM(CASE WHEN d.b < k.keep_permille THEN 1 ELSE 0 END), 0)::BIGINT AS n_kept,
         |  COALESCE(SUM(CASE WHEN d.b < k.keep_permille THEN d.doc_id END), 0)::BIGINT AS sum_kept_doc_id
         |FROM (SELECT source, doc_id, $resampleBucket AS b FROM documents) d
         |JOIN k USING (source)
         |GROUP BY 1""".stripMargin,

    // t21 twin: the identical register/rank/fixed-point pipeline — FNV
    // low bits → register, 25 − length(bin(high bits)) → rank, Σ 2^(30−M)
    // longs, and the same α16·2^30 // S integer estimate.
    "t21_hll_cardinality" -> {
      val maxRank = HllRestBits + 1
      s"""WITH words AS (
         |  SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w != '')) AS w
         |  FROM documents),
         |h AS (SELECT source, w, ${LlmQueries.fnv32Expr("w")} AS h FROM words),
         |r AS (SELECT source, w, h % $HllM AS reg,
         |             CASE WHEN h // $HllM = 0 THEN $maxRank
         |                  ELSE $maxRank - length(bin(h // $HllM)) END AS rank
         |      FROM h),
         |regs AS (
         |  SELECT source, reg, max(rank) AS m_rank, count(DISTINCT w) AS reg_distinct
         |  FROM r GROUP BY 1, 2),
         |roll AS (
         |  SELECT source, count(*)::BIGINT AS n_registers_set,
         |         sum((1::BIGINT << ($HllFp - m_rank))::BIGINT)::BIGINT AS present_inv,
         |         sum(reg_distinct)::BIGINT AS exact_distinct,
         |         max(m_rank)::BIGINT AS max_rank
         |  FROM regs GROUP BY 1),
         |est AS (
         |  SELECT source, n_registers_set,
         |    (present_inv + ($HllM - n_registers_set) * (1::BIGINT << $HllFp))::BIGINT AS sum_inv_scaled,
         |    (($HllAlpha16::BIGINT * (1::BIGINT << $HllFp))
         |       // (present_inv + ($HllM - n_registers_set) * (1::BIGINT << $HllFp)))::BIGINT AS hll_estimate,
         |    exact_distinct, max_rank
         |  FROM roll)
         |SELECT source, n_registers_set, sum_inv_scaled, hll_estimate,
         |  (CASE WHEN n_registers_set < $HllM AND hll_estimate * 2 < ${5L * HllM}
         |        THEN list_extract(${HllLinearCount.mkString("[", ", ", "]")},
         |                          ($HllM - n_registers_set)::INT)
         |        ELSE hll_estimate END)::BIGINT AS corrected_estimate,
         |  exact_distinct, max_rank
         |FROM est""".stripMargin
    },

    // t25 twin: same gram windows (list slices over the shared word split),
    // same max-coverage fold, identical permille gates and attribution.
    "t25_gopher_repetition" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, ${LlmQueries.duckWords} AS words,
         |         length(array_to_string(${LlmQueries.duckWords}, ''))::BIGINT AS total_chars
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, t.n, array_to_string(list_slice(words, u.i, u.i + t.n - 1), ' ') AS g
         |  FROM base, (VALUES (2), (3), (4)) t(n),
         |       LATERAL unnest(generate_series(1, len(words) - t.n + 1)) u(i)
         |  WHERE len(words) >= t.n
         |), cov AS (
         |  SELECT doc_id, n,
         |    coalesce(max(CASE WHEN cnt >= 2 THEN cnt * (length(g) - (n - 1)) END), 0)::BIGINT AS covered
         |  FROM (SELECT doc_id, n, g, count(*)::BIGINT AS cnt FROM g GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2
         |), p AS (
         |  SELECT b.doc_id, b.source,
         |    coalesce((1000 * max(CASE WHEN n = 2 THEN covered END)) // total_chars, 0)::BIGINT AS p2,
         |    coalesce((1000 * max(CASE WHEN n = 3 THEN covered END)) // total_chars, 0)::BIGINT AS p3,
         |    coalesce((1000 * max(CASE WHEN n = 4 THEN covered END)) // total_chars, 0)::BIGINT AS p4
         |  FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
         |  GROUP BY 1, 2, b.total_chars
         |)
         |SELECT source, count(*) AS n_docs,
         |  sum(CASE WHEN p2 > $RepTop2Permille THEN 1 ELSE 0 END)::BIGINT AS drop_top2,
         |  sum(CASE WHEN p2 <= $RepTop2Permille AND p3 > $RepTop3Permille THEN 1 ELSE 0 END)::BIGINT AS drop_top3,
         |  sum(CASE WHEN p2 <= $RepTop2Permille AND p3 <= $RepTop3Permille AND p4 > $RepTop4Permille THEN 1 ELSE 0 END)::BIGINT AS drop_top4,
         |  sum(CASE WHEN p2 <= $RepTop2Permille AND p3 <= $RepTop3Permille AND p4 <= $RepTop4Permille THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  max(p2)::BIGINT AS max_p2, max(p3)::BIGINT AS max_p3, max(p4)::BIGINT AS max_p4
         |FROM p GROUP BY 1""".stripMargin,

    // t24 twin: same fixed hashed-bigram buckets (fnv32), same bits-trick
    // LM weights and W0 mass normalizer, the same nearest-rank threshold
    // over distinct importance values (ties inclusive), identical rollup.
    "t24_dsir_select" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, ${LlmQueries.duckWords} AS words FROM documents
         |), sh AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(words) < 2 THEN []
         |    ELSE list_transform(generate_series(1, len(words) - 1), i -> words[i] || ' ' || words[i + 1])
         |    END AS bg
         |  FROM base
         |), tok AS (
         |  SELECT doc_id, source, ${LlmQueries.fnv32Expr("('dsir:' || bg)")} % $DsirBuckets AS b
         |  FROM (SELECT doc_id, source, unnest(bg) AS bg FROM sh)
         |), docb AS (SELECT doc_id, source, b, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2, 3),
         |lm AS (SELECT b, sum(CASE WHEN source = 'src0' THEN c ELSE 0 END)::BIGINT AS np,
         |              sum(CASE WHEN source != 'src0' THEN c ELSE 0 END)::BIGINT AS nq
         |       FROM docb GROUP BY 1),
         |w AS (SELECT b, (length(bin(np + 1)) - length(bin(nq + 1)))::BIGINT AS w FROM lm),
         |w0 AS (SELECT (length(bin(sum(np) + 1)) - length(bin(sum(nq) + 1)))::BIGINT AS w0 FROM lm),
         |imp AS (SELECT d.doc_id, d.source,
         |          (sum(d.c * w.w) - (SELECT w0 FROM w0) * sum(d.c))::BIGINT AS imp
         |        FROM docb d JOIN w ON w.b = d.b WHERE d.source != 'src0' GROUP BY 1, 2),
         |n AS (SELECT count(*)::BIGINT AS n FROM imp),
         |cum AS (SELECT imp, sum(cnt) OVER (ORDER BY imp DESC) AS cc
         |        FROM (SELECT imp, count(*)::BIGINT AS cnt FROM imp GROUP BY 1)),
         |thr AS (SELECT max(imp) AS thr FROM cum
         |        WHERE cc * 1000 >= $DsirKeepPermille * (SELECT n FROM n))
         |SELECT source, count(*) AS n_docs,
         |  sum(CASE WHEN imp >= (SELECT thr FROM thr) THEN 1 ELSE 0 END)::BIGINT AS n_selected,
         |  sum(imp)::BIGINT AS sum_importance,
         |  (SELECT thr FROM thr)::BIGINT AS threshold
         |FROM imp GROUP BY 1""".stripMargin,

    // t22 twin: the same d seeded FNV streams build the counter grid, the
    // exact top-K cut shares the (count DESC, token ASC) total order, and
    // the estimate is the min over the K·d probe lookups.
    "t22_cms_heavy_hitters" ->
      s"""WITH words AS (
         |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w != '')) AS w
         |  FROM documents),
         |rows_ AS (SELECT unnest(generate_series(0, ${CmsRows - 1})) AS r),
         |counters AS (
         |  SELECT r, ${LlmQueries.fnv32Expr("('cms' || r::VARCHAR || ':' || w)")} % $CmsWidth AS c,
         |         count(*)::BIGINT AS cnt
         |  FROM words CROSS JOIN rows_ GROUP BY 1, 2),
         |top AS (
         |  SELECT w, exact_cnt,
         |         row_number() OVER (ORDER BY exact_cnt DESC, w) AS rank
         |  FROM (SELECT w, count(*)::BIGINT AS exact_cnt FROM words GROUP BY 1)
         |  QUALIFY rank <= $CmsTopK),
         |probes AS (
         |  SELECT t.rank, t.w, t.exact_cnt, r.r,
         |         ${LlmQueries.fnv32Expr("('cms' || r.r::VARCHAR || ':' || t.w)")} % $CmsWidth AS c
         |  FROM top t CROSS JOIN rows_ r)
         |SELECT p.rank, p.w, p.exact_cnt,
         |  min(c.cnt)::BIGINT AS cms_estimate,
         |  (min(c.cnt) - p.exact_cnt)::BIGINT AS overshoot
         |FROM probes p JOIN counters c ON c.r = p.r AND c.c = p.c
         |GROUP BY 1, 2, 3""".stripMargin,

    // t23 twin: identical trigram windows (both engines index by code
    // point), identical (count DESC, gram ASC) rank tie-break, the same
    // out-of-place distance with the profile-size penalty, and the same
    // (dist ASC, lang ASC) argmin.
    "t23_langid" ->
      s"""WITH g AS (
         |  SELECT doc_id, lang AS actual_lang,
         |         unnest(list_transform(generate_series(1, length(lower(text)) - 2),
         |                               i -> substr(lower(text), i, 3))) AS g
         |  FROM documents WHERE length(lower(text)) >= 3),
         |lp AS (
         |  SELECT lang, g,
         |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS lrank
         |  FROM (SELECT actual_lang AS lang, g, count(*) AS c FROM g GROUP BY 1, 2)
         |  QUALIFY lrank <= $LangIdProfile),
         |dp AS (
         |  SELECT doc_id, actual_lang, g,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS drank
         |  FROM (SELECT doc_id, actual_lang, g, count(*) AS c FROM g GROUP BY 1, 2, 3)
         |  QUALIFY drank <= $LangIdDocTop),
         |langs AS (SELECT DISTINCT lang FROM lp),
         |dist AS (
         |  SELECT d.doc_id, d.actual_lang, l.lang,
         |         sum(COALESCE(abs(d.drank - p.lrank), $LangIdProfile))::BIGINT AS dist
         |  FROM dp d CROSS JOIN langs l
         |  LEFT JOIN lp p ON p.lang = l.lang AND p.g = d.g
         |  GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT actual_lang, lang AS pred_lang, dist,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
         |  FROM dist QUALIFY rn = 1)
         |SELECT actual_lang, pred_lang, count(*) AS n_docs,
         |  sum(dist)::BIGINT AS sum_dist
         |FROM pred GROUP BY 1, 2""".stripMargin
  )
}

package graft

import graft.llm.CorpusQueries
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-prep operators vs naive single-threaded reimplementations on
  * driver-collected sf0.001 data, plus the invariants that make them safe
  * to train on (splits partition the corpus; packing preserves order). */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: Seq[(Long, String, String, Long)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source", "n_chars").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))

  test("t4 percentiles equal naive sorted nearest-rank per source") {
    val got = CorpusQueries.queries("t4_corpus_profile")(spark, dir).collect().map { r =>
      r.getAs[String]("source") ->
        (r.getAs[Long]("p50_chars"), r.getAs[Long]("p90_chars"), r.getAs[Long]("p99_chars"))
    }.toMap
    docs.groupBy(_._3).foreach { case (src, ds) =>
      val sortedChars = ds.map(_._4).sorted
      def rank(permille: Long): Long = {
        val k = math.ceil(permille * sortedChars.size / 1000.0).toInt
        sortedChars(math.max(0, k - 1))
      }
      assert(got(src) == ((rank(500), rank(900), rank(990))), s"source $src")
    }
  }

  test("d5 split partitions the corpus deterministically, roughly 80/10/10") {
    val rows = CorpusQueries.queries("d5_train_split")(spark, dir).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.values.sum == docs.size) // partition: every doc in exactly one split
    val frac = bySplit("train").toDouble / docs.size
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    assert(bySplit.contains("val") && bySplit.contains("test"))
    // determinism: identical on a second run
    val again = CorpusQueries.queries("d5_train_split")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")) -> r.getAs[Long]("sum_doc_id")).toMap
    val first = rows.map(r => (r.getAs[String]("source"), r.getAs[String]("split")) -> r.getAs[Long]("sum_doc_id")).toMap
    assert(again == first)
  }

  test("t5 packing equals a sequential single-threaded pass") {
    val tokens = docs.sortBy(_._1).map { case (id, text, _, _) =>
      id -> "[a-z]+|[0-9]+".r.findAllIn(text.toLowerCase).size.toLong
    }
    var prefix = 0L
    val naive = tokens.map { case (id, t) =>
      val w = prefix / CorpusQueries.PackBudget; prefix += t; (id, t, w)
    }
    val expected = naive.groupBy(_._3).map { case (w, rows) =>
      w -> (rows.size.toLong, rows.map(_._2).sum, rows.map(_._1).min, rows.map(_._1).max)
    }
    val got = CorpusQueries.queries("t5_context_pack")(spark, dir).collect().map { r =>
      r.getAs[Long]("window_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
         r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))
    }.toMap
    assert(got == expected)
    // windows cover contiguous doc_id ranges: ordered by window, ranges don't interleave
    val byWindow = got.toSeq.sortBy(_._1).map(_._2)
    byWindow.sliding(2).foreach {
      case Seq((_, _, _, lastA), (_, _, firstB, _)) => assert(lastA < firstB)
      case _                                        => ()
    }
  }

  test("t13 BPE packing equals a sequential greedy-merge reference") {
    // independent reference: Java-regex greedy scan (the same leftmost-
    // first, non-overlapping semantics the expr relies on) + naive pack
    val pat = graft.llm.CorpusQueries.BpeMergePattern.r
    def bpeTokens(text: String): Long = {
      val lower = text.toLowerCase
      val alpha = lower.count(c => c >= 'a' && c <= 'z').toLong
      val saved = pat.findAllIn(lower).map(_.length - 1L).sum
      alpha - saved
    }
    // hand-checked anchors for the merge semantics itself
    assert(bpeTokens("there") == 2L)   // [the][re]
    assert(bpeTokens("thin cat") == 4L) // [th][in] [c][at]
    assert(bpeTokens("xyz") == 3L)     // no merges
    val tokens = docs.sortBy(_._1).map { case (id, text, _, _) => id -> bpeTokens(text) }
    var prefix = 0L
    val naive = tokens.map { case (id, t) =>
      val w = prefix / CorpusQueries.PackBudget; prefix += t; (id, t, w)
    }
    val expected = naive.groupBy(_._3).map { case (w, rows) =>
      w -> (rows.size.toLong, rows.map(_._2).sum, rows.map(_._1).min, rows.map(_._1).max)
    }
    val got = CorpusQueries.queries("t13_bpe_pack")(spark, dir).collect().map { r =>
      r.getAs[Long]("window_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
         r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))
    }.toMap
    assert(got == expected)
  }

  test("d14 span dedup equals a naive global span count") {
    def words(t: String): Seq[String] = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def spans(t: String): Seq[String] = {
      val w = words(t)
      (0 until w.size / CorpusQueries.SpanWords)
        .map(i => w.slice(i * CorpusQueries.SpanWords, (i + 1) * CorpusQueries.SpanWords).mkString(" "))
    }
    val all = docs.flatMap { case (id, text, src, _) => spans(text).map(sp => (id, src, sp)) }
    val dfm = all.groupBy(_._3).view.mapValues(_.size).toMap
    val perDoc = all.groupBy(d => (d._1, d._2)).map { case ((_, src), sps) =>
      (src, sps.size.toLong, sps.count(s => dfm(s._3) >= 2).toLong)
    }
    val expected = perDoc.groupBy(_._1).map { case (src, ds) =>
      src -> (ds.size.toLong, ds.map(_._2).sum, ds.map(_._3).sum,
              ds.count(_._3 > 0).toLong)
    }
    val got = CorpusQueries.queries("d14_span_dedup")(spark, dir).collect().map { r =>
      r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_spans"),
         r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_docs_affected"))
    }.toMap
    assert(got == expected)
    assert(got.values.map(_._3).sum > 0, "the corpus must contain at least one repeated span")
  }

  /** Serial reimplementation of d17's sliding-gram run scan — the naive
    * twin shared by the fixture test and the fuzz trials. */
  private def d17Naive(rows: Seq[(Long, String, String)]): Map[String, (Long, Long, Long, Long)] = {
    val G = CorpusQueries.SubstrGramWords
    def words(t: String): Seq[String] = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def grams(t: String): Seq[String] = words(t).sliding(G).filter(_.size == G).map(_.mkString(" ")).toSeq
    val all = rows.map { case (id, text, src) => (id, src, grams(text)) }
    val dfm = all.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val perDoc = all.map { case (_, src, gs) =>
      // maximal runs of consecutive duplicated positions
      val dupFlags = gs.map(g => dfm(g) >= 2)
      val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cur = 0L
      dupFlags.foreach { d => if (d) cur += 1 else { if (cur > 0) runs += cur; cur = 0 } }
      if (cur > 0) runs += cur
      (src, if (runs.isEmpty) 0L else runs.max, runs.sum)
    }
    perDoc.groupBy(_._1).map { case (src, ds) =>
      src -> ((ds.size.toLong,
               ds.count(_._2 >= CorpusQueries.SubstrMinRunGrams).toLong,
               ds.map(_._3).sum,
               ds.map(_._2).max))
    }
  }

  private def d17Rows(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Long, Long)] =
    df.collect().map { r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_docs_flagged"),
          r.getAs[Long]("n_dup_grams"), r.getAs[Long]("max_run")))
    }.toMap

  test("d17 substring dedup equals a naive sliding-gram run scan") {
    val expected = d17Naive(docs.map { case (id, text, src, _) => (id, text, src) })
    val got = d17Rows(CorpusQueries.queries("d17_substring_dedup")(spark, dir))
    assert(got == expected)
    assert(got.values.map(_._3).sum > 0, "the corpus must contain at least one repeated substring")
  }

  test("d17 fuzz: random corpora with planted substring copies match the serial scan") {
    // The d16-fuzz pattern applied to d17: tiny vocab (forced gram
    // collisions), random doc lengths, and PLANTED substring copies —
    // later docs splice a random-length slice of an earlier doc into a
    // random position, the exact shape (partial overlap at arbitrary
    // alignment) d14's non-overlapping spans cannot see and d17 exists
    // to measure.
    val vocab = Seq("ax", "bo", "cu", "de", "ek", "fi")
    val rnd   = new scala.util.Random(4242)
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val n = 6 + rnd.nextInt(8)
      val base = (0L until n.toLong).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
      }
      val corpus = base.map { case (id, ws) =>
        if (id >= 2 && rnd.nextInt(2) == 0) {
          val srcWs = base(rnd.nextInt(id.toInt))._2
          val from  = rnd.nextInt(srcWs.size)
          val len   = 1 + rnd.nextInt(srcWs.size - from)
          val at    = rnd.nextInt(ws.size + 1)
          (id, (ws.take(at) ++ srcWs.slice(from, from + len) ++ ws.drop(at)).mkString(" "),
           s"s${id % 2}")
        } else (id, ws.mkString(" "), s"s${id % 2}")
      }
      val d = TestSpark.tempDir(s"graft-d17-fuzz$trial-").toString
      corpus.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      try {
        val got = d17Rows(CorpusQueries.queries("d17_substring_dedup")(spark, d))
        assert(got == d17Naive(corpus),
          s"trial $trial diverged on corpus:\n${corpus.mkString("\n")}")
      } finally graft.core.FsUtil.deleteRecursively(d)
    }
  }

  /** Serial reference BPE learner — word multiset → per-word symbol
    * sequences, then K rounds of (count overlapping adjacent pairs,
    * weighted) → argmax (count desc, pair asc) → greedy left-to-right
    * merge application per word. The naive twin shared by the fixture
    * test and the fuzz trials. */
  private def t19Naive(texts: Seq[String]): Seq[(Long, String, String, Long)] =
    t19NaiveFull(texts)._1

  /** Like [[t19Naive]] but also exposes the final per-word segmentation —
    * the t20 apply-pass twin. */
  private def t19NaiveFull(texts: Seq[String]): (Seq[(Long, String, String, Long)], Map[String, Seq[String]]) = {
    val K = CorpusQueries.BpeLearnMerges
    val wordCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach(_.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach(w => wordCnt(w) += 1L))
    // initial symbols are CODEPOINTS, not UTF-16 units: both engines'
    // string functions count code points, so a supplementary-plane char
    // is one symbol there — splitting it into surrogate halves here
    // would learn merges neither engine can produce
    def codepoints(w: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toSeq
    }
    var syms: Map[String, Seq[String]] = wordCnt.keys.map(w => w -> codepoints(w)).toMap
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    (1 to K).foreach { round =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      syms.foreach { case (w, ss) =>
        ss.sliding(2).filter(_.size == 2).foreach(p => counts((p(0), p(1))) += wordCnt(w))
      }
      if (counts.nonEmpty) {
        // tie-break by UTF-8 BYTES, not Java compareTo (UTF-16 code
        // units): both engines order strings by binary/UTF-8 collation
        // (Spark UTF8String, DuckDB binary), and the two diverge for
        // supplementary-plane characters — the twin must match the
        // engines, not the JVM default
        val u8: Ordering[String] = (a: String, b: String) =>
          java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        val pairOrd: Ordering[(String, String)] = new Ordering[(String, String)] {
          def compare(a: (String, String), b: (String, String)): Int = {
            val c = java.lang.Long.compare(counts(b), counts(a)) // count desc
            if (c != 0) c
            else {
              val cl = u8.compare(a._1, b._1)
              if (cl != 0) cl else u8.compare(a._2, b._2)
            }
          }
        }
        val (bl, br) = counts.keys.min(pairOrd)
        expected += ((round.toLong, bl, br, counts((bl, br))))
        syms = syms.view.mapValues { ss =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ss.size) {
            if (i + 1 < ss.size && ss(i) == bl && ss(i + 1) == br) { out += bl + br; i += 2 }
            else { out += ss(i); i += 1 }
          }
          out.toSeq
        }.toMap
      }
    }
    (expected.toSeq, syms)
  }

  private def t19Rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, Long)] =
    df.collect().map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("l_sym"),
                           r.getAs[String]("r_sym"), r.getAs[Long]("pair_count"))).sortBy(_._1).toSeq

  test("t19 BPE learning equals a serial reference learner") {
    val expected = t19Naive(docs.map(_._2))
    val got = t19Rows(CorpusQueries.queries("t19_bpe_learn")(spark, dir))
    assert(got === expected)
    assert(got.size === CorpusQueries.BpeLearnMerges,
      "the fixture vocabulary must sustain all K merge rounds")
  }

  test("t19 fuzz: random syllable corpora (repeat-heavy) match the serial learner") {
    // Syllable-built words make back-to-back winning-pair repeats COMMON
    // — exactly the regime where merge-application semantics (lookaround
    // vs separator-consuming) diverge, and where tie-breaks get
    // exercised hard (few distinct pairs, many equal counts).
    val syllables = Seq("ma", "mi", "ha", "ta")
    val rnd = new scala.util.Random(1313)
    import spark.implicits._
    (1 to 4).foreach { trial =>
      val texts = (0 until 4 + rnd.nextInt(4)).map { _ =>
        (0 until 3 + rnd.nextInt(5))
          .map(_ => Seq.fill(1 + rnd.nextInt(4))(syllables(rnd.nextInt(syllables.size))).mkString)
          .mkString(" ")
      }
      val d = TestSpark.tempDir(s"graft-t19-fuzz$trial-").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      try {
        val got = t19Rows(CorpusQueries.queries("t19_bpe_learn")(spark, d))
        assert(got === t19Naive(texts),
          s"trial $trial diverged on corpus:\n${texts.mkString("\n")}")
      } finally graft.core.FsUtil.deleteRecursively(d)
    }
  }

  test("t20 apply equals the serial learner's segmentation, rolled up per source") {
    val (_, syms) = t19NaiveFull(docs.map(_._2))
    val expected = docs.groupBy(_._3).flatMap { case (src, ds) =>
      val words = ds.flatMap(_._2.toLowerCase.split("\\s+").filter(_.nonEmpty))
      if (words.isEmpty) None
      else {
        val byWord = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val nWords  = byWord.values.sum
        val nTokens = byWord.map { case (w, c) => c * syms(w).size }.sum
        Some(src -> (byWord.size.toLong, nWords, nTokens, 1000L * nTokens / nWords))
      }
    }
    val got = CorpusQueries.queries("t20_bpe_apply")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_word_types"), r.getAs[Long]("n_words"),
         r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_permille"))).toMap
    assert(got === expected)
    // applying merges can only SHORTEN segmentations: tokens <= chars-ish
    got.values.foreach { case (_, nw, nt, permille) =>
      assert(nt >= nw, "every word is at least one token")
      assert(permille >= 1000L, "tokens-per-word permille is >= 1 token/word")
    }
  }

  test("t19 tie-breaks supplementary-plane symbols by UTF-8 bytes (engine collation)") {
    // U+FB00 'ﬀ' (UTF-8 EF AC 80, UTF-16 0xFB00) vs U+1D552 '𝕒' (UTF-8
    // F0 9D 95 92, UTF-16 surrogate 0xD835 0xDD52): UTF-8 bytes order
    // 'ﬀ' < '𝕒' while UTF-16 code units order '𝕒' < 'ﬀ'. A corpus where
    // (a,ﬀ) and (a,𝕒) tie on count forces the argmax through exactly
    // this divergence — the engine (UTF8String binary order) and the
    // serial twin must agree on the BYTE ordering.
    import spark.implicits._
    val texts = Seq("aﬀ a𝕒")
    val d = TestSpark.tempDir("graft-t19-astral-").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    try {
      val got = t19Rows(CorpusQueries.queries("t19_bpe_learn")(spark, d))
      assert(got === t19Naive(texts))
      assert(got.head._3 === "ﬀ",
        "round 1 must pick the pair whose right symbol is smaller in UTF-8 bytes")
    } finally graft.core.FsUtil.deleteRecursively(d)
  }

  test("t19 merges back-to-back pair repeats like greedy BPE (the lookaround semantics)") {
    // "mamama"-shaped words are the case a shared-separator replace
    // under-merges ([ma, m, a] instead of [ma, ma]): with (m, a) winning
    // round 1, round 2's top pair must be (ma, ma) — only possible if
    // BOTH adjacent (m, a) occurrences merged in every word.
    import spark.implicits._
    val d = TestSpark.tempDir("graft-t19-runs-").toString
    Seq((0L, "mama mama mamama", "en", "s0", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    try {
      val got = CorpusQueries.queries("t19_bpe_learn")(spark, d).collect()
        .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("l_sym"),
                   r.getAs[String]("r_sym"), r.getAs[Long]("pair_count"))).sortBy(_._1)
      // vocab: mama(cnt 2: pairs (m,a)×2, (a,m)×1), mamama(cnt 1: (m,a)×3,
      // (a,m)×2) → round 1 learns (m, a) at 2·2+3 = 7
      assert(got(0) === ((1L, "m", "a", 7L)), s"round 1 must learn (m, a): ${got.toSeq}")
      // round 2 sees mama -> [ma, ma] (cnt 2 → 1 pair each) and
      // mamama -> [ma, ma, ma] (cnt 1 → 2 pairs): (ma, ma) counts
      // 2 + 2 = 4 — those sequences exist ONLY if BOTH adjacent (m, a)
      // occurrences merged in every word
      assert(got(1) === ((2L, "ma", "ma", 4L)),
        s"round 2 must learn (ma, ma) at 4 — back-to-back merges must not be dropped: ${got.toSeq}")
    } finally graft.core.FsUtil.deleteRecursively(d)
  }

  test("t18 gopher rules: first-fail funnel reconciles per source and the live rules fire") {
    val rows = CorpusQueries.queries("t18_gopher_rules")(spark, dir).collect()
    val dropCols = Seq("n_drop_words", "n_drop_meanlen", "n_drop_symbol", "n_drop_alpha", "n_drop_stop")
    rows.foreach { r =>
      val total = (dropCols :+ "n_kept").map(c => r.getAs[Long](c)).sum
      assert(total === r.getAs[Long]("n_docs"),
        s"rule accounting must reconcile for ${r.getAs[String]("source")}")
    }
    def sumCol(c: String) = rows.map(_.getAs[Long](c)).sum
    assert(sumCol("n_kept") > 0, "some docs must survive the gate")
    assert(sumCol("n_drop_words") > 0, "the word-count band must fire on the fixture")
    assert(sumCol("n_drop_stop") > 0, "the stop-word rule must fire on the fixture")
  }

  test("t14 quality classifier equals a naive hash-weight scorer") {
    def score(t: String): Long = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .map(w => graft.functions.Fnv32.hash(w) % 16 - 8).sum
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val scores = ds.map(d => score(d._2))
      src -> (ds.size.toLong, scores.count(_ >= 0).toLong, scores.sum)
    }
    val got = CorpusQueries.queries("t14_quality_classifier")(spark, dir).collect().map { r =>
      r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"), r.getAs[Long]("sum_score"))
    }.toMap
    assert(got == expected)
    // the filter must actually split the corpus, not rubber-stamp it
    val (n, keep) = (got.values.map(_._1).sum, got.values.map(_._2).sum)
    assert(keep > 0 && keep < n, s"degenerate filter: keep=$keep of $n")
  }

  test("d16/t15/t16 are layout-independent: same results from a re-split corpus under a different shuffle width") {
    // The new corpus operators' determinism rests on integer-exact
    // arithmetic and order-independent aggregation: neither the parquet
    // file layout of the input nor Spark's shuffle width may change a
    // verdict. Re-split the corpus into a different file count, run in a
    // fresh session with a prime shuffle width, compare full row sets.
    val src = spark.read.parquet(s"$dir/documents.parquet")
    val alt = TestSpark.tempDir("graft-resplit-").toString
    src.repartition(7).write.parquet(s"$alt/documents.parquet")
    // embeddings re-split too: e1's fixed-point centroid sums are the
    // order-independence claim under test
    spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(3).write.parquet(s"$alt/embeddings.parquet")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "5")
    def rows(s: org.apache.spark.sql.SparkSession, d: String, q: String): Seq[Seq[Any]] =
      graft.SparkEntry.queries(q)(s, d).collect()
        .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).toSeq)
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    try {
      // t17 included deliberately: its global (skey, doc_id) order is
      // REBUILT by repartitionByRange from whatever file layout arrives —
      // the most layout-sensitive path here; d17's islands windows and
      // t18/t15_funnel_ppl's permille gates join as the round-13 cohort
      Seq("d16_incremental_dedup", "t15_filter_funnel", "t16_perplexity_filter",
          "t17_shard_export", "d17_substring_dedup", "t18_gopher_rules",
          "t15_funnel_ppl", "t19_bpe_learn", "e1_embedding_coherence",
          "t20_bpe_apply", "t21_hll_cardinality", "t22_cms_heavy_hitters",
          "t23_langid", "r4_hard_negatives", "r5_bitext_mining",
          "t24_dsir_select", "t25_gopher_repetition", "d19_containment",
          "r6_retrieval_eval", "t26_source_overlap",
          "e2_embedding_outliers", "d20_cluster_canon",
          "d21_banding_loss", "e3_quantization_error",
          "r7_rocchio_prf", "t27_fertility_hist", "m5_image_phash",
          "d1_exact_dedup", "d22_split_leakage",
          // round-16 cohort: the two-phase DSIR threshold is already in
          // (t24); the trained-index admission, the drift monitor, and
          // the two streamed sinks are all deterministic by design —
          // shard membership travels in the data, never in batch ids
          "ann_incremental_add", "e5_embedding_drift",
          "w6_stream_bitext", "w7_stream_quality_gate",
          "t28_chunk_overlap").foreach { q =>
        assert(rows(s2, alt, q) === rows(spark, dir, q),
          s"$q must be independent of input file layout and shuffle width")
      }
    } finally {
      // free the throwaway session's memoized frames and the replica dir
      graft.core.SessionMemo.release(s2)
      graft.core.FsUtil.deleteRecursively(alt)
    }
  }

  test("t17 shard export equals a serial pass in training order; checksums verify") {
    def toks(t: String): Long = "[a-z]+|[0-9]+".r.findAllIn(t.toLowerCase).size.toLong
    def skey(id: Long): Long  = ((id % 1000003L) * 2654435761L + 777L) % 1000000007L
    val ordered = docs.map { case (id, text, _, _) => (id, toks(text), text) }
      .sortBy { case (id, _, _) => (skey(id), id) }
    var prefix = 0L
    val assigned = ordered.map { case (id, t, text) =>
      val shard = prefix / CorpusQueries.ShardTokenBudget
      prefix += t
      (shard, id, t, graft.functions.Fnv32.hash(s"$id:$text"))
    }
    val expected = assigned.groupBy(_._1).map { case (sh, ds) =>
      sh -> ((ds.size.toLong, ds.map(_._3).sum, ds.map(_._2).min, ds.map(_._2).max,
              ds.map(_._4).reduce(_ ^ _)))
    }
    val got = CorpusQueries.queries("t17_shard_export")(spark, dir).collect().map { r =>
      r.getAs[Long]("shard_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"), r.getAs[Long]("min_doc"),
          r.getAs[Long]("max_doc"), r.getAs[Long]("checksum")))
    }.toMap
    assert(got == expected)
    // every doc lands in exactly one shard
    assert(got.values.map(_._1).sum == docs.size.toLong)
    // budget invariant (exclusive-prefix rule): a shard exceeds the budget
    // only by its LAST doc — before that doc, it was strictly under budget
    assigned.groupBy(_._1).values.foreach { ds =>
      assert(ds.map(_._3).sum - ds.last._3 < CorpusQueries.ShardTokenBudget,
        "a shard must be under budget before its last doc")
    }
    // a content change (not just membership) must flip the checksum
    val tampered = assigned.map { case t @ (sh, id, tk, _) =>
      if (id == assigned.head._2) (sh, id, tk, graft.functions.Fnv32.hash(s"$id:TAMPERED")) else t
    }
    assert(tampered.groupBy(_._1).map { case (sh, ds) => sh -> ds.map(_._4).reduce(_ ^ _) } !=
           expected.map { case (sh, v) => sh -> v._5 },
      "the checksum must detect content corruption, not just membership changes")
  }

  test("t16 LM-surprise equals a naive serial bigram-LM scorer") {
    def words(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def bigrams(ws: Seq[String]) = if (ws.size < 2) Seq.empty[String] else ws.sliding(2).map(_.mkString(" ")).toSeq
    def bits(x: Long): Long = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val perDoc = docs.map { case (id, text, src, _) => (id, src, bigrams(words(text))) }
    val c2 = perDoc.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = perDoc.flatMap(_._3.map(_.split(" ")(0))).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v  = docs.flatMap(d => words(d._2)).distinct.size.toLong
    val expected = perDoc.groupBy(_._2).map { case (src, ds) =>
      val scoredDocs = ds.filter(_._3.nonEmpty).map { case (_, _, bs) =>
        val docBits = bs.map(b => bits(c1(b.split(" ")(0)) + v) - bits(c2(b) + 1)).sum
        (docBits, bs.size.toLong, 1000L * docBits / bs.size)
      }
      src -> ((ds.size.toLong, ds.count(_._3.isEmpty).toLong,
               scoredDocs.map(_._1).sum, scoredDocs.map(_._2).sum,
               scoredDocs.count(_._3 < CorpusQueries.LmLowBitsPermille).toLong,
               scoredDocs.count(_._3 > CorpusQueries.LmHighBitsPermille).toLong,
               scoredDocs.count(d => d._3 >= CorpusQueries.LmLowBitsPermille &&
                                     d._3 <= CorpusQueries.LmHighBitsPermille).toLong))
    }
    val got = CorpusQueries.queries("t16_perplexity_filter")(spark, dir).collect().map { r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_short"), r.getAs[Long]("sum_bits"),
          r.getAs[Long]("sum_bigrams"), r.getAs[Long]("n_low"), r.getAs[Long]("n_high"),
          r.getAs[Long]("n_kept")))
    }.toMap
    assert(got == expected)
    // the filter must band the corpus, not rubber-stamp it: every scored
    // doc lands in exactly one band
    got.values.foreach { case (n, short, _, _, lo, hi, kept) =>
      assert(n == short + lo + hi + kept, s"band leak: $n != $short+$lo+$hi+$kept")
    }
  }

  test("t15 funnel: per-stage attribution equals a naive serial pipeline") {
    val meta = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    def words(t: String)              = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def bigrams(ws: Seq[String])      = if (ws.size < 2) Seq.empty[String] else ws.sliding(2).map(_.mkString(" ")).toSeq
    def rep(bs: Seq[String]): Long    = if (bs.isEmpty) 0L else 1000L * (bs.size - bs.distinct.size) / bs.size
    def score(ws: Seq[String]): Long  = ws.map(w => graft.functions.Fnv32.hash(w) % 16 - 8).sum
    // stages 1–4, first-fail attribution
    val staged = meta.map { case (id, text, lang, src, nc) =>
      val ws = words(text); val bs = bigrams(ws)
      val stage =
        if (ws.size < CorpusQueries.FunnelMinWords) Some("len")
        else if (lang != CorpusQueries.FunnelLang) Some("lang")
        else if (rep(bs) >= CorpusQueries.FunnelMaxRepPermille) Some("rep")
        else if (score(ws) < 0) Some("cls")
        else None
      (id, src, nc, stage, bs.distinct.toSet)
    }
    // stage 5: d4's dup rule among survivors — candidates share a rare
    // shingle (corpus-wide df <= NgramMaxDf), exact Jaccard >= 1/2, the
    // higher doc_id of each surviving pair drops
    val dfCount = meta.flatMap(m => bigrams(words(m._2)).distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    val surv = staged.filter(_._4.isEmpty)
    val maxDf = graft.llm.LlmQueries.NgramMaxDf
    val dupDropped = (for {
      a <- surv; b <- surv if a._1 < b._1
      inter = a._5.intersect(b._5)
      if inter.exists(sh => dfCount(sh) <= maxDf)
      un = a._5.size + b._5.size - inter.size
      if 2 * inter.size >= un
    } yield b._1).toSet
    val expected = staged.map { case (id, src, nc, st, _) =>
      (src, nc, st.getOrElse(if (dupDropped(id)) "dup" else "kept"))
    }.groupBy(_._1).map { case (src, rs) =>
      def n(stage: String) = rs.count(_._3 == stage).toLong
      src -> ((rs.length.toLong, n("len"), n("lang"), n("rep"), n("cls"), n("dup"), n("kept"),
               rs.filter(_._3 == "kept").map(_._2).sum))
    }
    val got = CorpusQueries.queries("t15_filter_funnel")(spark, dir).collect().map { r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_drop_len"), r.getAs[Long]("n_drop_lang"),
          r.getAs[Long]("n_drop_rep"), r.getAs[Long]("n_drop_cls"), r.getAs[Long]("n_drop_dup"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("kept_chars")))
    }.toMap
    assert(got == expected)
    // the funnel reconciles: every doc lands in exactly one bucket
    got.values.foreach { case (n, l, g, rp, c, d, k, _) =>
      assert(n == l + g + rp + c + d + k, s"funnel leak: $n != $l+$g+$rp+$c+$d+$k")
    }
  }

  test("t6 scrub: every planted PII item found, zero residual, all docs audited") {
    val rows = CorpusQueries.queries("t6_pii_scrub")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.size.toLong)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      // exactly one planted email/phone/IP per doc, all redacted
      assert(r.getAs[Long]("emails_found") === n, r.toString)
      assert(r.getAs[Long]("phones_found") === n, r.toString)
      assert(r.getAs[Long]("ips_found") === n, r.toString)
      assert(r.getAs[Long]("residual_pii") === 0L, r.toString)
    }
  }

  test("d8 canonicalization: URLs collapse 4:1 within each source (remainder allowed)") {
    CorpusQueries.queries("d8_url_dedup")(spark, dir).collect().foreach { r =>
      val urls      = r.getAs[Long]("n_urls")
      val canonical = r.getAs[Long]("n_canonical")
      assert(r.getAs[Long]("max_dup_group") === math.min(4L, urls))
      // ceil(urls/4) full-or-partial groups, nothing merged across groups
      assert(canonical === (urls + 3) / 4, r.toString)
      assert(r.getAs[Long]("n_duplicates") === urls - canonical)
    }
  }

  test("t8 weights: shares sum to ~1000 permille and weights invert the share") {
    val rows = CorpusQueries.queries("t8_mixture_weights")(spark, dir).collect()
    val shares = rows.map(_.getAs[Long]("share_permille"))
    // integer floor division: the sum undershoots by at most one per source
    assert(shares.sum <= 1000L && shares.sum >= 1000L - rows.length)
    val total = rows.map(_.getAs[Long]("src_tokens")).sum
    rows.foreach { r =>
      val exact = 1000.0 * total / (rows.length.toLong * r.getAs[Long]("src_tokens"))
      assert(math.abs(r.getAs[Long]("weight_permille") - exact) <= 1.0, r.toString)
    }
  }

  test("t7 repetition: permille bounds hold and distinct never exceeds total") {
    CorpusQueries.queries("t7_repetition")(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("sum_distinct") <= r.getAs[Long]("sum_bigrams"))
      val p = r.getAs[Long]("max_rep_permille")
      assert(p >= 0L && p < 1000L, r.toString)
    }
  }

  /** Serial EXACT-STRING-bigram twin of t7 — the reference the round-22
    * hashed-pair distinct (xxhash64 word-hash tuples, no bigram strings)
    * must agree with wherever no two distinct words collide. */
  private def t7Naive(rows: Seq[(Long, String, String)]): Map[String, (Long, Long, Long, Long, Long)] = {
    val perDoc = rows.flatMap { case (_, text, src) =>
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (ws.size < 2) None
      else {
        val bgs = ws.sliding(2).map(_.mkString(" ")).toSeq
        val nt = bgs.size.toLong
        val nd = bgs.distinct.size.toLong
        Some((src, nt, nd, (1000L * (nt - nd)) / nt))
      }
    }
    perDoc.groupBy(_._1).map { case (src, ds) =>
      src -> ((ds.size.toLong, ds.map(_._2).sum, ds.map(_._3).sum,
               ds.map(_._4).max, ds.count(_._4 >= 500L).toLong))
    }
  }

  private def t7Rows(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Long, Long, Long)] =
    df.collect().map { r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_bigrams"),
          r.getAs[Long]("sum_distinct"), r.getAs[Long]("max_rep_permille"),
          r.getAs[Long]("n_repetitious")))
    }.toMap

  test("t7 hashed-pair distinct equals the serial string-bigram scan") {
    val got = t7Rows(CorpusQueries.queries("t7_repetition")(spark, dir))
    assert(got == t7Naive(docs.map { case (id, text, src, _) => (id, text, src) }))
    assert(got.values.map(t => t._2 - t._3).sum > 0,
      "the corpus must contain at least one repeated bigram")
  }

  test("t7 fuzz: random repetitious corpora match the serial string-bigram scan") {
    // tiny vocab forces heavy bigram repetition (including back-to-back
    // repeats of the SAME word — the a-a bigram class); docs under 2
    // words are planted to exercise the exclusion filter
    val vocab = Seq("ax", "bo", "cu", "de")
    val rnd   = new scala.util.Random(777)
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val n = 5 + rnd.nextInt(8)
      val corpus = (0L until n.toLong).map { id =>
        val len = rnd.nextInt(4) match {
          case 0 => rnd.nextInt(2)            // 0-1 words: excluded class
          case _ => 2 + rnd.nextInt(18)
        }
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "), s"s${id % 2}")
      }
      val d = TestSpark.tempDir(s"graft-t7-fuzz$trial-").toString
      corpus.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      try {
        val got = t7Rows(CorpusQueries.queries("t7_repetition")(spark, d))
        assert(got == t7Naive(corpus),
          s"trial $trial diverged on corpus:\n${corpus.mkString("\n")}")
      } finally graft.core.FsUtil.deleteRecursively(d)
    }
  }

  test("t9 epoch shuffle: positions are a dense permutation matching the serial rank") {
    val rows = CorpusQueries.queries("t9_epoch_shuffle")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === docs.length)
    // dense 0..n-1: a permutation, no gap, no dup
    assert(rows.map(_._3).sorted.toSeq === (0L until rows.length.toLong))
    // the distributed two-phase rank equals the serial (key, doc_id) rank
    val serial = rows.sortBy(r => (r._2, r._1)).map(_._1).toSeq
    assert(rows.sortBy(_._3).map(_._1).toSeq === serial)
    // shuffled, not identity: the hash must actually reorder the corpus
    assert(rows.sortBy(_._3).map(_._1).toSeq !== rows.map(_._1).sorted.toSeq)
    // re-running yields the identical permutation (seed-determinism)
    val again = CorpusQueries.queries("t9_epoch_shuffle")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows.forall(r => again(r._1) === r._3))
  }

  test("t10 stratified sample: membership is deterministic and the rate lands near 200 permille") {
    val rows = CorpusQueries.queries("t10_stratified_sample")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (n, k) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(n === docs.length.toLong)
    // Bernoulli(0.2) over the whole corpus: allow a generous band at sf0.001
    assert(k * 1000 > n * 120 && k * 1000 < n * 280, s"sampled $k of $n")
    // per-source membership must never exceed the source size
    rows.foreach { case (_, nd, ns) => assert(ns <= nd) }
    // determinism: identical counts on a re-run
    val again = CorpusQueries.queries("t10_stratified_sample")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    rows.foreach { case (src, _, ns) => assert(again(src) === ns) }
  }

  test("t11 linear counting: occupancy bounds hold and the estimate tracks the exact count") {
    val rows = CorpusQueries.queries("t11_linear_counting")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("occupied_bits"),
                 r.getAs[Long]("exact_distinct"), r.getAs[Long]("m_bits")))
    assert(rows.nonEmpty)
    rows.foreach { case (src, occ, exact, m) =>
      assert(occ <= exact && occ <= m, s"$src: occupancy can never exceed distinct or m")
      assert(occ > 0 == exact > 0)
      // linear counting estimate: -m ln(1 - occ/m) — at this occupancy the
      // estimate must track the truth closely (collisions are rare)
      if (exact > 0 && occ < m) {
        val est = -m * math.log1p(-occ.toDouble / m)
        assert(math.abs(est - exact) <= math.max(2.0, exact * 0.15),
          s"$src: estimate $est vs exact $exact")
      }
    }
  }

  test("w4: streamed HLL matches a serial per-window sketch and tracks distinct users") {
    import scala.collection.mutable
    val rows = graft.SparkEntry.queries("w4_stream_hll")(spark, dir).collect()
      .map(r => r.getAs[Long]("window_start_ms") ->
        (r.getAs[Long]("n_registers_set"), r.getAs[Long]("hll_estimate"),
         r.getAs[Long]("corrected_estimate"))).toMap
    assert(rows.nonEmpty)
    // serial truth from the raw event stream (retries duplicate events
    // but never change a window's distinct-user set — HLL registers are
    // idempotent under duplicates by construction)
    val ev = graft.core.EventLog.events(spark, dir)
      .selectExpr("timestamp_ms", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val maxTs = ev.map(_._1).max
    val m       = CorpusQueries.HllM
    val maxRank = CorpusQueries.HllRestBits + 1
    val regs  = mutable.Map.empty[(Long, Long), Int]
    val users = mutable.Map.empty[Long, mutable.Set[Long]]
    ev.foreach { case (ts, uid) =>
      val ws = ts / 3600000L * 3600000L
      if (ws + 3600000L <= maxTs) { // only windows the final watermark closed
        val h    = graft.functions.Fnv32.hash("whll:" + uid)
        val reg  = h % m
        val rest = h / m
        val rank = if (rest == 0L) maxRank
                   else maxRank - java.lang.Long.toBinaryString(rest).length
        regs((ws, reg)) = math.max(regs.getOrElse((ws, reg), 0), rank)
        users.getOrElseUpdate(ws, mutable.Set.empty) += uid
      }
    }
    val expected = regs.keys.map(_._1).toSet.map { (ws: Long) =>
      val rs = regs.filter(_._1._1 == ws).values.toSeq
      val sInv = rs.map(r => 1L << (CorpusQueries.HllFp - r)).sum +
        (m - rs.size) * (1L << CorpusQueries.HllFp)
      val raw = CorpusQueries.HllAlpha16 * (1L << CorpusQueries.HllFp) / sInv
      val corrected =
        if (rs.size < m && raw * 2 < 5L * m) CorpusQueries.HllLinearCount(m - rs.size - 1)
        else raw
      ws -> (rs.size.toLong, raw, corrected)
    }.toMap
    assert(rows === expected)
    // quality: corrected estimate within the small-range/std-err band
    rows.foreach { case (ws, (_, _, corrected)) =>
      val exact = users(ws).size
      assert(math.abs(corrected.toDouble - exact) <= math.max(4.0, exact * 0.25),
        s"window $ws: corrected $corrected vs exact $exact")
    }
  }

  test("t25 repetition gates equal a serial top-n-gram coverage pass; planted repeats trip the rules") {
    import scala.collection.mutable
    def permilles(text: String): (Long, Long, Long) = {
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val total = ws.map(_.length.toLong).sum
      def p(n: Int): Long = {
        if (ws.length < n || total == 0) 0L
        else {
          val cnt = mutable.Map.empty[String, Long]
          ws.sliding(n).foreach { g =>
            val k = g.mkString(" ")
            cnt(k) = cnt.getOrElse(k, 0L) + 1
          }
          val covered = cnt.collect { case (g, c) if c >= 2 => c * (g.length - (n - 1)) }
            .foldLeft(0L)(math.max)
          1000L * covered / total
        }
      }
      (p(2), p(3), p(4))
    }
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val ps = ds.map(d => permilles(d._2))
      def drop2(p: (Long, Long, Long)) = p._1 > CorpusQueries.RepTop2Permille
      def drop3(p: (Long, Long, Long)) = !drop2(p) && p._2 > CorpusQueries.RepTop3Permille
      def drop4(p: (Long, Long, Long)) = !drop2(p) && !drop3(p) && p._3 > CorpusQueries.RepTop4Permille
      src -> (ds.size.toLong, ps.count(drop2).toLong, ps.count(drop3).toLong, ps.count(drop4).toLong,
              ps.count(p => !drop2(p) && !drop3(p) && !drop4(p)).toLong,
              ps.map(_._1).max, ps.map(_._2).max, ps.map(_._3).max)
    }
    val got = CorpusQueries.queries("t25_gopher_repetition")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("drop_top2"), r.getAs[Long]("drop_top3"),
         r.getAs[Long]("drop_top4"), r.getAs[Long]("n_kept"),
         r.getAs[Long]("max_p2"), r.getAs[Long]("max_p3"), r.getAs[Long]("max_p4"))).toMap
    assert(got === expected)
    // reconciliation: every doc lands in exactly one bucket
    got.values.foreach { case (n, d2, d3, d4, kept, _, _, _) => assert(n === d2 + d3 + d4 + kept) }
    // planted fixtures trip each rule in first-fail order
    val tmp = TestSpark.tempDir("graft-rep-").toString
    try {
      import spark.implicits._
      Seq(
        (0L, ("spam ham " * 20).trim, "planted", 1L),              // top-2gram covers ~all chars
        (1L, (1 to 12).map(i => s"a$i b c d").mkString(" "), "planted", 1L), // unique bigrams, hot 4-gram? b c d repeats as 3-gram
        (2L, "all words here are entirely distinct tokens", "planted", 1L)
      ).map { case (id, t, s0, nc) => (id, t, "en", s0, nc) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      val r = CorpusQueries.queries("t25_gopher_repetition")(spark, tmp).collect().head
      assert(r.getAs[Long]("drop_top2") >= 1L, "the spam-ham doc must fail the top-2gram band")
      assert(r.getAs[Long]("n_kept") >= 1L, "the all-distinct doc must pass")
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("drop_top2") + r.getAs[Long]("drop_top3") +
        r.getAs[Long]("drop_top4") + r.getAs[Long]("n_kept"))
    } finally graft.core.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("t24 DSIR selection equals a serial hashed-bigram importance pass") {
    import scala.collection.mutable
    val B = CorpusQueries.DsirBuckets
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    // per-doc bucket counts + the two bucket LMs
    val docBuckets = docs.map { case (id, text, src, _) =>
      val ws  = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val bgs = if (ws.length < 2) Seq.empty[String]
                else ws.sliding(2).map(a => a(0) + " " + a(1)).toSeq
      val cnt = mutable.Map.empty[Long, Long]
      bgs.foreach { bg =>
        val b = graft.functions.Fnv32.hash("dsir:" + bg) % B
        cnt(b) = cnt.getOrElse(b, 0L) + 1
      }
      (id, src, cnt.toMap)
    }.filter(_._3.nonEmpty)
    val np = mutable.Map.empty[Long, Long]
    val nq = mutable.Map.empty[Long, Long]
    docBuckets.foreach { case (_, src, cnt) =>
      val m = if (src == "src0") np else nq
      cnt.foreach { case (b, c) => m(b) = m.getOrElse(b, 0L) + c }
    }
    val w0  = bits(np.values.sum + 1) - bits(nq.values.sum + 1)
    def w(b: Long): Long = bits(np.getOrElse(b, 0L) + 1) - bits(nq.getOrElse(b, 0L) + 1)
    val imps = docBuckets.filter(_._2 != "src0").map { case (id, src, cnt) =>
      (id, src, cnt.map { case (b, c) => c * w(b) }.sum - w0 * cnt.values.sum)
    }
    // nearest-rank threshold over distinct values, ties inclusive
    val n = imps.size.toLong
    val byVal = imps.groupBy(_._3).view.mapValues(_.size.toLong).toSeq.sortBy(-_._1)
    var cc = 0L
    val thr = byVal.flatMap { case (v, c) =>
      cc += c
      if (cc * 1000 >= CorpusQueries.DsirKeepPermille * n) Some(v) else None
    }.max
    val expected = imps.groupBy(_._2).map { case (src, ds) =>
      src -> (ds.size.toLong, ds.count(_._3 >= thr).toLong, ds.map(_._3).sum, thr)
    }
    val got = CorpusQueries.queries("t24_dsir_select")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_selected"),
         r.getAs[Long]("sum_importance"), r.getAs[Long]("threshold"))).toMap
    assert(got === expected)
    // the gate actually splits the raw corpus
    val (sel, tot) = (got.values.map(_._2).sum, got.values.map(_._1).sum)
    assert(sel > 0 && sel < tot, s"degenerate selection: $sel of $tot")
  }

  test("t21 HLL registers and estimate equal a serial single-threaded sketch") {
    import scala.collection.mutable
    val maxRank = CorpusQueries.HllRestBits + 1
    val regs = mutable.Map.empty[(String, Long), Int]
    val distinct = mutable.Map.empty[String, mutable.Set[String]]
    docs.foreach { case (_, text, src, _) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { w =>
        val h    = graft.functions.Fnv32.hash(w)
        val reg  = h % CorpusQueries.HllM
        val rest = h / CorpusQueries.HllM
        val rank = if (rest == 0L) maxRank
                   else maxRank - java.lang.Long.toBinaryString(rest).length
        regs((src, reg)) = math.max(regs.getOrElse((src, reg), 0), rank)
        distinct.getOrElseUpdate(src, mutable.Set.empty) += w
      }
    }
    val expected = regs.keys.map(_._1).toSet.map { (src: String) =>
      val rs = regs.filter(_._1._1 == src).values.toSeq
      val present = rs.map(m => 1L << (CorpusQueries.HllFp - m)).sum
      val s = present + (CorpusQueries.HllM - rs.size) * (1L << CorpusQueries.HllFp)
      val raw = CorpusQueries.HllAlpha16 * (1L << CorpusQueries.HllFp) / s
      // the shipped small-range correction: integer linear counting from
      // the shared LUT when registers remain empty and raw < 2.5m
      val corrected =
        if (rs.size < CorpusQueries.HllM && raw * 2 < 5L * CorpusQueries.HllM)
          CorpusQueries.HllLinearCount(CorpusQueries.HllM - rs.size - 1)
        else raw
      src -> (rs.size.toLong, s, raw, corrected,
              distinct(src).size.toLong, rs.max.toLong)
    }.toMap
    val got = CorpusQueries.queries("t21_hll_cardinality")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_registers_set"), r.getAs[Long]("sum_inv_scaled"),
         r.getAs[Long]("hll_estimate"), r.getAs[Long]("corrected_estimate"),
         r.getAs[Long]("exact_distinct"), r.getAs[Long]("max_rank"))).toMap
    assert(got === expected)
    // accuracy: the SHIPPED corrected estimate must track the truth
    // (m=256 → ~6.5% std err in the LC regime; allow small-sample slack)
    got.values.foreach { case (_, _, est, corrected, exact, _) =>
      assert(corrected > 0 && math.abs(corrected.toDouble - exact) <= math.max(4.0, exact * 0.25),
        s"HLL corrected estimate $corrected (raw $est) vs exact $exact")
    }
  }

  test("t21 correction regimes: sparse source linear-counts, dense source keeps the raw estimator") {
    // planted corpus: a 6-word source (n << m — the raw HLL estimator is
    // badly biased here; the LC branch must fire and land near-exact) and
    // a 2000-word source (most registers set — the raw branch must hold)
    val tmp = TestSpark.tempDir("graft-hllreg-").toString
    try {
      import spark.implicits._
      val sparse = (0 until 3).map(i =>
        (i.toLong, s"alpha bravo charlie delta echo f$i", "sparse", 30L))
      val dense = (10 until 20).map(i =>
        (i.toLong, (0 until 200).map(j => s"w${i}_$j").mkString(" "), "dense", 200L))
      (sparse ++ dense).toDF("doc_id", "text", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      val rows = CorpusQueries.queries("t21_hll_cardinality")(spark, tmp).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_registers_set"), r.getAs[Long]("hll_estimate"),
           r.getAs[Long]("corrected_estimate"), r.getAs[Long]("exact_distinct"))).toMap
      val (spSet, spRaw, spCorr, spExact) = rows("sparse")
      assert(spSet < CorpusQueries.HllM && spRaw * 2 < 5L * CorpusQueries.HllM,
        "sparse source must sit in the linear-counting regime")
      assert(spCorr === CorpusQueries.HllLinearCount((CorpusQueries.HllM - spSet).toInt - 1))
      assert(math.abs(spCorr - spExact) <= 1, s"LC near-exact at n<<m: $spCorr vs $spExact")
      val (_, dRaw, dCorr, dExact) = rows("dense")
      assert(dCorr === dRaw, "dense source must keep the raw HLL estimate")
      assert(math.abs(dCorr.toDouble - dExact) <= dExact * 0.2,
        s"raw HLL within std-err band at high cardinality: $dCorr vs $dExact")
    } finally graft.core.FsUtil.deleteRecursively(tmp)
  }

  test("t22 CMS estimates are min-of-rows, never underestimate, and match a serial sketch") {
    import scala.collection.mutable
    val counts = mutable.Map.empty[String, Long]
    val grid = mutable.Map.empty[(Int, Long), Long]
    docs.foreach { case (_, text, _, _) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { w =>
        counts(w) = counts.getOrElse(w, 0L) + 1
        (0 until CorpusQueries.CmsRows).foreach { r =>
          val c = graft.functions.Fnv32.hash(s"cms$r:$w") % CorpusQueries.CmsWidth
          grid((r, c)) = grid.getOrElse((r, c), 0L) + 1
        }
      }
    }
    val top = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(CorpusQueries.CmsTopK)
    val expected = top.zipWithIndex.map { case ((w, c), i) =>
      val est = (0 until CorpusQueries.CmsRows)
        .map(r => grid((r, graft.functions.Fnv32.hash(s"cms$r:$w") % CorpusQueries.CmsWidth))).min
      (i + 1L, w) -> (c, est, est - c)
    }.toMap
    val got = CorpusQueries.queries("t22_cms_heavy_hitters")(spark, dir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("w")) ->
        (r.getAs[Long]("exact_cnt"), r.getAs[Long]("cms_estimate"),
         r.getAs[Long]("overshoot"))).toMap
    assert(got === expected)
    got.values.foreach { case (exact, est, over) =>
      assert(est >= exact && over === est - exact, "CMS can never underestimate")
    }
  }

  test("t23 language-ID confusion matrix equals a serial Cavnar-Trenkle pass") {
    import scala.collection.mutable
    val profM = CorpusQueries.LangIdProfile
    val docTop = CorpusQueries.LangIdDocTop.toInt
    val dl = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase, r.getString(2)))
      .filter(_._2.length >= 3)
    def tris(t: String): Seq[String] = (0 to t.length - 3).map(i => t.substring(i, i + 3))
    // per-language ranked profiles (count DESC, gram ASC; ASCII corpus so
    // JVM string order equals both engines' binary collation)
    val langCounts = mutable.Map.empty[(String, String), Long]
    dl.foreach { case (_, t, l) =>
      tris(t).foreach(g => langCounts((l, g)) = langCounts.getOrElse((l, g), 0L) + 1) }
    val langProf: Map[String, Map[String, Long]] =
      langCounts.groupBy(_._1._1).map { case (l, m) =>
        l -> m.toSeq.map { case ((_, g), c) => (g, c) }
          .sortBy { case (g, c) => (-c, g) }.take(profM.toInt)
          .zipWithIndex.map { case ((g, _), i) => g -> (i + 1).toLong }.toMap
      }
    val langs = langProf.keys.toSeq.sorted
    val conf = mutable.Map.empty[(String, String), (Long, Long)]
    dl.foreach { case (_, t, actual) =>
      val dc = mutable.Map.empty[String, Long]
      tris(t).foreach(g => dc(g) = dc.getOrElse(g, 0L) + 1)
      val dp = dc.toSeq.sortBy { case (g, c) => (-c, g) }.take(docTop)
        .zipWithIndex.map { case ((g, _), i) => g -> (i + 1).toLong }
      val dists = langs.map { l =>
        val lp = langProf(l)
        l -> dp.map { case (g, dr) => lp.get(g).map(lr => math.abs(dr - lr)).getOrElse(profM) }.sum
      }
      val (pl, d) = dists.minBy { case (l, dist) => (dist, l) }
      val (n, s) = conf.getOrElse((actual, pl), (0L, 0L))
      conf((actual, pl)) = (n + 1, s + d)
    }
    val got = CorpusQueries.queries("t23_langid")(spark, dir).collect()
      .map(r => (r.getAs[String]("actual_lang"), r.getAs[String]("pred_lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dist"))).toMap
    assert(got === conf.toMap)
    // the matrix must cover every doc exactly once
    assert(got.values.map(_._1).sum === dl.length.toLong)
  }

  test("t12 mixture resample: under-represented sources keep everything, over-represented are thinned") {
    val rows = CorpusQueries.queries("t12_mixture_resample")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("keep_permille"),
                 r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept")))
    assert(rows.nonEmpty)
    rows.foreach { case (src, keep, n, kept) =>
      assert(kept <= n)
      assert(keep >= 0 && keep <= 1000)
      if (keep == 1000L) assert(kept === n, s"$src: keep-all weight must keep all docs")
    }
    // the uniform-token target must thin at least one source iff sources
    // differ in token mass (they do in the fixture corpus)
    assert(rows.exists(_._2 < 1000L), "some source must be over-represented")
  }

  test("t8/t12 survive a zero-token source (ANSI divide-by-zero guard)") {
    // a source whose text has no [a-z0-9] tokens: src_tokens = 0 — the
    // division guard must yield max weight / keep-all instead of the
    // DIVIDE_BY_ZERO Spark's default ANSI mode would raise
    val d = TestSpark.tempDir("graft-zerotok-").toString
    import spark.implicits._
    Seq(
      (0L, "normal english words here", "en", "texty", 24L),
      (1L, "。。。 ！！！ ？？？", "ja", "punct_only", 12L),
      (2L, "more english words arrive", "en", "texty", 25L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val w = CorpusQueries.queries("t8_mixture_weights")(spark, d).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("weight_permille")).toMap
    assert(w.contains("punct_only"), "the token-less source must still be reported")
    assert(w("punct_only") > w("texty"), "a token-less source gets the max weight")
    val rs = CorpusQueries.queries("t12_mixture_resample")(spark, d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("keep_permille"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept")))).toMap
    val (k, n, kept) = rs("punct_only")
    assert(k === 1000L && kept === n, "token-less source resamples at keep-all")
  }

  test("JSONL streaming ingest: files are picked up incrementally, exactly once") {
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    val jsonlDir = TestSpark.tempDir("graft-jsonl-stream-src-")
    val outDir   = TestSpark.tempDir("graft-jsonl-stream-out-").toString
    val ckpt     = TestSpark.tempDir("graft-jsonl-stream-ckpt-").toString
    // export the corpus, then feed its files into the watched dir in two drops
    val export = TestSpark.tempDir("graft-jsonl-stream-exp-").toString
    graft.sources.JsonlCorpus.write(spark, dir, export, nFiles = 4)
    val parts = NF.list(Paths.get(export)).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-")).sorted // skips .crc/_SUCCESS
    assert(parts.length === 4)
    def drop(ps: Seq[String]): Unit = ps.foreach { p =>
      NF.copy(Paths.get(p), jsonlDir.resolve(Paths.get(p).getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    def runOnce(): Unit = {
      val q = graft.sources.JsonlCorpus.readStream(spark, jsonlDir.toString, maxFilesPerTrigger = 2)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000); ()
    }
    drop(parts.take(2)); runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    drop(parts)// re-drop first two (already-seen names must NOT re-ingest) + the rest
    runOnce()
    val all  = spark.read.parquet(outDir)
    val want = spark.read.parquet(s"$dir/documents.parquet")
    assert(afterFirst > 0 && afterFirst < want.count())
    assert(all.count() === want.count(), "every document exactly once across both drops")
    import org.apache.spark.sql.functions.{col, sum}
    assert(all.agg(sum(col("doc_id"))).head.getLong(0) ===
           want.agg(sum(col("doc_id"))).head.getLong(0))
  }
}

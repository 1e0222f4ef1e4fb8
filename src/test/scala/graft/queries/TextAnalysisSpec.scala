package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Curation-filter operators on constructed corpora with known
  * ground truth. */
class TextAnalysisSpec extends SparkSpec {

  /** documents.parquet fixture with controlled texts. */
  private def corpus(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = tempDir("text_spec").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, "en", s"src$i", t, t.length) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("mixed-language detection: half-and-half docs flag, pure docs don't, " +
      "markerless chunks abstain") {
    // 16-token chunks. doc 0: two English chunks -> pure. doc 1: one
    // English chunk + one Spanish chunk -> 50% minority -> mixed.
    // doc 2: one English chunk + one chunk with NO markers -> the
    // markerless chunk abstains, doc stays pure.
    val en = (1 to 8).map(_ => "the cat and a dog is").mkString(" ")
      .split(" ").take(16).mkString(" ")
    val es = (1 to 8).map(_ => "el perro y la casa que de").mkString(" ")
      .split(" ").take(16).mkString(" ")
    val noise = (1 to 16).map(i => s"zz$i").mkString(" ")
    val dir = corpus(Seq(s"$en $en", s"$en $es", s"$en $noise"))
    val out = TextAnalysis.mixedLang(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 3L)   // n_docs
    assert(r.getLong(2) === 1L)   // only the half-and-half doc is mixed
    assert(r.getLong(3) === 6L)   // 2 chunks per doc
    assert(r.getLong(4) === 5L)   // one chunk abstained
  }

  test("mixed-language plan: scan-stage lambdas only — no Generate, one exchange") {
    val dir = corpus(Seq("the cat and a dog is", "el perro y la casa"))
    val df = TextAnalysis.mixedLang(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"per-chunk work must stay inside the scan-stage lambdas:\n$plan")
  }

  test("bpe training: learns the dominant pair first; exhausted merges are no-ops") {
    // 'ab' x3 and 'cd' x1: merge 1 must be (a,b) cnt 3, merge 2 (c,d)
    // cnt 1; afterwards NO pairs remain, so ranks 3..8 must not exist
    // (and must not annihilate the earlier output).
    val dir = corpus(Seq("ab ab", "ab cd"))
    val out = TextAnalysis.bpeTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq((1, "a", "b", 3L), (2, "c", "d", 1L)))
  }

  test("bpe apply: trained merges tokenize a known corpus to hand-computed counts") {
    // merges learned: (a,b) then (c,d) -> both words collapse to ONE
    // token, so 4 word occurrences = 4 tokens, toks_per_word = 1.0
    val dir = corpus(Seq("ab ab", "ab cd"))
    val r = TextAnalysis.bpeApply(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "en")
    assert(row.getLong(1) === 2L) // n_docs
    assert(row.getLong(2) === 4L) // n_words
    assert(row.getLong(3) === 4L) // n_tokens: every word fully merged
    assert(row.getDouble(4) === 1.0)
  }

  test("bpe apply: trained counts differ from the fixed-rule q54 counts " +
      "and sit strictly between full-merge and char-level") {
    // Real corpus where merges matter: 8 merges leave most words
    // multi-token, so trained counts land strictly above the
    // word-level fixed-rule counts and strictly below the char-level
    // baseline (what apply would give with ZERO merges).
    val dir = "/root/testdata/sf0.001"
    val trained = TextAnalysis.bpeApply(spark, dir)
      .agg(sum("n_tokens")).head().getLong(0)
    val fixedRule = TextAnalysis.tokenBpe(spark, dir)
      .agg(sum("sum_tok")).head().getLong(0)
    val charBaseline = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .agg(sum(length(col("w")))).head().getLong(0)
    assert(trained !== fixedRule)
    assert(trained < charBaseline, "the 8 learned merges must shrink counts")
    assert(trained > fixedRule, "8 merges cannot reach word-level counts")
  }

  test("bpe apply plan: pure scan-stage expression chain, no join anywhere") {
    // the merge table rides into the plan as literals, so tokenizing
    // the corpus must involve NO join operator of any kind — explode,
    // replace chain, aggregate only.
    val dir = corpus(Seq("ab ab", "ab cd"))
    val plan = TextAnalysis.bpeApply(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"bpe apply must not join (merges are literals):\n$plan")
  }

  test("bpe train+apply: non-BMP characters stay whole codepoints") {
    // '𝄞' (U+1D11E musical G clef) is an astral char: a
    // UTF-16 code-unit split would halve it into surrogates and the
    // learned merge would pair broken halves; the codepoint-safe seed
    // must learn (clef, a) as ONE merge of TWO whole symbols.
    val clef = new String(Character.toChars(0x1D11E))
    val dir = corpus(Seq(s"${clef}a ${clef}a"))
    val merges = TextAnalysis.bpeTrain(spark, dir).collect()
    assert(merges.length === 1)
    assert(merges.head.getString(1) === clef)
    assert(merges.head.getString(2) === "a")
    assert(merges.head.getLong(3) === 2L)
    val applied = TextAnalysis.bpeApply(spark, dir).collect()
    assert(applied.head.getLong(3) === 2L) // 2 occurrences x 1 token
  }

  test("quality gate keeps exactly the at-or-above-median docs per language") {
    // quality = min(n_tokens/100, 1)*0.5 + stop_ratio*0.5; with no
    // stopwords, quality is monotone in token count. 3 docs with 10,
    // 20, 30 tokens -> qualities 0.05/0.10/0.15, median 0.10 -> docs
    // 1 (20 toks) and 2 (30 toks) kept.
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = corpus(Seq(doc(10), doc(20), doc(30)))
    val r = TextAnalysis.qualityGate(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(1) === 3L) // n_docs
    assert(row.getLong(2) === 2L) // n_kept: median itself + above
    assert(row.getLong(3) === 1L + 2L) // kept ids
    assert(row.getDouble(4) === 0.10 + 0.15)
  }

  test("repetition stats: known dup-gram and top-token ground truth") {
    // doc 0: 'a b c a b c a b c' -> 9 tokens, 7 3-grams, 3 distinct
    //   -> 4 dup grams; top token count = 3 ('a'), n_tokens = 9
    // doc 1: 'x y z w' -> 4 tokens, 2 3-grams, 0 dup; top count 1
    // doc 2: 'p q' -> SHORTER THAN A 3-GRAM: 0 grams (the
    //   sequence-descends edge Spark must not hit), top count 1
    val dir = corpus(Seq("a b c a b c a b c", "x y z w", "p q"))
    val r = TextAnalysis.repetitionStats(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(1) === 3L) // n_docs
    assert(row.getLong(2) === 9L) // sum_grams = 7 + 2 + 0
    assert(row.getLong(3) === 4L) // sum_dup_grams
    assert(row.getDouble(4) === math.rint(4.0 / 9.0 * 1e6) / 1e6)
    // top_token_frac = (3 + 1 + 1) / (9 + 4 + 2)
    assert(row.getDouble(5) === math.rint(5.0 / 15.0 * 1e6) / 1e6)
  }

  test("pii redact: injected email+phone both redacted, lengths shrink") {
    val dir = corpus(Seq("hello world", "no pii here at all"))
    val r = TextAnalysis.piiRedact(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(1) === 2L) // n_docs
    assert(row.getLong(2) === 2L) // one injected email per doc
    assert(row.getLong(3) === 2L) // one injected phone per doc
    // every redaction replaced a longer span with the 7-char token
    assert(row.getLong(5) < row.getLong(4))
  }

  test("unigram LM: hand-computed bits for in-vocab corpus") {
    // tokens: a a b | a c -> freqs a=3, b=1, c=1, N=5 (all in vocab)
    val dir = corpus(Seq("a a b", "a c"))
    val r = TextAnalysis.unigramLm(spark, dir).collect()
    assert(r.length === 1)
    def bits(freqs: Seq[Double]): Double = {
      val raw = freqs.map(f => -math.log(f / 5.0) / math.log(2.0)).sum
      math.rint(raw * 1e4) / 1e4
    }
    val expected = math.rint(
      (bits(Seq(3, 3, 1)) + bits(Seq(3, 1))) * 1e4) / 1e4
    assert(r.head.getLong(1) === 2L)
    assert(r.head.getDouble(2) === expected)
  }

  test("unigram LM: tokens past the vocab cutoff pay the OOV penalty") {
    // 520 distinct single-occurrence tokens: vocab keeps the 500
    // lexicographically-first (count ties broken token asc); the other
    // 20 score with the 0.5 OOV count instead of 1 -> exactly +1 bit
    // each over an in-vocab singleton.
    val toks = (0 until 520).map(i => f"w$i%04d")
    val dir = corpus(Seq(toks.take(260).mkString(" "),
      toks.drop(260).mkString(" ")))
    val r = TextAnalysis.unigramLm(spark, dir).collect()
    val inVocabBits = -math.log(1.0 / 520) / math.log(2.0)
    val raw260a = math.rint(260 * inVocabBits * 1e4) / 1e4 // doc 0: all in vocab
    val raw260b = math.rint(
      (240 * inVocabBits + 20 * (inVocabBits + 1.0)) * 1e4) / 1e4
    val expected = math.rint((raw260a + raw260b) * 1e4) / 1e4
    assert(r.head.getDouble(2) === expected)
  }

  test("unigram LM plan: vocab map and total are BROADCAST to the " +
      "scoring stage; no per-token join anywhere") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val dir = corpus(Seq("a a b", "a c", "b c a"))
    val df = TextAnalysis.unigramLm(spark, dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      val bcast = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
      val shuffleJoins = plan.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      // the memoized 1-row LM state (vocab map + total) arrives as
      // ONE broadcast
      assert(bcast.size === 1, s"expected 1 broadcast cross join:\n$plan")
      // scoring is an in-scan fold: no row-matching join of tokens
      assert(shuffleJoins.isEmpty, s"per-token shuffle join found:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bigram lm: coherent word order scores fewer bits than scrambled") {
    import spark.implicits._
    val dir = tempDir("text_spec").toString
    // identical unigram profile (10 a's, 10 b's each), opposite local
    // coherence: the alternating doc's bigrams dominate the model, so
    // the run-length doc must pay more bits per bigram — the signal a
    // unigram LM (q87) cannot see.
    val coherent = (1 to 10).map(_ => "a b").mkString(" ")
    val scrambled = "a a a a a b b b b b a a a a a b b b b b"
    Seq((0L, "co", coherent), (1L, "sc", scrambled))
      .toDF("doc_id", "lang", "text")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.bigramLm(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(out("co") < out("sc"),
      s"coherent doc must score fewer bits/bigram: $out")
  }

  test("bm25: hand-computed scores rank a known corpus; absent terms " +
      "produce no rows") {
    // Only query q1 = (join, hash) matches this corpus. N=4, avgdl=3.
    // df(join)=2, df(hash)=2 -> idf = ln(1 + 2.5/2.5) = ln 2 for both.
    val dir = corpus(Seq(
      "join hash join",       // doc0: tf(join)=2, tf(hash)=1, dl=3
      "join xyz abc",         // doc1: tf(join)=1, dl=3
      "hash hash hash hash",  // doc2: tf(hash)=4, dl=4
      "zzz yyy"))             // doc3: no query terms
    val out = TextAnalysis.bm25(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.forall(_._1 == "q1"), s"only q1 matches: ${out.toSeq}")
    assert(out.map(_._3).toSeq === Seq(0L, 2L, 1L),
      s"rank order: ${out.toSeq}")
    // Replicate the engine's arithmetic (round per term, sum, re-round).
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idf = math.log(2.0)
    def part(tf: Double, dl: Double) =
      r4(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)))
    val expected = Seq(
      r4(part(2, 3) + part(1, 3)), // doc0: join + hash
      r4(part(4, 4)),              // doc2: hash only
      r4(part(1, 3)))              // doc1: join only
    assert(out.map(_._4).toSeq === expected, s"scores: ${out.toSeq}")
  }

  test("bm25: ranking is a bounded-heap aggregate, not a window sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val dir = corpus(Seq("join hash", "join batch row", "scan filter"))
    val df = TextAnalysis.bm25(spark, dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"bm25 must not window-sort per query:\n$plan")
      assert(plan.collect { case o: ObjectHashAggregateExec => o }.nonEmpty,
        s"bm25 bounded-heap top-k aggregate missing:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("vocab growth: unique-per-doc types keep the curve growing; " +
      "shared type is OOV only once") {
    // Each doc is "common uniq<i>" (2 tokens). Whatever hash-epoch a
    // doc lands in: every doc contributes exactly ONE new type (its
    // unique token), 'common' is new only in the earliest non-empty
    // epoch, and each epoch's oov tokens are its docs' unique tokens
    // plus (first epoch only) its 'common' instances. So the first
    // epoch's oov_rate is exactly 1.0 and every later epoch's is 0.5
    // — without the test needing to know the hash assignment.
    val dir = corpus((0 until 30).map(i => s"common uniq$i"))
    val rows = TextAnalysis.vocabGrowth(spark, dir).collect()
    val first = rows.head
    assert(rows.map(_.getLong(1)).sum === 30L)               // docs partition
    assert(rows.last.getLong(5) === 31L)                     // final cum_types
    assert(first.getDouble(7) === 1.0)
    for (r <- rows.tail) {
      assert(r.getDouble(7) === 0.5)
      assert(r.getLong(4) === r.getLong(1))                  // new = n_docs
    }
    assert(first.getLong(4) === first.getLong(1) + 1)        // + 'common'
    // cumulative columns are running sums of the per-epoch columns
    assert(rows.map(_.getLong(2)).sum === rows.last.getLong(3))
  }

  test("zipf spectrum: octave buckets and integer-regression slope — " +
      "hand-computed") {
    // frequencies: a=8, b=4, c=d=2, e..h=1 -> spectrum (fb, n_types):
    // (1,4) (2,2) (3,1) (4,1); octave points (x, bitlen(n_types)):
    // (1,3) (2,2) (3,1) (4,1) -> slope (4*14-10*7)/(4*30-100) = -0.7
    val dir = corpus(Seq(
      ("a " * 8 + "b " * 4 + "c c d d e f g h").trim))
    val out = TextAnalysis.zipfSpectrum(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) === ((4L, 4L, -0.7)))
    assert(out(2L) === ((2L, 4L, -0.7)))
    assert(out(3L) === ((1L, 4L, -0.7)))
    assert(out(4L) === ((1L, 8L, -0.7)))
    assert(out.size === 4)
  }

  test("pii redact: the clean text carries typed placeholder tokens") {
    import spark.implicits._
    val dir = corpus(Seq("sample text"))
    // the PRODUCTION injection + redaction columns (TextAnalysis
    // helpers), asserted on the output string itself (the digest
    // query only sums)
    val clean = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("dirty", TextAnalysis.piiDirty)
      .select(TextAnalysis.piiClean(col("dirty")).as("clean"))
      .as[String].head()
    assert(clean === "sample text contact <EMAIL> or <PHONE>")
  }

  test("ccnet buckets: predictable docs land in head, singleton-bigram " +
      "docs in tail, kept = not tail") {
    // One language, 9 docs, LM trained on this same corpus:
    //   - 3 docs of a deterministic bigram chain (P(b|a)=1 -> ~0 bits)
    //   - 3 docs where 'c' fans to three continuations (~log2(3) bits)
    //   - 3 docs of singleton tokens (backoff penalty -> highest bits)
    val head = Seq.fill(3)("a b a b a b a b")
    val mid = Seq.fill(3)("c d c e c f")
    val tail = (0 until 3).map(i =>
      (0 until 5).map(j => s"r${i}_$j").mkString(" "))
    val dir = corpus(head ++ mid ++ tail)
    val out = TextAnalysis.ccnetBuckets(spark, dir).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getBoolean(5))).toMap
    assert(out.keySet === Set("head", "middle", "tail"))
    assert(out("head")._1 === 3L)
    assert(out("middle")._1 === 3L)
    assert(out("tail")._1 === 3L)
    assert(out("head")._2 && out("middle")._2 && !out("tail")._2)
  }

  test("token fertility: subtoks-per-word and utf8 bytes-per-subtok on " +
      "hand-counted docs, multibyte chars counted as bytes not chars") {
    // doc0 "ab cd": 2 words, subtoks [ab][cd]=2, bytes 5
    // doc1 "hello, world": 2 words, subtoks [hello][,][world]=3, bytes 12
    // doc2 "héllo": 1 word, subtoks [h][é][llo]=3 (é is a single
    //   non-ascii punct-class match), bytes 6 (é is 2 UTF-8 bytes)
    val dir = corpus(Seq("ab cd", "hello, world", "héllo"))
    val out = TextAnalysis.tokenFertility(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "en")
    assert(r.getLong(1) === 3L)               // n_docs
    assert(r.getLong(2) === 5L)               // sum_words
    assert(r.getLong(3) === 8L)               // sum_subtoks
    assert(r.getLong(4) === 23L)              // sum_bytes (not 22 chars)
    assert(r.getDouble(5) === 1.6)            // 8/5
    assert(r.getDouble(6) === 2.875)          // 23/8
  }

  test("token fertility plan: one scan + one aggregate, no join, no Generate") {
    val dir = corpus(Seq("ab cd"))
    val plan = TextAnalysis.tokenFertility(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fertility must not join:\n$plan")
    assert(!plan.contains("Generate"),
      s"token arrays must stay inside scan-stage counts:\n$plan")
  }

  test("rag chunking: exact window arithmetic, and the stats pass never " +
      "explodes or joins") {
    // doc0: 40 tokens -> chunks at 0/12/24 (L=2): 3 chunks,
    //   chunk tokens 16+16+16=48... last chunk = 40-24=16 -> 48,
    //   overlap 8 -> ppm (8*1e6) div 48 = 166666
    // doc1: 10 tokens -> 1 chunk, 10 tokens, overlap 0
    val dir = corpus(Seq(
      (1 to 40).map(i => s"w$i").mkString(" "),
      (1 to 10).map(i => s"v$i").mkString(" ")))
    val df = TextAnalysis.ragChunking(spark, dir)
    val out = df.collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "en")
    assert(r.getLong(1) === 2L)             // n_docs
    assert(r.getLong(2) === 4L)             // 3 + 1 chunks
    assert(r.getLong(3) === 58L)            // 48 + 10
    assert(r.getLong(4) === 50L)            // 40 + 10
    assert(r.getLong(5) === (8L * 1000000L) / 58L) // overlap ppm
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Join"),
      s"chunk stats must stay closed-form in the scan stage:\n$plan")
  }

  test("chunk dedup: a passage shared by two documents collapses to one " +
      "distinct chunk") {
    // doc0 = passage P (exactly one 16-token chunk); doc1 = P ++ 12
    // fresh tokens (chunks: P again at offset 0, then tokens 13..28).
    // 3 chunks, 2 distinct, dup_ppm = 1000000 div 3.
    val p = (1 to 16).map(i => s"p$i").mkString(" ")
    val dir = corpus(Seq(p, p + " " + (1 to 12).map(i => s"q$i").mkString(" ")))
    val out = TextAnalysis.chunkDedup(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 3L)  // n_chunks
    assert(r.getLong(2) === 2L)  // n_distinct
    assert(r.getLong(3) === 1000000L / 3L)
  }

  test("prf rerank: feedback doc excluded, dense ranks consecutive, " +
      "cosines ordered, every candidate came from bm25") {
    val dir = "/root/testdata/sf0.001"
    val bm = TextAnalysis.all("q129_bm25").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    val out = TextAnalysis.prfRerank(spark, dir).collect()
    assert(out.nonEmpty)
    for (q <- out.map(_.getString(0)).distinct) {
      val mine = out.filter(_.getString(0) == q).sortBy(_.getInt(1))
      assert(mine.map(_.getInt(1)).toSeq === (1 to mine.length))
      val cosines = mine.map(_.getDouble(4)).toSeq
      assert(cosines === cosines.sorted.reverse)
      // every reranked doc was a bm25 candidate
      for (r <- mine) assert(bm.contains((q, r.getLong(2))))
    }
    // the feedback doc — best-bm25-ranked candidate WITH an
    // embedding — never appears in its own rerank list
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val bmRanked = TextAnalysis.all("q129_bm25").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for (q <- out.map(_.getString(0)).distinct) {
      val fbDoc = bmRanked.filter(r => r._1 == q && emb.contains(r._3))
        .minBy(_._2)._3
      assert(!out.filter(_.getString(0) == q)
        .map(_.getLong(2)).contains(fbDoc),
        s"feedback doc $fbDoc leaked into query $q's rerank list")
    }
  }

  test("count-min sketch: never undercounts, and recovers exact counts " +
      "on a collision-free fixture vocabulary") {
    // counts: aa=4, bb=2, cc=1, dd=1; N=8 tokens, 4 types in 512
    // columns -> collision-free for these md5 rows (deterministic)
    val dir = corpus(Seq("aa bb aa cc", "bb aa dd", "aa"))
    val out = TextAnalysis.cmsSketch(spark, dir).collect()
    assert(out.length === 4) // vocab < 20 probes
    val exact = Map("aa" -> 4L, "bb" -> 2L, "cc" -> 1L, "dd" -> 1L)
    for (r <- out) {
      val (tok, ex, est, over, ok) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(ex === exact(tok))
      assert(est >= ex, s"CMS undercounted $tok: $est < $ex") // theorem
      assert(over === est - ex)
      assert(ok && est === ex, s"unexpected collision on $tok")
    }
  }

  test("count-min sketch merge law: sketch(A) + sketch(B) equals " +
      "sketch(A union B) cell-for-cell") {
    import spark.implicits._
    val a = Seq(("aa", 3L), ("bb", 1L), ("cc", 2L)).toDF("tok", "cnt")
    val b = Seq(("bb", 4L), ("dd", 5L)).toDF("tok", "cnt")
    val union = a.unionByName(b).groupBy("tok")
      .agg(sum("cnt").as("cnt"))
    val merged = TextAnalysis.cmsCellsFromCounts(a)
      .withColumnRenamed("cell", "ca")
      .join(TextAnalysis.cmsCellsFromCounts(b)
        .withColumnRenamed("cell", "cb"), Seq("r", "c"), "full")
      .select(col("r"), col("c"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L)))
          .as("cell"))
    val direct = TextAnalysis.cmsCellsFromCounts(union)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "cell-wise sum of two sketches must equal the union's sketch")
  }

  test("naive bayes classifier: separable vocabularies classify the held-out " +
      "split correctly; confusion partitions the eval docs") {
    import spark.implicits._
    val dir = tempDir("nb_spec").toString
    // Two languages with DISJOINT vocabularies; enough docs that both
    // the train (md5 bucket < 8) and eval (>= 8) splits hold both
    // languages. With disjoint vocabularies every eval token is either
    // in-class evidence or OOV-for-the-other-class, so NB must get
    // every doc right regardless of the split's exact composition.
    val aWords = Seq("alpha", "beta", "gamma", "delta")
    val bWords = Seq("uno", "dos", "tres", "cuatro")
    val rows = (0 until 80).map { i =>
      val w = if (i % 2 == 0) aWords else bWords
      val text = (0 until 12).map(j => w(j % 4)).mkString(" ")
      (i.toLong, if (i % 2 == 0) "aa" else "bb", s"src${i % 3}",
        text, text.length)
    }
    rows.toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.nbLangClassifier(spark, dir).collect()
    assert(out.nonEmpty)
    // perfect separation: only diagonal rows
    for (r <- out)
      assert(r.getString(0) === r.getString(1),
        s"misclassified: true=${r.getString(0)} pred=${r.getString(1)}")
    val langsSeen = out.map(_.getString(0)).toSet
    assert(langsSeen === Set("aa", "bb"),
      s"eval split lost a language: $langsSeen")
    // confusion counts cover exactly the eval split
    val nEval = spark.read.parquet(s"$dir/documents.parquet")
      .where(expr(
        s"${Exprs.hash60("cast(doc_id as string)")} % 10 >= 8"))
      .count()
    assert(out.map(_.getLong(2)).sum === nEval)
    // scoring contract: the token-model lookup is a BROADCAST hash
    // join (the q117 lesson) — a sort-merge join here would shuffle
    // the exploded token stream by token
    val plan = TextAnalysis.nbLangClassifier(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model lookup must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream must not shuffle by token:\n${plan.take(2000)}")
  }

  test("q194: delta-appended postings equal the full rebuild digest; " +
      "first-seen delta terms are counted") {
    // 16 docs -> thr = 15*7/8 = 13: base = 0..13, delta = 14..15.
    // Delta reuses 'alpha' (append to an existing list) and introduces
    // 'zeta'/'eta' (first-seen terms — posting lists entirely delta).
    val dir = corpus(
      (0 to 13).map(i => s"alpha beta gamma w$i") ++
        Seq("alpha zeta", "zeta eta"))
    val inc = TextAnalysis.all("q194_incremental_postings").run(spark, dir)
      .collect().map(r =>
        (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val full = TextAnalysis.all("q127_inverted_index").run(spark, dir)
      .collect().map(r =>
        (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // merged == rebuilt: same buckets, counts, AND content digests
    // (membership + order of every posting list)
    assert(inc === full)
    val newTerms = TextAnalysis.all("q194_incremental_postings").run(spark, dir)
      .collect().map(_.getLong(4)).sum
    assert(newTerms === 2L, s"zeta + eta expected, got $newTerms")
  }

  test("q201: retracting the delta restores the base index list-for-list; " +
      "delta-only terms drop; re-append restores the merged index") {
    // Same layout as the q194 fixture: base = 0..13, delta = 14..15.
    // 'alpha' spans base+delta (must SHRINK), 'zeta'/'eta' are
    // delta-only (must DROP), base terms keep their lists verbatim.
    val dir = corpus(
      (0 to 13).map(i => s"alpha beta gamma w$i") ++
        Seq("alpha zeta", "zeta eta"))
    val thr = 13L
    val retracted = TextAnalysis.retractedPostings(spark, dir, thr)
      .select("w", "docs").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    // independent base-only build on a fixture WITHOUT the delta docs
    val baseDir = corpus((0 to 13).map(i => s"alpha beta gamma w$i"))
    val baseBuilt = TextAnalysis.retractedPostings(spark, baseDir, Long.MaxValue)
      .select("w", "docs").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(retracted === baseBuilt)
    assert(!retracted.contains("zeta") && !retracted.contains("eta"))
    assert(retracted("alpha") === (0L to 13L))
    // composition: q194's merge over the SAME dir starts from the base
    // lists q201 just restored, so its digest equaling q127's rebuild
    // (already asserted by the q194 test) closes the idempotent
    // re-delivery loop: retract -> re-append == untouched index.
    val shrunk = TextAnalysis.all("q201_postings_retraction").run(spark, dir)
      .collect().map(_.getLong(4)).sum
    assert(shrunk === 1L, s"only 'alpha' spans base+delta, got $shrunk")
  }

  test("randomized law: q201 retraction == base build for any corpus " +
      "and any threshold") {
    val rnd = new scala.util.Random(20260814)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "zeta", "eta",
      "theta", "iota")
    for (trial <- 1 to 3) {
      val n = 8 + rnd.nextInt(8)
      val texts = (0 until n).map(_ =>
        Seq.fill(2 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      val thr = rnd.nextInt(n - 1).toLong // at least one delta doc
      val dir = corpus(texts)
      val baseDir = corpus(texts.take(thr.toInt + 1))
      val retracted = TextAnalysis.retractedPostings(spark, dir, thr)
        .select("w", "docs").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      val baseBuilt = TextAnalysis
        .retractedPostings(spark, baseDir, Long.MaxValue)
        .select("w", "docs").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(retracted === baseBuilt,
        s"retraction law broke on trial $trial: thr=$thr texts=$texts")
    }
  }

  test("randomized law: q199 incremental ranking == q129 full recompute " +
      "on arbitrary corpora") {
    val rnd = new scala.util.Random(991129)
    // probe-term vocabulary (q129's SearchQueries terms) + filler
    val probe = Vector("join", "hash", "row", "batch", "scan", "filter")
    val filler = Vector("pad", "fill", "misc", "other")
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(8)
      val texts = (0 until n).map(_ =>
        Seq.fill(3 + rnd.nextInt(8))(
          if (rnd.nextBoolean()) probe(rnd.nextInt(probe.size))
          else filler(rnd.nextInt(filler.size)))
          .mkString(" "))
      val dir = corpus(texts)
      val inc = TextAnalysis.all("q199_incremental_bm25").run(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val full = TextAnalysis.all("q129_bm25").run(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(inc === full,
        s"q199 law broke on trial $trial: texts=$texts")
    }
  }

  test("q199: incrementally merged BM25 stats serve the exact ranking " +
      "of the full recompute, delta docs included") {
    // 16 docs -> thr = 15*7/8 = 13: base = 0..13, delta = 14..15.
    // Base docs carry the probe terms at tf=1; delta doc 14 stuffs
    // 'join'/'hash' (q1's terms) so it MUST surface in q1's top-5 —
    // proving the served ranking sees today's arrival, not just
    // yesterday's stats. Doc 15 adds filler that moves avgdl, so a
    // stale-scalars bug would shift every score.
    val dir = corpus(
      (0 to 13).map(i => s"join hash row batch scan filter pad$i") ++
        Seq("join hash join hash join hash",
          (1 to 30).map(i => s"fill$i").mkString(" ")))
    val inc = TextAnalysis.all("q199_incremental_bm25").run(spark, dir)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val full = TextAnalysis.all("q129_bm25").run(spark, dir)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // merged == rebuilt: identical (qid, rank, doc, score) tuples
    assert(inc.toSeq === full.toSeq)
    // the tf-stuffed delta doc tops q1 (tf saturation still beats tf=1)
    val q1Top = inc.filter(r => r._1 == "q1" && r._2 == 1L).map(_._3)
    assert(q1Top === Array(14L),
      s"delta doc 14 should rank first for q1, got ${q1Top.mkString(",")}")
  }
}

package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Curation operators on constructed inputs with known answers, plus
  * the plan-shape guarantees the 100 TB posture depends on. */
class CurationSpec extends SparkSpec {

  private def ccLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Curation.connectedComponents(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components: chain, triangle, crossing star, singleton-free") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, star centered on a
    // LARGE id (20 center, smaller leaves — exercises both star steps),
    // plus an edge listed in both orders and a self-contained pair.
    val labels = ccLabels(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 7L), (20L, 8L), (20L, 9L),
      (30L, 31L), (31L, 30L)))
    assert(labels === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 20L -> 7L,
      30L -> 30L, 31L -> 30L))
  }

  test("connected components: long chain converges within the round bound") {
    // 40-node chain: diameter 39 >> MaxCcRounds, so convergence proves
    // the O(log n) star-collapse (min-propagation would need 39 rounds).
    val n = 40L
    val labels = ccLabels((1L until n).map(i => (i, i + 1)))
    assert(labels === (1L to n).map(_ -> 1L).toMap)
  }

  test("connected components: empty pair set yields no labels") {
    import spark.implicits._
    assert(Curation.connectedComponents(
      Seq.empty[(Long, Long)].toDF("u", "v")).isEmpty)
  }

  /** Driver-side union-find — the 20-line reference implementation the
    * distributed star-collapse must agree with on arbitrary graphs. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize: label every node with its component MIN (paths are
    // compressed toward the min because we always parent max->min)
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connected components agree with union-find on random graphs") {
    // SEEDED generator: every CI run tests the same 12 graphs, so a
    // failure replays deterministically (the printed edge list is a
    // convenience, not the only road back).
    val rnd = new scala.util.Random(20260813L)
    val cases = Seq.fill(12) {
      val n = 2 + rnd.nextInt(23)
      val m = 1 + rnd.nextInt(40)
      Seq.fill(m)((rnd.nextLong(n.toLong + 1), rnd.nextLong(n.toLong + 1)))
    }
    cases.foreach { edges =>
      val real = edges.filter { case (a, b) => a != b }
      val expected = unionFind(real)
      assert(ccLabels(real) === expected, s"edges: $real")
    }
  }

  test("randomized law: q191 repair == full CC for any graph and any " +
      "base/delta split; q196 repair == survivors' CC for any removal") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 8) {
      val n = 3 + rnd.nextInt(20)
      val m = 1 + rnd.nextInt(35)
      val edges = Seq.fill(m)(
        (rnd.nextLong(n.toLong + 1), rnd.nextLong(n.toLong + 1)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        val docs = (0L to n.toLong).toDF("doc_id")
        val fullExpected = docs
          .join(Curation.connectedComponents(edges.toDF("u", "v"))
            .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("root"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // --- q191 law: ANY threshold split (delta = ids > thr) ---
        val thr = rnd.nextInt(n + 1).toLong
        val basePairs = edges.filter { case (a, b) => a <= thr && b <= thr }
        val deltaPairs = edges.filter { case (a, b) => a > thr || b > thr }
        val baseLabels =
          if (basePairs.isEmpty)
            Seq.empty[(Long, Long)].toDF("node", "label")
          else Curation.connectedComponents(basePairs.toDF("u", "v"))
        val inc = Curation.repairedLabels(docs, baseLabels,
          deltaPairs.map { case (a, b) => (a, b) }.toDF("ia", "ib"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(inc === fullExpected,
          s"q191 law broke: edges=$edges thr=$thr")
        // --- q196 law: ANY removal set; repair == survivors' CC ---
        val removed = (0L to n.toLong)
          .filter(_ => rnd.nextInt(4) == 0).toSet
        val survivors = (0L to n.toLong).filterNot(removed)
        val survEdges = edges.filter { case (a, b) =>
          !removed(a) && !removed(b) }
        val survExpected = survivors.toDF("doc_id")
          .join((if (survEdges.isEmpty)
            Seq.empty[(Long, Long)].toDF("node", "label")
          else Curation.connectedComponents(survEdges.toDF("u", "v")))
            .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("root"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // the q196 repair algebra, replayed on DataFrames: touched
        // roots -> re-CC surviving edges of touched comps -> merge
        val fullLabels = Curation.connectedComponents(edges.toDF("u", "v"))
        val touched = fullLabels
          .join(removed.toSeq.toDF("node"), Seq("node"))
          .select(col("label")).distinct()
        val touchedPairs = survEdges.toDF("ia", "ib")
          .join(fullLabels.select(col("node").as("ia"), col("label")),
            Seq("ia"))
          .join(touched, Seq("label"), "left_semi")
          .select(col("ia").as("u"), col("ib").as("v"))
        val repairedPart = Curation.connectedComponents(touchedPairs)
        val untouched = fullLabels.join(touched, Seq("label"), "left_anti")
        val rep = survivors.toDF("doc_id")
          .join(untouched.unionByName(repairedPart)
            .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("root"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(rep === survExpected,
          s"q196 law broke: edges=$edges removed=$removed")
      }
    }
  }

  /** Scratch corpus dir for the document-level operators. */
  private def corpus(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("curation_spec").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("leakage-safe split: clusters never span splits, doc policy measured on the same corpus") {
    import spark.implicits._
    val dir = tempDir("cur_spec").toString
    // 10 groups of 3 identical docs (guaranteed near-dup clusters)
    // plus 5 singletons; ids interleaved so naive doc-hash splitting
    // has every chance to tear clusters apart
    val docs = (0 until 10).flatMap { g =>
      val text = s"alpha bravo charlie delta echo foxtrot golf hotel " +
        s"unique$g marker$g payload$g"
      (0 until 3).map(c => (g * 3 + c.toLong, text, "en", "web"))
    } ++ (30L until 35L).map(i =>
      (i, s"solo document number $i with its own words entirely", "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.leakageSafeSplit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the operator's guarantee: cluster policy leaks NOTHING
    assert(out.contains(("cluster", "LEAK", 0L, 0L)), out.mkString(", "))
    // both policies partition all 35 docs across train/val/test
    for (p <- Seq("cluster", "doc"))
      assert(out.collect {
        case (`p`, s, n, _) if s != "LEAK" => n
      }.sum === 35L, out.mkString(", "))
  }

  test("decontamination flags exactly the docs sharing a 4-gram with the benchmark slice") {
    // doc 0 (id % 97 == 0) is the benchmark. doc 1 embeds one of its
    // 4-grams verbatim; doc 2 shares only a trigram; doc 3 disjoint.
    val dir = corpus(Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "s"),
      (1L, "noise words then alpha beta gamma delta closing", "en", "s"),
      (2L, "alpha beta gamma but never the fourth token", "en", "s"),
      (3L, "entirely unrelated text with other words here", "en", "s")))
    val out = Curation.decontaminate(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === (3L, 1L, 1L))
  }

  test("decontamination broadcasts the benchmark gram set") {
    val dir = corpus(Seq(
      (0L, "alpha beta gamma delta", "en", "s"),
      (1L, "alpha beta gamma delta too", "en", "s")))
    val plan = Curation.decontaminate(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast:\n$plan")
  }

  test("span dedup flags exactly the docs sharing a 16-token verbatim span") {
    val span = (1 to 16).map(i => s"tok$i").mkString(" ")
    val dir = corpus(Seq(
      (0L, s"prefix words $span trailing bits", "en", "s"),
      (1L, s"other opening $span different close", "en", "s"),
      // doc 2 shares only 15 of the 16 tokens consecutively
      (2L, s"alpha ${(2 to 16).map(i => s"tok$i").mkString(" ")} omega", "en", "s"),
      (3L, "entirely unrelated filler text with plenty of words to spare here today", "en", "s")))
    val out = Curation.spanDedup(spark, dir).collect()
    assert(out.length === 1)
    assert((out.head.getString(0), out.head.getLong(1), out.head.getLong(2))
      === ("en", 2L, 1L)) // docs 0 and 1; ids sum to 1
  }

  test("weighted sampling is deterministic and respects per-source rates") {
    // src0 keeps everything (rate 10000/10000); a made-up source gets
    // the 10% default — with 40 docs the kept set must be a strict,
    // stable subset.
    val rows = (0L until 40L).map(i =>
      (i, s"doc $i body", "en", if (i < 20) "src0" else "srcX"))
    val dir = corpus(rows)
    val first = Curation.sourceSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(first.find(_._1 == "src0").get._3 === 20L) // rate 1.0 keeps all
    val x = first.find(_._1 == "srcX").get
    assert(x._3 < x._2) // default 10% keeps a strict subset
    val second = Curation.sourceSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(first.toSeq === second.toSeq) // re-run selects identical rows
  }

  test("group sampling keeps EXACTLY k per source (all, when the group is smaller)") {
    // 'big' has 60 docs -> exactly 50 kept; 'tiny' has 10 -> all 10.
    val rows = (0L until 60L).map(i => (i, s"doc $i", "en", "big")) ++
      (100L until 110L).map(i => (i, s"doc $i", "en", "tiny"))
    val dir = corpus(rows)
    val first = Curation.groupSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(first.find(_._1 == "big").get._2 === 50L)
    assert(first.find(_._1 == "tiny").get._2 === 10L)
    // deterministic: the same rows are selected on a re-run
    val second = Curation.groupSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(first.toSeq === second.toSeq)
  }

  test("group sampling plan: bounded-heap aggregate, no per-group window sort") {
    val dir = corpus(Seq((0L, "t", "en", "src0"), (1L, "u", "en", "src0")))
    val plan = Curation.groupSample(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"exact-k sampling must not window-sort groups:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("HashAggregate"),
      s"expected the two-phase top-k aggregate:\n$plan")
  }

  test("sequence packing: hand-computed boundary count and sequence total") {
    // 60 docs x 10 tokens = 600 tokens; window 512 -> 2 sequences and
    // exactly ONE straddling doc: the one starting at offset 510
    // (spans 510..519 across the 512 boundary).
    val rows = (0L until 60L).map(i =>
      (i, (1 to 10).map(t => s"w$t").mkString(" "), "en", "s"))
    val dir = corpus(rows)
    val out = Curation.sequencePack(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 60L)  // n_docs
    assert(r.getLong(2) === 600L) // n_tokens
    assert(r.getLong(3) === 1L)   // n_straddling
    assert(r.getLong(4) === 2L)   // n_sequences
  }

  test("sequence packing plan: the corpus-row window is bucket-partitioned, " +
      "never a global single-partition sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = corpus((0L until 10L).map(i => (i, "a b c", "en", "s")))
    val df = Curation.sequencePack(spark, dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      // every window over more than the tiny bucket-offset table must
      // carry a non-empty partition spec
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"no window found:\n$plan")
      val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
      // exactly the buckets-count-sized offset window may be global
      assert(unpartitioned.size <= 1,
        s"corpus-row window lost its bucket partitioning:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("corpus shuffle: positions form an exact permutation, " +
      "round-robin shards balance, and the result is partitioning-invariant") {
    // 29 docs (not a multiple of the shard count) -> shard sizes 4/4/4/4/4/3/3/3
    val dir = corpus((0L until 29L).map(i => (i * 7, "x", "en", "s")))
    val rows = Curation.corpusShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (0L until 8L))
    assert(rows.map(_._2).sum === 29L)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1) // round-robin
    assert(rows.map(_._3).sum === 29L * 28L / 2)         // sum 0..28
    // digest is a pure function of (seed, doc_id set): a re-read with
    // a different partitioning reproduces it exactly
    val again = Curation.corpusShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(rows.map(r => (r._1, r._4)).toMap === again)
  }

  test("corpus shuffle plan: the rank window is bucket-partitioned, " +
      "never a global single-partition sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = corpus((0L until 10L).map(i => (i, "x", "en", "s")))
    val df = Curation.corpusShuffle(spark, dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"no window found:\n$plan")
      // exactly the buckets-count-sized offset window may be global
      assert(windows.count(_.partitionSpec.isEmpty) <= 1,
        s"corpus-row rank window lost its bucket partitioning:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("mixture allocation: scarce source caps, leftover redistributes by weight") {
    // src0 (weight 4) has only 10 tokens; src1-3 have 1000 each.
    // budget = 3010 div 2 = 1505. Round 1: src0 wants 602, caps at 10;
    // src1/2/3 get 451/301/150. Leftover 593 redistributes over
    // weights 3/2/1 -> +296/+197/+98.
    def docs(src: String, base: Long, k: Int) = (0 until k).map(i =>
      (base + i, (1 to 10).map(t => s"w$t").mkString(" "), "en", src))
    val dir = corpus(docs("src0", 0, 1) ++ docs("src1", 100, 100) ++
      docs("src2", 1000, 100) ++ docs("src3", 2000, 100))
    val rows = Curation.mixtureAlloc(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows("src0") === ((0L, 10L, 10L, 1.0)))
    assert(rows("src1") === ((1L, 1000L, 747L, 0.747)))
    assert(rows("src2") === ((2L, 1000L, 498L, 0.498)))
    assert(rows("src3") === ((3L, 1000L, 248L, 0.248)))
  }

  test("example assembly: ts order, event_id tiebreak, cent rendering, truncation") {
    import spark.implicits._
    val dir = tempDir("curation_spec").toString
    // user 1: arrival order scrambled; two events share a timestamp
    // (tie broken by event_id); user 2: 40 events -> truncates to 32.
    val u1 = Seq(
      (2L, 3_000L * 1000, 1L, "b", 1.0),
      (0L, 1_000L * 1000, 1L, "a", 2.5),
      (1L, 1_000L * 1000, 1L, "c", 0.42))
    val u2 = (0 until 40).map(i =>
      (100L + i, (10_000L + i * 1000) * 1000, 2L, "e", 1.0))
    (u1 ++ u2).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Curation.assembled(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) === ((3L, "a@250 | c@42 | b@100")))
    assert(out(2L)._1 === 32L) // truncated
    assert(out(2L)._2 === (1 to 32).map(_ => "e@100").mkString(" | "))
  }

  test("quality keeper: the higher-quality dup wins over the min-id policy") {
    // doc 1: 10 content tokens, zero stopwords -> quality 0.05;
    // doc 2: same tokens + 5 stopwords -> near-dup (J = 8/13) with
    // quality 0.2417. Min-id policy keeps doc 1; the quality keeper
    // must keep doc 2 and report the 0.1917 gain.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = corpus(Seq(
      (1L, base, "en", "s"),
      (2L, base + " the of and is in", "en", "s")))
    val out = Curation.qualityKeeper(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.toSeq === Seq((2L, 1L, 2L, 0.2417, 0.1917)))
  }

  test("shuffled packing plan: the token-cumsum window stays bucket-partitioned " +
      "under the permutation order") {
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = corpus((0L until 10L).map(i => (i, "a b c", "en", "s")))
    val df = Curation.shuffledPack(spark, dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"no window found:\n$plan")
      assert(windows.count(_.partitionSpec.isEmpty) <= 1,
        s"corpus-row cumsum window lost its bucket partitioning:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shuffled packing differs from doc_id-order packing in straddle pattern") {
    // 60 x 10-token docs: totals/sequence counts match q110 exactly,
    // but WHICH doc straddles the 512 boundary depends on the order —
    // the digest must reflect the permutation, not doc_id order.
    val rows = (0L until 60L).map(i =>
      (i, (1 to 10).map(t => s"w$t").mkString(" "), "en", "s"))
    val dir = corpus(rows)
    val a = Curation.sequencePack(spark, dir).collect().head
    val b = Curation.shuffledPack(spark, dir).collect().head
    assert(a.getLong(2) === b.getLong(2))   // same n_tokens
    assert(a.getLong(4) === b.getLong(4))   // same n_sequences
    assert(b.getLong(3) === 1L)             // exactly one straddler here too
  }

  test("chunking geometry: window starts, overlap, and tail truncation") {
    // 100 tokens -> starts 0/48/96, lengths 64/52/4; 64 tokens -> a
    // second, fully-overlapped 16-token tail window (stride < n);
    // 5 tokens -> one short chunk.
    def doc(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    val dir = corpus(Seq(
      (1L, doc(100), "en", "src0"),
      (2L, doc(64), "de", "src0"),
      (3L, doc(5), "fr", "src0")))
    val rows = Curation.chunk(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows("en") === ((3L, 1L, 120L))) // 64 + 52 + 4
    assert(rows("de") === ((2L, 1L, 80L)))  // 64 + 16
    assert(rows("fr") === ((1L, 0L, 5L)))
  }

  test("profile: completeness and distinctness on a null-bearing fixture") {
    import spark.implicits._
    val dir = tempDir("profile_spec").toString
    Seq(
      (Some(1L), Some("en"), Some("s0"), Some("a b"), Some(3)),
      (Some(2L), None,       Some("s0"), Some("a b"), Some(3)),
      (Some(3L), Some("de"), None,       None,        Some(7)),
      (Some(4L), Some("de"), Some("s1"), Some("x"),   None))
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.profile(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("doc_id") === ((4L, 0L, 4L, 1.0, 1.0)))
    assert(out("lang") === ((4L, 1L, 2L, 0.75, 0.5)))
    assert(out("source") === ((4L, 1L, 2L, 0.75, 0.5)))
    assert(out("text") === ((4L, 1L, 2L, 0.75, 0.5)))
    assert(out("n_chars") === ((4L, 1L, 2L, 0.75, 0.5)))
  }

  test("profile: all metrics come from ONE corpus scan (Expand, no join)") {
    val dir = corpus(Seq((0L, "t", "en", "src0")))
    val plan = Curation.profile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"profile must not join:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-distinct single-pass shape (Expand) missing:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"expected exactly 1 scan, got $scans:\n$plan")
  }

  test("robust outliers: median/MAD ignore the spike that defines the " +
      "outlier — hand-computed") {
    import spark.implicits._
    val dir = tempDir("curation_spec").toString
    // type 'a': 1..9 plus a 1000.0 spike. median = 5.5, deviations
    // sorted = {0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5} -> MAD =
    // 2.5, threshold = 3 * 1.4826 * 2.5 = 11.1195 -> ONLY the spike
    // flags. A mean/std z-score would have sigma ~313 and flag
    // nothing — the point of the robust statistic.
    val rows = (1 to 9).map(i => (i.toLong, i.toLong * 1000000000L, 1L,
      "a", i.toDouble)) :+ ((10L, 10000000000L, 1L, "a", 1000.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Curation.robustOutliers(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "a")
    assert(r(0).getLong(1) === 10L)
    assert(r(0).getLong(2) === 1L)           // exactly the spike
    assert(r(0).getDouble(3) === 5.5)        // med
    assert(r(0).getDouble(4) === 2.5)        // mad
  }

  test("length batches: bucket boundaries, 32-seq cuts, and padding " +
      "arithmetic — hand-computed") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // lengths: one 1-token doc (lb 0); 2,2,3 tokens (lb 1, one batch:
    // max 3, sum 7, padding 2); 33 docs of 8 tokens (lb 3, TWO
    // batches: 32 + 1, zero padding since all lengths equal).
    val dir = corpus(
      (Seq(1, 2, 2, 3) ++ Seq.fill(33)(8)).zipWithIndex.map { case (n, i) =>
        (i.toLong, words(n), "en", "s")
      })
    val out = Curation.lengthBatches(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out(0L) === ((1L, 1L, 1L, 0L, 1.0)))
    assert(out(1L) === ((1L, 3L, 7L, 2L, 0.777778)))
    assert(out(3L) === ((2L, 33L, 264L, 0L, 1.0)))
    assert(out.size === 3)
  }

  test("temperature sampling: sqrt weighting boosts the tail source's " +
      "rate over proportional — hand-computed rates") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // source A: 100 tokens, source B: 400. isqrt weights 10 vs 20,
    // budget = 250 tokens. Targets: A 250*10/30 = 83, B 166. Rates:
    // A 830000 ppm, B 415000 ppm — proportional sampling would give
    // both 500000. The tail source's rate DOUBLES the head's.
    val dir = corpus(
      (0 until 10).map(i => (i.toLong, words(10), "en", "A")) ++
      (10 until 50).map(i => (i.toLong, words(10), "en", "B")))
    val out = Curation.temperatureSample(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out("A")._1 === 10L)
    assert(out("A")._2 === 100L)
    assert(out("A")._3 === 830000L)
    assert(out("B")._1 === 40L)
    assert(out("B")._2 === 400L)
    assert(out("B")._3 === 415000L)
    // kept counts are hash-selected subsets, never more than the pool
    assert(out("A")._4 <= 10L && out("B")._4 <= 40L)
  }

  test("quality-dup lift: dups concentrated in the low bucket double " +
      "its lift — hand-computed") {
    // docs 0/1: identical 10-token no-stopword texts -> quality 0.05
    // (bucket 0) AND the only near-dup pair. docs 2/3: 120 repeated
    // stopwords each ('the' vs 'of' -> disjoint shingles, no pair),
    // quality 1.0 (bucket 9). base dup rate = 0.5, so bucket 0 lifts
    // to 2.0 and bucket 9 to 0.
    val uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = corpus(Seq(
      (0L, uniq, "en", "s"), (1L, uniq, "en", "s"),
      (2L, ("the " * 120).trim, "en", "s"),
      (3L, ("of " * 120).trim, "en", "s")))
    val out = Curation.qualityDupLift(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(out(0L) === ((2L, 2L, 1.0, 2.0)))
    assert(out(9L) === ((2L, 0L, 0.0, 0.0)))
    assert(out.size === 2)
  }

  test("curriculum order: easy band owns the leading positions, bands " +
      "are contiguous — hand-computed") {
    // 2 all-stopword docs (quality 1.0, band 9) must occupy positions
    // {0, 1}; 3 no-stopword 10-token docs (quality 0.05, band 0) fill
    // {2, 3, 4}.
    val uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = corpus(Seq(
      (0L, ("the " * 120).trim, "en", "s"),
      (1L, ("of " * 120).trim, "en", "s"),
      (2L, uniq, "en", "s"),
      (3L, uniq + " lambda", "en", "s"),
      (4L, uniq + " mu nu", "en", "s")))
    val out = Curation.curriculumOrder(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(9L) === ((2L, 0L, 1L)))
    assert(out(0L) === ((3L, 2L, 4L)))
    assert(out.size === 2)
  }

  test("fd discovery: key FD exact, violated FD pays its g3 repair " +
      "cost — hand-computed") {
    import spark.implicits._
    val dir = tempDir("curation_spec").toString
    // source A: {en, en} (holds); source B: {en, de} (one row to
    // delete); doc_id -> source is a key FD (always holds)
    Seq((0L, "t0", "en", "A"), (1L, "t1", "en", "A"),
      (2L, "t2", "en", "B"), (3L, "t3", "de", "B"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((0L, "ALG", 0L, "c"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((0L, "c0", 0L, 1.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = Curation.fdDiscovery(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out("documents: doc_id -> source") === ((4L, 4L, 0L, 0L, true)))
    assert(out("documents: source -> lang") === ((4L, 2L, 1L, 1L, false)))
    assert(out("nation: n_nationkey -> n_name") === ((1L, 1L, 0L, 0L, true)))
  }

  test("sampling filter involves no join or extra exchange before the rollup") {
    val dir = corpus(Seq((0L, "t", "en", "src0")))
    val plan = Curation.sourceSample(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"sampling must be a pure filter:\n$plan")
  }

  test("snapshot diff: every ground-truth class lands on the right doc") {
    // id 3 -> removed (3%17=3); id 5 -> changed (5%13=5); id 7 stays
    // unchanged AND spawns added re-crawl id -8 (7%19=7); id 1 untouched.
    val dir = corpus(Seq(
      (1L, "alpha", "en", "srcA"), (3L, "beta", "en", "srcA"),
      (5L, "gamma", "en", "srcB"), (7L, "delta", "en", "srcB")))
    val out = Curation.snapshotDiff(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("srcA", "removed") -> 1L, ("srcA", "unchanged") -> 1L,
      ("srcB", "added") -> 1L, ("srcB", "changed") -> 1L,
      ("srcB", "unchanged") -> 1L))
  }

  test("snapshot diff plan: one full-outer SMJ on doc_id, text never " +
      "survives past the scan-stage hash") {
    val dir = corpus(Seq((1L, "alpha", "en", "srcA")))
    val df = Curation.snapshotDiff(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"diff must be a full outer join:\n$plan")
    assert(plan.split("SortMergeJoin").length - 1 <= 2,
      s"one co-partitioned diff join expected:\n$plan")
  }

  test("q191 label repair: a delta pair bridging two base components " +
      "merges them under the GLOBAL min; untouched components keep labels") {
    import spark.implicits._
    // yesterday: components {1,2} (root 1), {3,4} (root 3), {8,9}
    // (root 8, untouched today); base singleton 5; delta docs 100, 101
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L, 100L, 101L).toDF("doc_id")
    val baseLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (8L, 8L), (9L, 8L)).toDF("node", "label")
    // today's verified pairs: 100 near-dups BOTH 2 and 3 → the two
    // base components and doc 100 must merge under root 1 (the global
    // min, which lives in a component doc 100 never directly touched);
    // 101 pairs with base singleton 5 → root 5
    val newPairs = Seq((2L, 100L), (3L, 100L), (5L, 101L)).toDF("ia", "ib")
    val out = Curation.repairedLabels(docs, baseLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 100L -> 1L,
      5L -> 5L, 101L -> 5L,
      8L -> 8L, 9L -> 8L))
  }

  test("q213 blast radius: a delta pair bridging two base clusters " +
      "moves exactly the absorbed cluster's docs, nothing else") {
    import spark.implicits._
    // base (thr = 6): clusters {1,2} root 1 and {5,6} root 5; delta
    // doc 9 bridges them → 5 and 6 MOVE to root 1; 9 is new; 1,2 stay
    val today = Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (9L, 1L))
      .toDF("doc_id", "root")
    val base = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "label")
    val out = Curation.blastRadiusOf(today, base, 6L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out === Map(
      "moved" -> ((2L, 1L, 11L)),   // docs 5,6 — one destination root
      "new" -> ((1L, 1L, 9L)),      // doc 9
      "stable" -> ((2L, 1L, 3L))))  // docs 1,2 under their old root
    // a base SINGLETON absent from the label artifact is stable, not
    // moved (the coalesce convention): same fixture plus lone doc 4
    val today2 = today.unionByName(Seq((4L, 4L)).toDF("doc_id", "root"))
    val out2 = Curation.blastRadiusOf(today2, base, 6L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2("stable") === 3L)
  }

  test("q191 label repair CHAINS: two successive delta repairs equal " +
      "one full CC over all pairs (the daily-cadence property)") {
    import spark.implicits._
    // day 0: components {1,2}, {3,4}; singletons 5, 6
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 100L, 101L, 200L).toDF("doc_id")
    val labels0 = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("node", "label")
    // day 1: doc 100 joins {3,4}; doc 101 pairs with singleton 6
    val pairs1 = Seq((4L, 100L), (6L, 101L)).toDF("ia", "ib")
    val labels1 = Curation.repairedLabels(docs, labels0, pairs1)
    // day 2: doc 200 bridges day-1's {3,4,100} with {1,2}
    val pairs2 = Seq((100L, 200L), (2L, 200L)).toDF("ia", "ib")
    val labels2 = Curation.repairedLabels(docs,
      labels1.select(col("doc_id").as("node"), col("root").as("label")),
      pairs2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the one-shot rebuild over the union of all pairs ever seen
    val allPairs = Seq((1L, 2L), (3L, 4L), (4L, 100L), (6L, 101L),
      (100L, 200L), (2L, 200L)).toDF("u", "v")
    val full = docs
      .join(Curation.connectedComponents(allPairs)
        .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("root"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels2 === full)
    // and the day-2 bridge really merged everything under the global min
    assert(labels2(200L) === 1L && labels2(100L) === 1L &&
      labels2(4L) === 1L)
  }

  test("q191 label repair is IDEMPOTENT: re-delivering the same pairs " +
      "against the post-repair labels is a no-op (at-least-once safety)") {
    import spark.implicits._
    // The reference's own S7 cadence re-delivers a date partition on
    // retry (main.py delete-then-reload); the repair must tolerate the
    // same verified pairs arriving twice. Algebra: after repair, both
    // endpoints of every delivered pair share a label, so contraction
    // turns each pair into a self-loop and the contracted edge set is
    // EMPTY — labels pass through verbatim.
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L, 100L, 101L).toDF("doc_id")
    val baseLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (8L, 8L), (9L, 8L)).toDF("node", "label")
    val newPairs = Seq((2L, 100L), (3L, 100L), (5L, 101L)).toDF("ia", "ib")
    val once = Curation.repairedLabels(docs, baseLabels, newPairs)
    val twice = Curation.repairedLabels(docs,
      once.select(col("doc_id").as("node"), col("root").as("label")),
      newPairs)
    assert(twice.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      once.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // randomized arm: any graph, any split, any re-delivered subset
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 12
      val ids = (0L until n).toDF("doc_id")
      val edges = Seq.fill(8)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val base = Curation.connectedComponents(
        edges.take(4).toDF("u", "v"))
      val pairs = edges.drop(4).toDF("ia", "ib")
      val l1 = Curation.repairedLabels(ids, base, pairs)
      val l2 = Curation.repairedLabels(ids,
        l1.select(col("doc_id").as("node"), col("root").as("label")), pairs)
      assert(l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        s"idempotence broke on trial $trial: edges=$edges")
    }
  }

  test("q196 retraction repair: removing a bridge doc SPLITS its " +
      "cluster; untouched clusters keep their labels") {
    import spark.implicits._
    // id 9 is the one id in 0..9 with hash60(id) % 8 == 3 (removed).
    // Chain by drifting token windows: J(T1,T2) = J(T2,T3) = 7/13 ≥
    // 0.5 but J(T1,T3) = 4/16 < 0.5 — so {7, 8, 9} cluster ONLY
    // through bridge 9. Docs 5 and 6 are exact twins (untouched
    // cluster); 0..4 unique fillers.
    def toks(lo: Int, hi: Int) = (lo to hi).map(i => f"tok$i%02d")
      .mkString(" ")
    val texts = Map(
      8 -> toks(1, 12), 9 -> toks(4, 15), 7 -> toks(7, 18),
      5 -> "uniq alpha beta gamma delta five", 6 -> "uniq alpha beta gamma delta five",
      0 -> "zero filler aaa bbb ccc", 1 -> "one filler ddd eee fff",
      2 -> "two filler ggg hhh iii", 3 -> "three filler jjj kkk lll",
      4 -> "four filler mmm nnn ooo")
    val dir = tempDir("retract").toString
    texts.toSeq.map { case (i, t) => (i.toLong, "en", s"s$i", t, t.length) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val full = Tables.documents(spark, dir).select(col("doc_id"))
      .join(Curation.dupClusterLabels(spark, dir)
        .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("root"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full(7L) === 7L && full(8L) === 7L && full(9L) === 7L,
      s"fixture must chain 7-9-8: $full")
    assert(full(5L) === 5L && full(6L) === 5L)
    // the repair: 9 gone, 7 and 8 split into singletons; 5-6 intact
    val out = Curation.retractionLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!out.contains(9L))
    assert(out(7L) === 7L && out(8L) === 8L, s"split expected: $out")
    assert(out(5L) === 5L && out(6L) === 5L)
    assert((0 to 4).forall(i => out(i.toLong) === i.toLong))
  }

  test("q191 incremental labels equal the full rebuild, doc for doc") {
    val dir = "/root/testdata/sf0.001"
    val inc = Curation.incrementalLabels(spark, dir)
    // the full rebuild: q88's corpus-wide CC labels + singleton completion
    val full = Tables.documents(spark, dir).select(col("doc_id"))
      .join(Curation.dupClusterLabels(spark, dir)
        .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("root"))
    val diff = inc.as("i").join(full.as("f"), Seq("doc_id"), "full")
      .filter(col("i.root") =!= col("f.root") ||
        col("i.root").isNull || col("f.root").isNull)
    assert(diff.count() === 0)
    assert(inc.count() === Tables.documents(spark, dir).count())
  }

  test("split collide (delta x delta ∪ delta x base) emits exactly the " +
      "union-shape collide's verified pairs") {
    val dir = "/root/testdata/sf0.001"
    val thr = Curation.deltaThreshold(spark, dir)
    val deltaSigs = Dedup.signaturesFresh(spark,
      Tables.documents(spark, dir).filter(col("doc_id") > thr))
    val baseSigs = Curation.baseSigsTable(spark, dir)
    val allSigs = baseSigs.unionByName(deltaSigs)
    val unionShape = Curation.collideVerify(deltaSigs, allSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = Curation.collideVerifySplit(deltaSigs, allSigs,
      Curation.baseBandsTable(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(split === unionShape)
    assert(split.nonEmpty, "fixture must exercise the collide")
  }
}

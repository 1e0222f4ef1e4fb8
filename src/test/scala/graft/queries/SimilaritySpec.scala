package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Similarity search on a constructed embedding corpus with known
  * nearest neighbors. */
class SimilaritySpec extends SparkSpec {

  /** dim-64 one-hot-ish vectors: vector i has 1.0 at position (i%64)
    * plus a small shared component so cosines are distinct. */
  private def corpus(n: Int): String = {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(0.01f)
      v(i % 64) = 1.0f
      v(63) = 0.5f + (i % 7) * 0.01f // shared tail, varies slightly
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("brute-force top-k: self excluded, k rows per query, cos descending") {
    val dir = corpus(120)
    val out = Similarity.cosineTopK(spark, dir)
    val rows = out.collect()
    val qids = rows.map(_.getLong(0)).distinct
    assert(qids.toSeq === Seq(0L, 100L))
    for (q <- qids) {
      val mine = rows.filter(_.getLong(0) == q)
      assert(mine.length === 10)
      assert(!mine.map(_.getLong(2)).contains(q)) // self excluded
      val cosines = mine.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cosines === cosines.sorted.reverse) // rank order = cos desc
    }
    // vec 64 shares vec 0's one-hot position -> must be vec 0's top hit
    val top0 = rows.filter(r => r.getLong(0) == 0 && r.getInt(1) == 1).head
    assert(top0.getLong(2) === 64L)
  }

  test("ANN LSH returns bucket-mates ranked by exact cosine") {
    val dir = corpus(120)
    val out = Similarity.annLsh(spark, dir).collect()
    assert(out.nonEmpty)
    for (q <- out.map(_.getLong(0)).distinct) {
      val mine = out.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      val cosines = mine.map(_.getDouble(3)).toSeq
      assert(cosines === cosines.sorted.reverse)
      assert(mine.length <= 5)
    }
  }

  test("IVF k-means codebook trains more cells than labels; nprobe dial " +
      "raises recall") {
    // Harness data (sf0.01: 500 vectors, 10 labels, 5 budget queries):
    // recall is measured against the brute-force exact top-5.
    val dir = "/root/testdata/sf0.01"
    val cells = Similarity.kmeansCodebook(spark, dir).count()
    assert(cells > 10, s"codebook has $cells cells, want > |labels| = 10")
    val exact = Similarity.cosineTopK(spark, dir).collect()
      .filter(_.getInt(1) <= 5)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def hits(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
        .intersect(exact).size
    val r1 = hits(Similarity.ivfAnn(spark, dir).collect())
    val r2 = hits(Similarity.ivfAnnNprobe2(spark, dir).collect())
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
    assert(r2 > 0, "nprobe=2 found none of the exact top-5 neighbors")
  }

  test("rankers are two-phase top-k aggregates, not full-sort-per-group " +
      "windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val dir = corpus(120)
    // Build first, then plan with AQE off so the physical tree is a
    // plain SparkPlan we can traverse.
    val dfs = Seq(
      "cosineTopK" -> Similarity.cosineTopK(spark, dir),
      "annLsh" -> Similarity.annLsh(spark, dir),
      "labelCentroids" -> Similarity.labelCentroids(spark, dir),
      "ivfAnn" -> Similarity.ivfAnn(spark, dir))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, df) <- dfs) {
        val plan = df.queryExecution.executedPlan
        val windows = plan.collect { case w: WindowExec => w }
        val heapAggs = plan.collect { case o: ObjectHashAggregateExec => o }
        assert(heapAggs.nonEmpty,
          s"$name: bounded-heap top-k aggregate missing from plan:\n$plan")
        if (name == "ivfAnn") {
          // The one window left is the query-side nprobe cell ranking,
          // fed by the queryPred filter (~QueryBudget * IvfK rows) —
          // never the corpus.
          assert(windows.size <= 1, s"$name: extra window sorts:\n$plan")
          for (w <- windows)
            assert(w.collectFirst {
              case f: org.apache.spark.sql.execution.FilterExec
                  if f.condition.toString.contains("% 100") => f
            }.nonEmpty,
              s"$name: window not fed by the bounded query-side filter:\n$plan")
        } else {
          assert(windows.isEmpty,
            s"$name: still ranks via a full-sort window:\n$plan")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("PQ: codebook is per-subspace-width, codes reconstruct full width, " +
      "rerank is exact and self-excluded") {
    val dir = corpus(120)
    val cb = Similarity.pqCodebook(spark, dir).collect()
    assert(cb.length <= 4 * 16) // M*K, cells may drop if emptied
    assert(cb.forall(_.getSeq[Double](2).length === 16)) // PqSub width
    assert(cb.map(r => (r.getInt(0), r.getInt(1))).distinct.length === cb.length)
    val out = Similarity.pqAnn(spark, dir).collect()
    val qids = out.map(_.getLong(0)).distinct
    assert(qids.toSeq === Seq(0L, 100L))
    for (q <- qids) {
      val mine = out.filter(_.getLong(0) == q)
      assert(mine.length === 5)
      assert(!mine.map(_.getLong(2)).contains(q)) // self excluded
      val cosines = mine.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cosines === cosines.sorted.reverse)
      // reranked scores are valid cosines (vec i and i+64 differ only
      // in the tail coordinate, so the top ones legitimately round to
      // 1.0 at 4 decimals)
      assert(cosines.forall(c => c > 0.0 && c <= 1.0))
    }
  }

  test("centroid drift: identical halves cos 1, orthogonal halves cos 0") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    // label 0: both halves sit on axis 0 -> drift_cos 1.0.
    // label 1: even half on axis 1, odd half on axis 2 -> drift_cos 0.0.
    val rows = Seq(
      (0L, unit(0), 0), (1L, unit(0), 0), (2L, unit(0), 0), (3L, unit(0), 0),
      (10L, unit(1), 1), (12L, unit(1), 1), (11L, unit(2), 1), (13L, unit(2), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.centroidDrift(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(0L) === ((2L, 2L, 1.0)))
    assert(out(1L) === ((2L, 2L, 0.0)))
  }

  test("hybrid dedup: embedding space confirms one text pair, refutes the other") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    // two exact-dup text pairs (jaccard 1 -> decile 10): pair (0,1)
    // has identical embeddings (cos 1, confirmed), pair (2,3) has
    // orthogonal embeddings (cos 0, boilerplate signal).
    Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    Seq((0L, unit(0), 0), (1L, unit(0), 0), (2L, unit(1), 0), (3L, unit(2), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.hybridDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.toSeq === Seq((10L, 2L, 1L, 0.5, 0.0)))
  }

  test("semantic dedup: one member of each identical pair removed, " +
      "orthogonal singletons untouched") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    // vec i and vec i+20 are identical one-hots on axis i (20 dup
    // pairs); distinct axes are orthogonal (cos 0 < tau), so the only
    // >= tau pairs are the planted duplicates. Identical members tie
    // on centroid cosine -> the LARGER id of each pair is removed.
    val rows = (0 until 20).flatMap { i =>
      Seq((i.toLong, unit(i), i % 3), (i.toLong + 20, unit(i), i % 3))
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.semanticDedup(spark, dir).collect()
    assert(out.map(_.getLong(1)).sum === 40L)          // members partition
    assert(out.map(_.getLong(2)).sum === 20L)          // one pair per dup
    assert(out.map(_.getLong(3)).sum === 20L)          // one removal per pair
    // keep set survives: removals never exceed half the members anywhere
    for (r <- out) assert(r.getLong(3) * 2 <= r.getLong(1))
  }

  test("knn graph: twins are always linked both ways; histograms " +
      "partition the node set") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    // identical twins share ALL bands -> guaranteed candidate at
    // cos 1.0 in both directions -> a mutual edge per pair. Random
    // band collisions between orthogonal one-hots can only ADD edges.
    val rows = (0 until 20).flatMap { i =>
      Seq((i.toLong, unit(i), 0), (i.toLong + 20, unit(i), 0))
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def total(kind: String) =
      out.filter(_._1 == kind).map(_._3).sum
    assert(total("out") === 40L)                      // nodes partition
    assert(total("in") === 40L)
    assert(!out.exists(r => r._1 == "out" && r._2 == 0L)) // twin edge
    assert(out.collect { case ("mutual", _, n) => n }.head >= 20L)
  }

  test("pagerank: mass stays within damping bounds and nodes partition " +
      "into buckets") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    val rows = (0 until 20).flatMap { i =>
      Seq((i.toLong, unit(i), 0), (i.toLong + 20, unit(i), 0))
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.pagerank(spark, dir).collect()
    assert(out.map(_.getLong(1)).sum === 40L)          // nodes partition
    val mass = out.map(_.getLong(2)).sum
    // every node holds at least the damping base (150k) and total
    // mass never exceeds the initial 40M (rank only leaks, via
    // dangling nodes and integer floor division)
    assert(mass >= 40L * 150000L && mass <= 40L * 1000000L)
    assert(out.forall(r => r.getLong(0) >= 1L))
  }

  test("contrastive pairs: positive twins at cos 1, deterministic " +
      "negative lands orthogonal") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    // docs 0/1: near-dup texts (the one positive pair); docs 2/3
    // distinct. Embeddings: 0,1 on axis 0 (cos 1); 2,3 on axes 1,2 —
    // whichever the hash picks as the negative partner, it is
    // orthogonal to the anchor, so the negative cosine is exactly 0.
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "acht neun zehn elf zwoelf dreizehn"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    Seq((0L, unit(0), 0), (1L, unit(0), 0), (2L, unit(1), 0),
      (3L, unit(2), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.contrastivePairs(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("pos") === ((1L, 1.0)))
    assert(out("neg") === ((1L, 0.0)))
  }

  test("nn-descent: rescoring over a candidate superset never degrades " +
      "aggregate neighbor quality") {
    import spark.implicits._
    val dir = tempDir("sim_spec").toString
    def unit(axis: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v.toSeq
    }
    val rows = (0 until 20).flatMap { i =>
      Seq((i.toLong, unit(i), 0), (i.toLong + 20, unit(i), 0))
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Similarity.nnDescent(spark, dir).collect()(0)
    val (n, imp, b4, a4) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n === 40L)
    // {2-hop} ∪ {current} ⊇ {current}: the new top-3 can only match
    // or beat the old one, per node and so in aggregate
    assert(a4 >= b4)
    assert(imp <= n)
    assert((imp == 0L) === (a4 == b4))
  }

  test("assertBroadcastOnly fails on a shuffled join, also when the " +
      "frame's build turns AQE back on (negative control)") {
    import org.scalatest.exceptions.TestFailedException
    def smj = spark.range(100).join(spark.range(100), "id")
    graft.Session.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plain = intercept[TestFailedException](
        assertBroadcastOnly(smj, "a forced sort-merge join"))
      assert(plain.getMessage.contains("SortMergeJoin"), plain.getMessage)
      // a prep inside the by-name frame re-enables AQE: the adaptive
      // root would hide the join from the walk
      val adaptive = intercept[TestFailedException](
        assertBroadcastOnly({ Tables.prep(spark); smj }, "a prepped frame"))
      assert(adaptive.getMessage.contains("adaptive root"),
        adaptive.getMessage)
    }
  }

  test("graph beam ANN: self-excluded ranked rows, navigates to the " +
      "query's cluster, and the walk never shuffle-joins the corpus") {
    import spark.implicits._
    // 8 clusters of 15 near-identical vectors (axis = i % 8): cluster
    // mates collide in every LSH band, so the kNN graph is genuinely
    // navigable — the shape graph ANN is built for. Tail jitter keeps
    // cosines distinct across members.
    val dir = tempDir("beam_spec").toString
    val rows = (0 until 120).map { i =>
      val v = Array.fill(64)(0.0f)
      v(i % 8) = 1.0f
      v(63) = 0.3f + (i % 13) * 0.005f
      (i.toLong, v.toSeq, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // materialize the memoized refined graph first, so the search
    // plan probes the cached edge artifact instead of inlining its
    // build (the serving-time shape)
    Similarity.refinedEdges(spark, dir).count()
    val out = Similarity.graphBeamAnn(spark, dir).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 100L)) // queryPred on a 120-corpus
    for ((q, rs) <- byQ) {
      assert(rs.length === 5)
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to 5))
      assert(rs.forall(_.getLong(2) != q), "self in results")
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      // every answer is a cluster mate at near-identical cosine —
      // the walk entered and exploited the right graph neighborhood
      assert(rs.forall(_.getLong(2) % 8 == q % 8),
        s"off-cluster answer for q$q: ${rs.map(_.getLong(2)).toSeq}")
      assert(cs.forall(_ > 0.99))
    }
    // bounded-frontier contract: with the edge memo materialized, the
    // whole walk (entry scoring, hop expansions, beam cuts) runs on
    // broadcast joins — a sort-merge or shuffled-hash join would mean
    // a corpus-sized exchange inside a hop
    assertBroadcastOnly(Similarity.graphBeamAnn(spark, dir),
      "the beam walk")
  }

  test("q202 graph retraction: every victim gets a repaired list; the " +
      "banded rebuild covers no more victims than the walk repair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, not}
    // the navigable clustered fixture from the beam-ANN spec
    val dir = tempDir("q202_spec").toString
    val rows = (0 until 120).map { i =>
      val v = Array.fill(64)(0.0f)
      v(i % 8) = 1.0f
      v(63) = 0.3f + (i % 13) * 0.005f
      (i.toLong, v.toSeq, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val full = Similarity.refinedEdges(spark, dir)
    full.count() // materialize the served artifact first
    def rm(c: String) =
      expr(s"${Exprs.hash60(s"cast($c as string)")} % 8 = 3")
    val nVictims = full.filter(not(rm("src")) && rm("dst"))
      .select(col("src")).distinct().count()
    assert(nVictims > 0, "fixture produced no victims — removal slice empty")
    val out = Similarity.graphRetraction(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set("repaired", "rebuild"))
    // the walk always yields edges (seeds are scored even for a victim
    // that lost every surviving neighbor) -> every victim is covered
    assert(out("repaired")._2 === nVictims)
    assert(out("repaired")._1 <= 3 * nVictims)
    // the banded rebuild links only collision-drawing victims — it can
    // never cover more of them than the walk (the q198 finding,
    // delete-side): on this collision-dense fixture both should cover
    // all victims, so assert <= (the law) and > 0 (non-degenerate)
    assert(out("rebuild")._2 <= nVictims && out("rebuild")._2 > 0)
    // repaired lists rank by true cosine on a navigable graph — the
    // mean must sit in the cluster-mate band, not at jitter level
    assert(out("repaired")._3 > 0.9,
      s"repaired mean_cos ${out("repaired")._3} — walk failed to " +
        "reach cluster mates")
    // bounded-frontier contract, repair path: with the graph memos
    // materialized, the victim re-walk runs on broadcast joins only —
    // the q168 serving assertion extended to the delete arm
    assertBroadcastOnly(Similarity.graphRetraction(spark, dir),
      "the repair walk")
  }

  test("label centroids: 3 nearest members per label, cos in [-1, 1]") {
    val dir = corpus(120)
    val out = Similarity.labelCentroids(spark, dir).collect()
    assert(out.map(_.getInt(0)).distinct.sorted.toSeq === Seq(0, 1, 2))
    for (r <- out) {
      assert(r.getDouble(3) <= 1.0001 && r.getDouble(3) >= -1.0001)
      // members assigned to their own label's centroid
      assert(r.getLong(2) % 3 === r.getInt(0))
    }
    assert(out.count(_.getInt(1) == 1) === 3) // one rank-1 per label
  }

  test("hard negatives: the anchor's near-dup twin is excluded while " +
      "remaining the plain top-k's #1 hit") {
    import spark.implicits._
    val dir = tempDir("hardneg_spec").toString
    // documents: doc 1 is a verbatim copy of doc 0 (minhash pair ->
    // same dedup cluster); everything else is lexically distinct.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val texts = (0 until 120).map { i =>
      val t =
        if (i == 1) base
        else if (i == 0) base
        else base.split(' ').map(w => s"$w$i").mkString(" ")
      (i.toLong, t, "en", s"src${i % 4}", t.length.toLong)
    }
    texts.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: vec 1 nearly parallel to vec 0 (cos ~ 1); the rest
    // of the corpus points elsewhere.
    val rows = (0 until 120).map { i =>
      val v = Array.fill(64)(0.01f)
      if (i == 1) { v(0) = 0.99f; v(63) = 0.5f }
      else { v(i % 64) = 1.0f; v(63) = 0.5f + (i % 7) * 0.01f }
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val plain = Similarity.cosineTopK(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
    assert(plain.head.getLong(2) === 1L,
      "fixture broken: the twin must be the plain top-k's #1 hit")

    val out = Similarity.hardNegatives(spark, dir).collect()
    val q0 = out.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(q0.length === 5)
    assert(!q0.map(_.getLong(2)).contains(0L)) // self excluded
    assert(!q0.map(_.getLong(2)).contains(1L),
      "cluster-mate leaked into the hard-negative set")
    val cosines = q0.map(_.getDouble(3)).toSeq
    assert(cosines === cosines.sorted.reverse)
    // each query yields exactly 5 ranked negatives
    for (q <- out.map(_.getLong(0)).distinct)
      assert(out.count(_.getLong(0) == q) === 5)
  }

  test("embedding outliers: the engineered off-manifold vector is its " +
      "label's rank-1 outlier with the most negative z") {
    import spark.implicits._
    val dir = tempDir("outlier_spec").toString
    val rows = (0 until 120).map { i =>
      val v = Array.fill(64)(0.01f)
      if (i == 7) { // off-manifold: points AGAINST the shared tail
        java.util.Arrays.fill(v, -0.01f); v(63) = -1.0f
      } else { v(i % 64) = 1.0f; v(63) = 0.5f + (i % 7) * 0.01f }
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embeddingOutliers(spark, dir).collect()
    // 3 rows per label, z ascending with rank (rank 1 = worst)
    for (l <- Seq(0, 1, 2)) {
      val mine = out.filter(_.getInt(0) == l).sortBy(_.getInt(1))
      assert(mine.length === 3)
      val zs = mine.map(_.getDouble(3)).toSeq
      assert(zs === zs.sorted)
    }
    val worst = out.filter(r => r.getInt(0) == 1 && r.getInt(1) == 1).head
    assert(worst.getLong(2) === 7L)
    assert(worst.getDouble(3) < -2.0, s"junk vector z=${worst.getDouble(3)}")
  }

  test("rank fusion: the ladder's three index rows plus the fused row, " +
      "each serving exactly 5 results per query") {
    val dir = corpus(120)
    val out = Similarity.rankFusion(spark, dir).collect()
    val methods = out.map(_.getString(0)).sorted.toSeq
    assert(methods ===
      Seq("ivf_nprobe2", "lsh_multiprobe", "pq", "rrf_fused"))
    val fused = out.find(_.getString(0) == "rrf_fused").get
    val nq = fused.getLong(1)
    assert(nq === 2L) // corpus(120): queries 0 and 100
    // the fused list serves a full top-5 per query; recalls are sane
    assert(fused.getLong(2) === 5L * nq)
    for (r <- out) {
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(3) <= r.getLong(2))
    }
  }

  test("semantic decontamination: the eval vector's paraphrase twin is " +
      "flagged, orthogonal vectors are not") {
    import spark.implicits._
    val dir = tempDir("decon_spec").toString
    // eval slice = {0, 97}; vec 5 nearly parallel to eval vec 0 (the
    // paraphrase leak), everything else one-hot on distinct axes with
    // NO shared tail (pairwise cos ~ 0)
    val rows = (0 until 120).map { i =>
      val v = Array.fill(64)(0.0f)
      if (i == 5) { v(0) = 0.98f; v(1) = 0.2f }
      else v(i % 64) = 1.0f
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.semanticDecon(spark, dir).collect()
    // flagged set: vec 5 (cos to eval-0 ~ 0.98) plus the one-hot
    // DUPLICATES of the eval axes (i % 64 == 0 or 33): 64, 33
    val flaggedTotal = out.map(_.getLong(2)).sum
    val expectFlagged = (0 until 120).count { i =>
      i != 0 && i != 97 &&
        (i == 5 || (i % 64 == 0 && i != 5) || i % 64 == 97 % 64)
    }
    assert(flaggedTotal === expectFlagged.toLong,
      s"flagged=$flaggedTotal expected=$expectFlagged")
    // totals partition the non-eval corpus
    assert(out.map(_.getLong(1)).sum === 118L)
    for (r <- out) assert(r.getLong(2) <= r.getLong(1))
  }

  test("matryoshka recall: the full-dimension row is exact by " +
      "construction; every prefix serves a full top-5") {
    val dir = corpus(120)
    val out = Similarity.matryoshkaRecall(spark, dir).collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(8, 16, 32, 64))
    val full = out.find(_.getInt(0) == 64).get
    assert(full.getDouble(4) === 1.0)
    for (r <- out) {
      assert(r.getLong(2) === 5L * r.getLong(1)) // 5 results per query
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(3) <= r.getLong(2))
    }
  }

  test("label propagation: labels flow only within a label's identical-" +
      "vector component, every propagated label is correct") {
    import spark.implicits._
    val dir = tempDir("labelprop_spec").toString
    // identical vectors within a label -> kNN edges never cross
    // labels -> any propagated label MUST match the truth
    val rows = (0 until 120).map { i =>
      val v = Array.fill(64)(0.01f)
      v(i % 3) = 1.0f
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.labelPropagation(spark, dir).collect()
    // statuses partition all 120 nodes
    assert(out.map(_.getLong(2)).sum === 120L)
    for (r <- out) {
      val (status, n, nCorrect) =
        (r.getString(1), r.getLong(2), r.getLong(3))
      if (status == "propagated")
        assert(nCorrect === n,
          s"label ${r.getInt(0)}: $nCorrect/$n propagated correct")
      else assert(nCorrect === 0L)
    }
    // every label's seed row counts exactly its vec_id % 4 == 0 nodes
    for (l <- 0 until 3) {
      val expected = (0 until 120).count(i => i % 3 == l && i % 4 == 0)
      val seedRow = out.find(r => r.getInt(0) == l &&
        r.getString(1) == "seed")
      assert(seedRow.map(_.getLong(2)) === Some(expected.toLong))
    }
    // propagation actually happened
    assert(out.exists(_.getString(1) == "propagated"))
  }

  /** 128 ids → thr = 127*7/8 = 111: base = 0..111, delta = 112..127.
    * Base vectors sit in 4 tight axis clusters; the delta either
    * drifts to an unseen axis or stays in-distribution. */
  private def refreshCorpus(drift: Boolean): String = {
    import spark.implicits._
    val dir = tempDir("cb_refresh").toString
    val rows = (0 until 128).map { i =>
      val v = Array.fill(64)(0.01f)
      val axis = if (i > 111 && drift) 32 else i % 4
      v(axis) = 1.0f
      v(60) = 0.3f + (i % 5) * 0.01f // deterministic jitter, no exact ties
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q193: a drifted delta fires refresh; an in-distribution delta " +
      "keeps the codebook (holdout-fair comparison)") {
    def run(dir: String): Map[String, org.apache.spark.sql.Row] =
      Similarity.all("q193_codebook_refresh").run(spark, dir)
        .collect().map(r => r.getString(0) -> r).toMap
    val keep = run(refreshCorpus(drift = false))
    assert(keep.keySet === Set("base_train", "base_holdout", "delta"))
    assert(keep.values.forall(_.getLong(5) === 0L),
      s"in-distribution delta must keep: $keep")
    val drifted = run(refreshCorpus(drift = true))
    assert(drifted.values.forall(_.getLong(5) === 1L),
      s"drifted delta must refresh: $drifted")
    // the drift is visible in the stats themselves: the delta's mean
    // quantization similarity collapses vs the holdout's
    val hold = drifted("base_holdout").getDouble(2)
    val delt = drifted("delta").getDouble(2)
    assert(delt < hold - 0.1, s"holdout=$hold delta=$delt")
  }

  test("q214: the executed refresh RESTORES the drifted delta's " +
      "quantization without costing the base corpus its own") {
    def run(dir: String): Map[(String, String), Double] =
      Similarity.all("q214_codebook_refresh_executed").run(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val m = run(refreshCorpus(drift = true))
    // the retrain saw the delta's train half: an axis the base
    // codebook never trained a centroid for now has one
    assert(m(("refreshed", "delta")) > m(("base", "delta")) + 0.1,
      s"refresh must restore delta quantization: $m")
    // and the base corpus keeps its quality under the new codebook
    assert(m(("refreshed", "base_holdout")) >=
      m(("base", "base_holdout")) - 0.02,
      s"refresh must not degrade the base holdout: $m")
    // in-distribution corpus: the action is value-neutral (q193's
    // keep-verdict restated from the action side)
    val keep = run(refreshCorpus(drift = false))
    assert(math.abs(keep(("refreshed", "delta")) -
      keep(("base", "delta"))) < 0.1, s"no-drift refresh ~ no-op: $keep")
  }
}

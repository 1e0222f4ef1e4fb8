package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline
  * runs AFTER pair mining and scoring: near-dup cluster consolidation
  * (connected components over the verified LSH pairs), benchmark
  * decontamination (n-gram overlap against a held-out eval set), and
  * deterministic weighted source sampling (domain mixing).
  *
  * Scale design:
  *   - Cluster consolidation uses the alternating large-star /
  *     small-star algorithm (Kiveris et al., "Connected Components in
  *     MapReduce and Beyond", SoCC'14): O(log n) rounds, each round
  *     two co-partitioned shuffles of the PAIR set (which is orders of
  *     magnitude smaller than the corpus), never an all-pairs or
  *     whole-corpus iteration. Per-round `localCheckpoint` truncates
  *     the iterative lineage — on a cluster this would be a
  *     reliably-replicated checkpoint, locally it pins the iterate in
  *     block storage so re-planning never re-runs prior rounds.
  *   - Decontamination broadcasts the EVAL-set gram hashes (eval
  *     benchmarks are MBs; the corpus is the 100 TB side) so the
  *     corpus is scanned exactly once with a broadcast semi-join in
  *     the scan stage — the corpus never shuffles.
  *   - Weighted sampling is a pure scan-stage filter on a
  *     deterministic per-row hash — zero shuffles before the final
  *     tiny per-source rollup, and re-runs select the SAME rows
  *     (reproducible corpus builds, like the q73 split).
  */
object Curation {
  import Tables._

  // ---------------------------------------------------------------
  // q88 near-dup cluster consolidation (connected components)
  // ---------------------------------------------------------------

  /** Rounds bound for large-star/small-star: converges in O(log n)
    * rounds (SoCC'14 Thm 3.2), so 24 covers ~2^24-hop chain components
    * — beyond any real dedup graph, and a converged run exits at its
    * fixpoint long before the bound costs anything. A non-converged
    * exit raises rather than digesting a wrong partition. */
  private val MaxCcRounds = 24

  /** Both directions of a normalized (u < v) pair set. */
  private def bidir(p: DataFrame): DataFrame =
    p.select(col("u"), col("v"))
      .union(p.select(col("v").as("u"), col("u").as("v")))

  /** Orient directed edges to (u < v), dropping self-loops. */
  private def orient(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))

  /** Orient + dedup — the canonical pair-set form the fixpoint
    * comparison and the round inputs use. */
  private def normalize(e: DataFrame): DataFrame = orient(e).distinct()

  /** Large-star: every node connects its strictly-LARGER neighbors to
    * the minimum of its closed neighborhood. Computed as a groupBy-min
    * + self-join — no neighborhood collection, so high-degree hubs
    * never materialize an adjacency list on one task. Output is
    * oriented but NOT deduped: the only consumer is [[smallStar]],
    * whose terminal `normalize` distinct collapses duplicates (its
    * groupBy-min is dup-insensitive and the join branch just carries
    * the extra rows until then), so a distinct here would be a wasted
    * shuffle per round. Any NEW consumer of this output must dedup. */
  private def largeStar(p: DataFrame): DataFrame = {
    val e = bidir(p)
    val m = e.groupBy("u")
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("mu"))
    orient(
      e.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("mu").as("v")))
  }

  /** Small-star: every node connects its smaller-or-equal neighbors
    * (and itself) to the minimum among them. */
  private def smallStar(p: DataFrame): DataFrame = {
    val le = bidir(p).filter(col("v") < col("u"))
    val m = le.groupBy("u").agg(min(col("v")).as("mu"))
    normalize(
      le.join(m, "u").select(col("v").as("u"), col("mu").as("v"))
        .union(m.select(col("u"), col("mu").as("v"))))
  }

  /** Order-independent digest of a normalized distinct pair set —
    * fixpoint detection compares consecutive digests driver-side, so
    * each round costs ONE tiny aggregate instead of two `except`
    * joins. (count, xor of per-edge hashes): two equal-size distinct
    * sets with equal xor differ only on a 2^-64 hash collision. */
  private def edgeDigest(p: DataFrame): (Long, Long) = {
    val r = p.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Connected components of a normalized (u < v) pair set: iterate
    * large-star/small-star to the fixpoint, at which every component
    * is a star rooted at its minimum node. Returns (node, label) for
    * every node that appears in any pair; label = component min.
    * Nodes in no pair are singletons and are NOT emitted (the caller
    * labels them with their own id).
    *
    * Each iterate is lazily `localCheckpoint`ed: the digest action
    * materializes it, truncating the iterative lineage, and every
    * later reference reads the checkpoint — one job per round. */
  private[queries] def connectedComponents(pairs: DataFrame): DataFrame =
    ccWithRounds(pairs)._1

  /** [[connectedComponents]] plus the executed round count — exposed
    * so the scale specs can pin round-count STABILITY under corpus
    * growth (rounds track component diameter, not corpus size; a
    * round count that grew with the corpus would multiply the whole
    * iterative cost at 100 TB). */
  private[queries] def ccWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    var cur = normalize(pairs.toDF("u", "v")).localCheckpoint(false)
    var curDigest = edgeDigest(cur)
    var converged = curDigest._1 == 0L
    var round = 0
    while (!converged && round < MaxCcRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextDigest = edgeDigest(next)
      converged = nextDigest == curDigest
      cur = next
      curDigest = nextDigest
      round += 1
    }
    require(converged,
      s"connected components did not converge in $MaxCcRounds rounds")
    // Fixpoint is a star per component: u is the root on every edge.
    (cur.select(col("v").as("node"), col("u").as("label"))
      .union(cur.select(col("u").as("node"), col("u").as("label")))
      .distinct(), round)
  }

  /** Cluster labels of the verified near-dup pair set — memoized AND
    * persisted per (session, dir), like [[Similarity]]'s knnEdges: the
    * CC fixpoint is a corpus-level artifact that four consumers (q88
    * histogram, q122 keeper, q123 corpus build, q165 split) read; a
    * production pipeline materializes it once per dedup run. Before
    * this memo each consumer re-ran the whole iterative fixpoint. */
  private[graft] def dupClusterLabels(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "cc_labels") {
      connectedComponents(
        Dedup.minhashPairs(spark, dir).select(col("ia"), col("ib")))
    }

  /** q88: consolidate the verified MinHash near-dup pairs
    * ([[Dedup.minhashPairs]], the q56 stream) into dedup clusters and
    * digest the cluster-size histogram — the step that turns pairwise
    * LSH output into keep-one-per-cluster decisions. Singleton
    * documents count as size-1 clusters so the histogram partitions
    * the whole corpus. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusterLabels(spark, dir)
    clusterSizes(documents(spark, dir).select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("root")))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |cl AS (SELECT root, count(*) AS csize FROM lab GROUP BY 1)
       |SELECT csize, count(*) AS n_clusters,
       |  CAST(sum(root) AS BIGINT) AS sum_roots
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q191 incremental dedup-artifact maintenance (delta arrival)
  // ---------------------------------------------------------------

  /** The delta threshold: the corpus's newest ~1/8 by doc_id plays
    * "today's date partition" of an append-only arrival (ids are
    * assigned in arrival order; the reference's own cadence is a
    * daily delta, main.py:201-209). 1-row driver collect, provably
    * bounded; cached per (application, dir) so repeated calls don't
    * re-run the aggregate. */
  private val deltaThresholds =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  private[queries] def deltaThreshold(spark: SparkSession, dir: String): Long =
    deltaThresholds.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir),
      documents(spark, dir).agg(max(col("doc_id"))).head.getLong(0) * 7 / 8)

  /** Label repair: contract each new pair's endpoints through
    * yesterday's labels (a node outside any base component is its own
    * super-node), run connected components on the CONTRACTED edge set
    * — delta-pair-sized, never corpus-sized — and re-label exactly
    * the touched components. Correctness: a base component's label is
    * its min doc_id, so the contracted CC's min-of-super-node-labels
    * IS the true min of the merged component; untouched components
    * keep their labels verbatim. Exposed for the fixture spec that
    * pins the hard case (one delta pair bridging two existing base
    * components → one component labeled with the global min). */
  private[graft] def repairedLabels(docs: DataFrame, baseLabels: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val contracted = newPairs
      .join(baseLabels.select(col("node").as("ia"), col("label").as("la")),
        Seq("ia"), "left")
      .join(baseLabels.select(col("node").as("ib"), col("label").as("lb")),
        Seq("ib"), "left")
      .select(coalesce(col("la"), col("ia")).as("u"),
        coalesce(col("lb"), col("ib")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val repair = connectedComponents(contracted)
      .select(col("node").as("bl"), col("label").as("rl"))
    docs.select(col("doc_id"))
      .join(baseLabels.withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("bl", coalesce(col("label"), col("doc_id")))
      .join(repair, Seq("bl"), "left")
      .select(col("doc_id"), coalesce(col("rl"), col("bl")).as("root"))
  }

  /** q191: incremental dedup-artifact maintenance — the capability a
    * daily 100 TB pipeline needs that a full rebuild cannot provide
    * (q174's measured x64 artifact rebuild is ~137 s; re-paying it on
    * every arrival makes the dedup the pipeline's dominant cost).
    * Given yesterday's persisted artifacts (base signature table +
    * base CC labels, the session memos) and today's delta partition
    * (the newest ~1/8 of doc_ids), the incremental path does ONLY
    * delta-bounded work:
    *
    *   1. APPEND: minhash signatures for the delta docs alone
    *      ([[Dedup.signaturesFresh]] — ~1/8 of the corpus hashing);
    *   2. COLLIDE: band self-join of the delta bands against base ∪
    *      delta bands — every candidate pair has ≥ 1 delta endpoint,
    *      so the join is delta-rows × bucket-width, never the full
    *      corpus self-join (restricting one side of an equality join
    *      loses nothing: base-base collisions are yesterday's pairs);
    *   3. VERIFY: exact shingle Jaccard ≥ 0.5 on those candidates
    *      (same predicate as q56, unrounded filter);
    *   4. REPAIR: [[repairedLabels]] — contracted CC over the new
    *      pairs only; untouched components never shuffle.
    *
    * Output: the q88 cluster-size histogram computed from the
    * INCREMENTALLY maintained labels, plus per size-class how many
    * clusters contain a delta doc. The DuckDB oracle computes the
    * same histogram from a FULL rebuild (recursive CTE over the whole
    * verified pair set) — a hash match IS the proof that incremental
    * == rebuild, the equivalence the operator exists to guarantee
    * (also spec-pinned label-for-label at sf0.001, and by the bridge
    * fixture). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    dedupHistogramOf(incrementalLabels(spark, dir),
      deltaThreshold(spark, dir))
  }

  /** The q191 output aggregation over any (doc_id, root) label set —
    * factored so the cold-restart arm (q204) emits the IDENTICAL
    * surface from disk-read artifacts and shares q191's oracle. */
  private[queries] def dedupHistogramOf(labels: DataFrame,
      thr: Long): DataFrame =
    labels
      .withColumn("is_delta", (col("doc_id") > thr).cast("long"))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("csize"), max(col("is_delta")).as("touched"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("root")).as("sum_roots"),
        sum(col("touched")).as("n_touched"))
      .orderBy("csize")

  val incrementalDedupSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |mx AS (SELECT max(doc_id) * 7 // 8 AS thr FROM documents),
       |cl AS (SELECT root, count(*) AS csize,
       |         max(CASE WHEN node > thr THEN 1 ELSE 0 END) AS touched
       |       FROM lab, mx GROUP BY 1)
       |SELECT csize, count(*) AS n_clusters,
       |  CAST(sum(root) AS BIGINT) AS sum_roots,
       |  CAST(sum(touched) AS BIGINT) AS n_touched
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  /** The incremental pipeline up to per-doc (doc_id, root) labels —
    * the spec-equality surface: must equal the FULL rebuild's labels
    * ([[dupClusterLabels]] + singleton completion) doc-for-doc.
    *
    * Steps 1-3 of the q191 increment (append / collide / verify);
    * yesterday's artifacts come from the session memos (= the tables
    * a production run reads back from storage; restricting the
    * memoized corpus tables to ids <= thr yields exactly what
    * yesterday's run over the base corpus would have written, because
    * both the band equality join and the per-pair verification
    * restrict cleanly to a sub-corpus). The delta work is fresh per
    * call — it IS the measured increment. */
  private[graft] def incrementalLabels(
      spark: SparkSession, dir: String): DataFrame =
    incrementalLabelsFrom(spark, dir,
      baseSigsTable(spark, dir), baseCcLabels(spark, dir),
      baseBands = Some(baseBandsTable(spark, dir)))

  /** Yesterday's signature table, restricted to the base corpus —
    * what yesterday's run over ids <= thr would have written (both
    * the band equality join and the per-pair verification restrict
    * cleanly to a sub-corpus). Exposed for the cold-restart publish
    * (q204): this IS the artifact a daily pipeline persists. */
  private[queries] def baseSigsTable(
      spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSigs(spark, dir)
      .filter(col("doc_id") <= deltaThreshold(spark, dir))

  /** Yesterday's CC labels over the base corpus (non-singleton nodes
    * only — singletons are their own label by [[repairedLabels]]'
    * coalesce). Exposed for the cold-restart publish (q204). */
  private[queries] def baseCcLabels(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "cc_base_labels") {
      connectedComponents(Dedup.minhashPairs(spark, dir)
        .filter(col("ib") <= deltaThreshold(spark, dir))
        .select(col("ia"), col("ib")))
    }

  // ---------------------------------------------------------------
  // q213 label blast radius (the pre-publish audit of an increment)
  // ---------------------------------------------------------------

  /** The diff grain of [[labelBlastRadius]], over any (today, base)
    * label pair — factored so the bridge-fixture spec feeds
    * hand-built frames. `today` is (doc_id, root) for the full
    * corpus; `base` is (node, label) for yesterday's non-singleton
    * nodes (singletons are their own label, same coalesce convention
    * as [[repairedLabels]]). */
  private[queries] def blastRadiusOf(today: DataFrame, base: DataFrame,
      thr: Long): DataFrame =
    today
      .join(base.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("base_root", coalesce(col("label"), col("doc_id")))
      .withColumn("change_class",
        when(col("doc_id") > thr, lit("new"))
          .when(col("root") =!= col("base_root"), lit("moved"))
          .otherwise(lit("stable")))
      .groupBy(col("change_class"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("root")).as("n_clusters"),
        sum(col("doc_id")).as("sum_docs"))
      .orderBy("change_class")

  /** q213: the blast radius of today's increment — the audit an
    * operator reads BEFORE publishing the new label snapshot. Every
    * doc is classified against yesterday's labels: `new` (a delta
    * doc), `moved` (a base doc whose component root changed — only a
    * delta pair BRIDGING two base components can cause this, since a
    * delta doc joining a cluster never lowers its min-id root), or
    * `stable`. A pathological delta (a boilerplate flood collapsing
    * clusters) shows up here as a `moved` spike — the signal to hold
    * the publish — while a normal day reads as new-only. Cost: one
    * join of today's labels against the base label artifact plus the
    * increment itself — never a rebuild. The oracle recomputes BOTH
    * snapshots from scratch (full-corpus CC and base-corpus CC as two
    * recursive CTEs) and diffs them — a hash match proves the
    * incremental diff equals the ground-truth diff of the two
    * corpus states. The one-pair-bridges-two-clusters case is
    * spec-pinned on an engineered fixture. */
  def labelBlastRadius(spark: SparkSession, dir: String): DataFrame = {
    blastRadiusOf(incrementalLabels(spark, dir),
      baseCcLabels(spark, dir), deltaThreshold(spark, dir))
  }

  val labelBlastRadiusSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |mx AS (SELECT max(doc_id) * 7 // 8 AS thr FROM documents),
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |bp AS (SELECT ia, ib FROM pairs, mx WHERE ib <= thr),
       |be AS (SELECT ia AS u, ib AS v FROM bp UNION SELECT ib, ia FROM bp),
       |breach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents, mx WHERE doc_id <= thr
       |  UNION
       |  SELECT be.u, breach.r FROM be JOIN breach ON be.v = breach.n),
       |blab AS (SELECT n AS node, min(r) AS broot FROM breach GROUP BY 1),
       |cls AS (SELECT l.node, l.root,
       |          CASE WHEN l.node > mx.thr THEN 'new'
       |               WHEN l.root <> b.broot THEN 'moved'
       |               ELSE 'stable' END AS change_class
       |        FROM lab l LEFT JOIN blab b ON l.node = b.node, mx)
       |SELECT change_class, count(*) AS n_docs,
       |  count(DISTINCT root) AS n_clusters,
       |  CAST(sum(node) AS BIGINT) AS sum_docs
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q215 snapshot diff COLD (time-travel read of the label lineage)
  // ---------------------------------------------------------------

  private[queries] val SnapshotArtifact = "cc_labels_snapshots"

  /** The label snapshot LINEAGE published once per (application,
    * dir): v1 = yesterday's base labels, v2 = today's repaired labels
    * — two committed versions of ONE artifact in the same store the
    * cold family (q204-q207, q210) reads. A separate artifact name
    * from [[graft.queries.ColdRestart.LabelArtifact]]: that one's
    * LATEST must stay the base labels the cold delta paths consume. */
  private val snapStores = new graft.KeyedOnce[(String, String), String]

  private[queries] def labelSnapshotLineage(
      spark: SparkSession, dir: String): String =
    snapStores((spark.sparkContext.applicationId, dir)) {
      val root = ColdRestart.publishedStore(spark, dir)
      graft.io.ArtifactStore.publish(
        baseCcLabels(spark, dir), root, SnapshotArtifact)
      graft.io.ArtifactStore.publish(
        incrementalLabels(spark, dir)
          .select(col("doc_id").as("node"), col("root").as("label")),
        root, SnapshotArtifact)
      root
    }

  /** q215: q213's blast radius computed COLD, from the store's
    * version lineage alone — the time-travel read. Yesterday's (v1)
    * and today's (v2) label snapshots are read back by the fresh
    * session via [[graft.io.ArtifactStore.readVersion]] (explicit
    * versions, manifest-verified) and diffed; no label is recomputed.
    * This is the audit as a NEXT-DAY ops job runs it: after the
    * publish, anyone can ask "what did yesterday's increment move?"
    * for the cost of two artifact reads and one join — at 100 TB the
    * snapshots are label tables (doc_id, root), a few per mille of
    * the corpus bytes, so the audit is artifact-IO-bounded no matter
    * how big the corpus that produced them. Committed versions are
    * never rewritten, so the diff is stable under concurrent
    * publishes. Oracle = q213's verbatim — the surface changed (warm
    * memos → versioned store), the answer must not. */
  def snapshotDiffCold(spark: SparkSession, dir: String): DataFrame = {
    val root = labelSnapshotLineage(spark, dir)
    val s = ColdRestart.fresh(spark)
    val v = graft.io.ArtifactStore
      .latestVersion(s, root, SnapshotArtifact).get
    // the two time-travel reads are independent committed versions —
    // overlap their manifest + count-verification scans (guide §2.6)
    val ((today, _), (base, _)) = ColdRestart.par2(
      graft.io.ArtifactStore.readVersion(s, root, SnapshotArtifact, v),
      graft.io.ArtifactStore.readVersion(s, root, SnapshotArtifact, v - 1))
    blastRadiusOf(
      today.select(col("node").as("doc_id"), col("label").as("root")),
      base, deltaThreshold(s, dir))
  }

  /** Steps 1-4 of the q191 increment from EXPLICIT base artifacts —
    * the seam the cold-restart proof (q204) runs through: a fresh
    * session passes signature/label tables read back from the
    * [[graft.io.ArtifactStore]], and nothing below this call touches
    * a session memo. */
  private[queries] def incrementalLabelsFrom(spark: SparkSession,
      dir: String, baseSigs: DataFrame, baseLabels: DataFrame,
      baseBands: Option[DataFrame] = None): DataFrame = {
    val thr = deltaThreshold(spark, dir)
    // The delta signatures feed THREE plan branches (delta bands +
    // both verify sides) and are deliberately RECOMPUTED per branch —
    // both materialization alternatives measured WORSE at x64:
    //   - lazy localCheckpoint accumulates blocks in the block
    //     manager across invocations (56.9 s → 153.5 s warm);
    //   - writing them to scratch parquet and reading back (the
    //     "append step persists the table" framing) pays the array-
    //     heavy parquet write every call (56.9 s → 140.1 s warm —
    //     the sorted shingle-hash arrays dominate the file).
    // The hashing is delta-bounded; three passes of it are cheaper
    // than either materialization at every measured rung.
    val deltaSigs = Dedup.signaturesFresh(spark,
      documents(spark, dir).filter(col("doc_id") > thr))
    val allSigs = baseSigs.unionByName(deltaSigs)
    repairedLabels(documents(spark, dir), baseLabels,
      collideVerifySplit(deltaSigs, allSigs,
        baseBands.getOrElse(bandsOf(baseSigs)
          .repartition(bandShuffleN(spark), col("band"), col("mh")))))
  }

  /** One (band, value) row per signature position (r=1 banding) — the
    * LSH index rows of a signature table. */
  private[queries] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "mh")))

  private def bandShuffleN(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Yesterday's LSH band index, pre-partitioned on the collide join
    * key and memoized as a plan LEAF — the third base artifact of the
    * warm incremental family (a production LSH pipeline persists its
    * band index next to the signature table; q204's cold arm proves
    * the same increment from store-read signatures, re-banding them
    * per call). Because the leaf's hash partitioning on (band, mh)
    * survives the checkpoint, the collide join reads it WITHOUT an
    * exchange — the full-corpus band shuffle that
    * [[collideVerify]]'s base ∪ delta union paid on EVERY increment
    * (guide §2.4 "remove shuffles outright": the union destroyed the
    * base side's partitioning, so the whole corpus re-banded and
    * re-shuffled per arrival; now only the delta's bands move). */
  private[queries] def baseBandsTable(
      spark: SparkSession, dir: String): DataFrame =
    Tables.memoKeyed(spark, dir, "minhash_base_bands",
      Seq("band", "mh"))(bandsOf(baseSigsTable(spark, dir)))

  /** [[collideVerify]] with the base side's band index supplied by the
    * caller: the delta×(base ∪ delta) band join is split into
    * delta×delta ∪ delta×base — row-identical before the shared
    * distinct (base and delta partition allSigs by the threshold) —
    * so the base side can be a pre-partitioned LEAF that joins with
    * no exchange and no per-call re-banding. Verify is unchanged. */
  private[graft] def collideVerifySplit(deltaSigs: DataFrame,
      allSigs: DataFrame, baseBands: DataFrame): DataFrame = {
    val db = bandsOf(deltaSigs)
    def collide(a: DataFrame, b: DataFrame) =
      a.as("a").hint("shuffle_hash")
        .join(b.as("b").hint("shuffle_hash"),
          col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("ia"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("ib"))
    val cands = collide(db, db).union(collide(db, baseBands)).distinct()
    verifyPairs(cands, allSigs)
  }

  /** Steps 3 of the q191 increment (VERIFY): exact shingle Jaccard
    * >= 0.5 (q56's unrounded predicate) on a candidate pair set. */
  private def verifyPairs(cands: DataFrame, allSigs: DataFrame): DataFrame =
    cands
      .join(allSigs.select(col("doc_id").as("ia"), col("hsh").as("sha")), "ia")
      .join(allSigs.select(col("doc_id").as("ib"), col("hsh").as("shb")), "ib")
      .withColumn("inter",
        expr("sorted_intersect_count(sha, shb)").cast("double"))
      // unrounded-ratio filter, exactly q56's verify predicate
      .withColumn("jraw",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jraw") >= 0.5)
      .select(col("ia"), col("ib"))

  /** Steps 2–3 of the q191 increment (COLLIDE + VERIFY), factored for
    * the streaming arrival arm (q200): band-collide the delta
    * signatures against base ∪ delta — every candidate has ≥ 1 delta
    * endpoint, so the join is delta-rows × bucket-width, never the
    * full corpus self-join — then verify exact shingle Jaccard ≥ 0.5
    * (q56's unrounded predicate) on the candidates. shuffle_hash on
    * both sides for the q56 reason: size statistics must never flip
    * the band self-join to a broadcast. */
  private[graft] def collideVerify(deltaSigs: DataFrame,
      allSigs: DataFrame): DataFrame = {
    val cands = bandsOf(deltaSigs).as("a").hint("shuffle_hash")
      .join(bandsOf(allSigs).as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("ia"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("ib"))
      .distinct()
    verifyPairs(cands, allSigs)
  }

  private[graft] val StreamLabelsArtifact = "labels_stream"
  private[graft] val StreamSigsArtifact = "sigs_stream"

  /** One streaming-arrival batch of the incremental dedup pipeline —
    * the foreachBatch body of q200, exposed for the multi-file and
    * kill-and-resume specs: sign the batch ([[Dedup.signaturesFresh]]),
    * collide + verify it against the stored signatures, then advance
    * two [[graft.io.ArtifactStore]] artifacts under `root` — the
    * repaired labels FIRST, the doc-keyed signatures (union +
    * dropDuplicates("doc_id"), q217's doc-length shape) SECOND; the
    * labels step runs inside the signatures' step, so both read the
    * signatures once, under the signatures' lease. Any near-dup pair
    * is discovered exactly once: at the arrival of its LATER endpoint (the earlier one is stored by then; same-batch
    * pairs collide within the delta) — so by the chained-repair law
    * the final labels equal the full-corpus rebuild regardless of how
    * arrivals were batched.
    *
    * Replay: a crash after the labels commit but before the
    * signatures commit re-delivers a batch whose docs are labelled but
    * unsigned — the repair re-finds the same pairs and is a no-op; a
    * crash after both re-delivers docs already in the signature
    * artifact, which the dedup on the merged read collapses (the
    * signatures are deterministic, so the duplicates are identical
    * rows). Trade: each batch REWRITES the signature artifact rather
    * than appending to it, as q217's doc-keyed artifacts do — the
    * registered q200 delivers its corpus as one batch, so it writes
    * each artifact once. */
  private[graft] def applyArrivalBatch(spark: SparkSession,
      batch: DataFrame, root: String): Unit = {
    import graft.io.ArtifactStore
    import spark.implicits._
    val deltaSigs = Dedup.signaturesFresh(spark, batch)
    ArtifactStore.advance(spark, root, StreamSigsArtifact) { prevSigs =>
      val allSigs = prevSigs.fold(deltaSigs)(
        _.unionByName(deltaSigs).dropDuplicates("doc_id"))
      // the labels commit BEFORE the signatures they were repaired from
      ArtifactStore.advance(spark, root, StreamLabelsArtifact) { prev =>
        val baseLabels = prev.fold(Seq.empty[(Long, Long)].toDF("node", "label"))(
          _.select(col("doc_id").as("node"), col("root").as("label")))
        Some(repairedLabels(allSigs.select(col("doc_id")), baseLabels,
          collideVerify(deltaSigs, allSigs)))
      }
      Some(allSigs)
    }
  }

  /** q88's cluster-size histogram over a (root) label column — the
    * output surface the full rebuild (q88) and the streamed repair
    * (q200) share, so the two arms cannot drift. */
  private[graft] def clusterSizes(roots: DataFrame): DataFrame =
    roots.groupBy(col("root")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("root")).as("sum_roots"))
      .orderBy("csize")

  // ---------------------------------------------------------------
  // q195 arrival keeper decisions (the q191 labels SERVED)
  // ---------------------------------------------------------------

  /** q195: what actually HAPPENS to today's arrivals — the
    * operational output a daily dedup emits after q191's label
    * repair: per delta document, keep or drop, and why. Decisions
    * (root = cluster min; ids are monotone, so a cluster containing
    * any base doc has a base root):
    *   - `new_unique`        singleton — keep;
    *   - `new_cluster_root`  min of an all-delta cluster — keep, its
    *                         delta twins dedup against it;
    *   - `duplicate_of_base` near-dup of yesterday's corpus — drop
    *                         (the keeper already shipped);
    *   - `duplicate_of_delta` non-root member of an all-delta
    *                         cluster — drop.
    * Output digests each decision class (count + xor of doc-id
    * hashes, so WHICH docs got each verdict is pinned, not just how
    * many). Serves from the session-materialized label table (the
    * q191 BUILD is measured by q191; a pipeline writes labels once,
    * then every consumer reads them — this is the read side).
    *
    * The oracle recomputes the decisions from the FULL-rebuild CC
    * labels, so the hash match re-proves incremental == rebuild at
    * the decision grain a consumer actually sees. */
  def arrivalDecisions(spark: SparkSession, dir: String): DataFrame = {
    val thr = deltaThreshold(spark, dir)
    val labels = memo(spark, dir, "inc_labels")(incrementalLabels(spark, dir))
    val sizes = labels.groupBy(col("root")).agg(count(lit(1)).as("csize"))
    labels.filter(col("doc_id") > thr)
      .join(sizes, "root")
      .withColumn("decision",
        when(col("root") === col("doc_id") && col("csize") === 1,
          "new_unique")
          .when(col("root") === col("doc_id"), "new_cluster_root")
          .when(col("root") <= thr, "duplicate_of_base")
          .otherwise("duplicate_of_delta"))
      .withColumn("h", expr(Exprs.hash60("cast(doc_id as string)")))
      .groupBy(col("decision"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("doc_digest"))
      .orderBy("decision")
  }

  val arrivalDecisionsSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |mx AS (SELECT max(doc_id) * 7 // 8 AS thr FROM documents),
       |cs AS (SELECT root, count(*) AS csize FROM lab GROUP BY 1),
       |d AS (
       |  SELECT lab.node AS doc_id, lab.root, cs.csize,
       |    CASE WHEN lab.root = lab.node AND cs.csize = 1
       |           THEN 'new_unique'
       |         WHEN lab.root = lab.node THEN 'new_cluster_root'
       |         WHEN lab.root <= mx.thr THEN 'duplicate_of_base'
       |         ELSE 'duplicate_of_delta' END AS decision
       |  FROM lab JOIN cs ON lab.root = cs.root, mx
       |  WHERE lab.node > mx.thr)
       |SELECT decision, count(*) AS n,
       |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |    ::BIGINT) AS doc_digest
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q196 retraction repair (deletion-side incremental maintenance)
  // ---------------------------------------------------------------

  /** q196: dedup-artifact repair under DELETION — the other half of
    * the incremental story q191 tells for appends, and the one the
    * reference's own load semantics force: S7 re-delivers (replaces)
    * a date partition, and right-to-be-forgotten removes documents
    * outright. Deleting a doc can SPLIT its cluster (the removed doc
    * may be the bridge), so labels cannot be patched in place — but
    * they only change inside components that LOST a member.
    *
    * The repair is deletion-bounded: (1) the removed docs' component
    * roots are the TOUCHED set (a removed doc with no label row was a
    * singleton — nothing to repair); (2) the surviving edges WITHIN
    * touched components (pairs re-keyed through the label table,
    * semi-joined on touched roots, both endpoints surviving) are
    * re-clustered — a pair set the size of the affected clusters,
    * never the corpus; (3) every untouched component keeps its label
    * row verbatim (its edge set is unchanged and its root survives —
    * it contains no removed doc). Survivors missing from both maps
    * are singletons (either always were, or just lost their last
    * twin).
    *
    * The removal set is the deterministic hash-eighth of doc_ids (a
    * mid-corpus slice, so removals hit existing clusters, unlike the
    * q191 tail-delta). The oracle rebuilds the clustering of the
    * SURVIVING corpus from scratch — the hash match proves
    * repair == rebuild, including the split cases. */
  def retractionRepair(spark: SparkSession, dir: String): DataFrame = {
    retractionLabels(spark, dir)
      .select(col("root"))
      .groupBy(col("root")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("root")).as("sum_roots"))
      .orderBy("csize")
  }

  /** The deletion-bounded repair itself: (doc_id, root) for every
    * SURVIVOR — exposed so the spec can pin the split case (removing
    * a bridge doc must split its cluster into separately-labeled
    * survivors). */
  private[graft] def retractionLabels(
      spark: SparkSession, dir: String): DataFrame = {
    val removedPred = expr(s"${Exprs.hash60("cast(doc_id as string)")} % 8 = 3")
    val removedIa = expr(s"${Exprs.hash60("cast(ia as string)")} % 8 = 3")
    val removedIb = expr(s"${Exprs.hash60("cast(ib as string)")} % 8 = 3")
    // yesterday's artifacts: full-corpus labels + verified pairs
    val labels = dupClusterLabels(spark, dir)
    val pairs = Dedup.minhashPairs(spark, dir).select(col("ia"), col("ib"))
    val touched = labels
      .join(documents(spark, dir).filter(removedPred).select(col("doc_id"))
        .withColumnRenamed("doc_id", "node"), Seq("node"))
      .select(col("label")).distinct()
    // surviving edges inside touched components, re-clustered
    val touchedPairs = pairs
      .filter(!removedIa && !removedIb)
      .join(labels.select(col("node").as("ia"), col("label")), Seq("ia"))
      .join(touched, Seq("label"), "left_semi")
      .select(col("ia"), col("ib"))
    val repaired = connectedComponents(touchedPairs)
    val untouchedLabels = labels
      .join(touched, Seq("label"), "left_anti")
    val merged = untouchedLabels.unionByName(repaired)
    documents(spark, dir).filter(!removedPred).select(col("doc_id"))
      .join(merged.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("root"))
  }

  val retractionRepairSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |surv AS (
       |  SELECT doc_id FROM documents
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |        ::BIGINT % 8 != 3),
       |sp AS (
       |  SELECT ia, ib FROM pairs
       |  WHERE ('0x' || substr(md5(CAST(ia AS VARCHAR)), 1, 15))
       |        ::BIGINT % 8 != 3
       |    AND ('0x' || substr(md5(CAST(ib AS VARCHAR)), 1, 15))
       |        ::BIGINT % 8 != 3),
       |e AS (SELECT ia AS u, ib AS v FROM sp
       |      UNION SELECT ib, ia FROM sp),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM surv
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |cl AS (SELECT root, count(*) AS csize FROM lab GROUP BY 1)
       |SELECT csize, count(*) AS n_clusters,
       |  CAST(sum(root) AS BIGINT) AS sum_roots
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q197 composed incremental daily run (the main() of the family)
  // ---------------------------------------------------------------

  /** q197: the incremental-maintenance family COMPOSED as one audited
    * daily run — the reference's `main()` orchestration shape (q162)
    * applied to today's arrival. Eight phases, each through
    * [[graft.io.RunAudit]] (R2) so a production operator gets the
    * same structured trail the reference's loads get:
    *
    *   1. append_signatures — delta minhash signatures (rows_out =
    *      delta docs signed);
    *   2. repair_labels     — q191's contracted-CC repair (rows_out =
    *      clusters containing a delta doc);
    *   3. decide_keepers    — q195's verdicts (rows_out = delta docs
    *      KEPT: cluster roots + uniques);
    *   4. merge_postings    — q194's index append (rows_out =
    *      first-seen vocabulary);
    *   5. check_codebook    — q193's drift decision (rows_out = the
    *      0/1 refresh flag);
    *   6. merge_bm25_stats  — q199's ranking-stat merge (rows_out =
    *      delta docs that surfaced in a served top-5 — the
    *      user-visible impact of today's arrival on rankings);
    *   7. retraction_drill  — q201 exercised as the S7 re-delivery
    *      drill: prove the delete path restores the base index
    *      before any re-append would land (rows_out = terms whose
    *      lists shrink, the re-delivery blast radius);
    *   8. check_layout      — q203's OPTIMIZE-cadence decision
    *      (rows_out = the 0/1 recluster flag);
    *   9. audit_blast       — q213's pre-publish gate: rows_out =
    *      BASE docs today's delta relabeled (a moved-spike is the
    *      signal to hold the publish that follows);
    *  10. publish_store     — the day-boundary hand-off: the seven
    *      base artifacts published to the versioned manifest-committed
    *      [[graft.io.ArtifactStore]] with retention maintained
    *      (rows_out = the sum of the manifests' ATTESTED row counts —
    *      the oracle re-derives each artifact's size from its
    *      family's own CTEs, so a publish that wrote the wrong rows
    *      breaks the hash);
    *  11. cold_handoff      — tomorrow's first read, today: a FRESH
    *      session re-runs the q191 dedup repair from the just-
    *      published store alone (rows_out = delta-touched clusters,
    *      the same number phase 2 produced warm — the oracle states
    *      it twice, so warm == cold == rebuild at the run grain);
    *  12. optimize_layout   — phase 8's decision DRIVES q211's
    *      action: a fired recluster flag executes the full z-rewrite
    *      (rows_out = rows rewritten; 0 when the layout is kept).
    *
    * The oracle re-derives every phase's number from the FAMILY'S OWN
    * oracle SQL embedded as derived subqueries (DuckDB scopes each
    * nested WITH) — so the composition cannot drift from the
    * operators it composes, and a hash match re-proves each
    * incremental == rebuild equivalence at the run-summary grain.
    * Durations/errors stay in the audit table but out of the oracled
    * projection (the q101 discipline). Excluded from the bench set
    * (writes a scratch audit table per call). */
  def incrementalDaily(spark: SparkSession, dir: String): DataFrame = {
    dailyRunWith(dir, DailyArms(
      s = spark,
      auditName = "q197",
      labels = () =>
        memo(spark, dir, "inc_labels")(incrementalLabels(spark, dir)),
      mergePostings = () => TextAnalysis.incrementalPostings(spark, dir),
      checkCodebook = () => Similarity.codebookRefresh(spark, dir),
      mergeBm25 = () => TextAnalysis.incrementalBm25(spark, dir),
      retractionDrill = () => TextAnalysis.postingsRetraction(spark, dir),
      baseLabels = () => baseCcLabels(spark, dir),
      publishStore = () => {
        val root = ColdRestart.publishedStore(spark, dir)
        // attest through the SNAPSHOT's version vector (the day's
        // commit point, written last by publishAll), not per-artifact
        // latestVersion — the same torn-set discipline the cold arms
        // enforce on their reads
        val snap = graft.io.ArtifactStore.latestSnapshot(spark, root)
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshot under $root"))
        val attested = ColdRestart.AllArtifacts.map { n =>
          // the daily cadence maintains retention as it publishes:
          // newest two committed versions survive (serving + grace)
          graft.io.ArtifactStore.prune(spark, root, n, keep = 2)
          graft.io.ArtifactStore.readManifest(spark, root, n,
            snap.artifacts(n)).rows
        }.sum
        (root, attested)
      }))
  }

  /** The per-phase inputs of the composed daily run — two
    * instantiations of the same 12-phase body ([[dailyRunWith]]):
    * WARM (q197: session-memoized builders, the base-artifact publish
    * as the day-boundary hand-off) and COLD (q221,
    * [[ColdRestart.coldDaily]]: a FRESH session whose only inputs
    * below the raw tables are [[graft.io.ArtifactStore]] reads — the
    * day-N process shape, round-11 verdict top ask). Both share
    * [[incrementalDailySql]]: the twelve phase numbers equal the
    * rebuild derivation only if every arm's path is exact, so the
    * hash match proves warm == cold == rebuild at the run grain. */
  private[queries] final case class DailyArms(
      s: SparkSession,
      auditName: String,
      labels: () => DataFrame,
      mergePostings: () => DataFrame,
      checkCodebook: () => DataFrame,
      mergeBm25: () => DataFrame,
      retractionDrill: () => DataFrame,
      baseLabels: () => DataFrame,
      publishStore: () => (String, Long))

  private[queries] def dailyRunWith(dir: String,
      arms: DailyArms): DataFrame = {
    val s = arms.s
    val thr = deltaThreshold(s, dir)
    // named after the arm: the warm and cold runs must not clobber
    // each other's audit table mid-read
    val auditTbl =
      graft.io.Scratch.path(s"graft_inc_daily_audit_${arms.auditName}")
    graft.io.Scratch.delete(s, auditTbl)
    val audit = new graft.io.RunAudit(arms.auditName)
    audit.phase[Unit]("arrival", "append_signatures") {
      ((), Dedup.signaturesFresh(s,
        documents(s, dir).filter(col("doc_id") > thr)).count())
    }
    val labels = audit.phase[DataFrame]("arrival", "repair_labels") {
      val l = arms.labels()
      (l, l.filter(col("doc_id") > thr).select(col("root"))
        .distinct().count())
    }
    audit.phase[Unit]("arrival", "decide_keepers") {
      ((), labels.filter(col("doc_id") > thr &&
        col("root") === col("doc_id")).count())
    }
    audit.phase[Unit]("arrival", "merge_postings") {
      ((), arms.mergePostings()
        .agg(coalesce(sum(col("n_new_terms")), lit(0L))).head.getLong(0))
    }
    audit.phase[Unit]("arrival", "check_codebook") {
      ((), arms.checkCodebook()
        .agg(max(col("refresh"))).head.getLong(0))
    }
    audit.phase[Unit]("arrival", "merge_bm25_stats") {
      ((), arms.mergeBm25()
        .filter(col("doc_id") > thr).count())
    }
    audit.phase[Unit]("arrival", "retraction_drill") {
      ((), arms.retractionDrill()
        .agg(coalesce(sum(col("n_shrunk")), lit(0L))).head.getLong(0))
    }
    val reclusterFired = audit.phase[Long]("arrival", "check_layout") {
      val f = Relational.zorderMaintenance(s, dir)
        .agg(max(col("recluster"))).head.getLong(0)
      (f, f)
    }
    audit.phase[Unit]("handoff", "audit_blast") {
      // the pre-publish gate (q213): how many BASE docs did today's
      // delta relabel? A moved-spike is the signal to HOLD the
      // publish; cost = one join of the already-materialized labels
      // against the base label artifact
      ((), blastRadiusOf(labels, arms.baseLabels(), thr)
        .filter(col("change_class") === "moved")
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head.getLong(0))
    }
    val store = audit.phase[String]("handoff", "publish_store") {
      arms.publishStore()
    }
    audit.phase[Unit]("handoff", "cold_handoff") {
      ((), ColdRestart.coldDedup(ColdRestart.fresh(s), dir, store)
        .agg(coalesce(sum(col("n_touched")), lit(0L))).head.getLong(0))
    }
    audit.phase[Unit]("maintenance", "optimize_layout") {
      // the decision DRIVES the action: only a fired recluster flag
      // pays the full rewrite (q211); rows_out = rows rewritten (the
      // whole table when fired, 0 when the layout is kept)
      ((), if (reclusterFired == 1L) {
        val (_, opt) = Relational.zoptWritten(s, dir)
        s.read.parquet(opt).count()
      } else 0L)
    }
    audit.write(s, auditTbl)
    s.read.parquet(auditTbl)
      .select(col("seq"), col("dataset"), col("phase"), col("rows_out"),
        col("outcome"))
      .orderBy("seq")
  }

  lazy val incrementalDailySql: String =
    s"""SELECT * FROM (
       |SELECT CAST(1 AS INTEGER) AS seq, 'arrival' AS dataset,
       |  'append_signatures' AS phase,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents,
       |     (SELECT max(doc_id) * 7 // 8 AS thr FROM documents)
       |   WHERE doc_id > thr) AS rows_out, 'ok' AS outcome
       |UNION ALL
       |SELECT 2, 'arrival', 'repair_labels',
       |  (SELECT CAST(sum(n_touched) AS BIGINT)
       |   FROM ($incrementalDedupSql)), 'ok'
       |UNION ALL
       |SELECT 3, 'arrival', 'decide_keepers',
       |  (SELECT CAST(coalesce(sum(n), 0) AS BIGINT)
       |   FROM ($arrivalDecisionsSql)
       |   WHERE decision IN ('new_unique', 'new_cluster_root')), 'ok'
       |UNION ALL
       |SELECT 4, 'arrival', 'merge_postings',
       |  (SELECT CAST(coalesce(sum(n_new_terms), 0) AS BIGINT)
       |   FROM (${TextAnalysis.incrementalPostingsSql})), 'ok'
       |UNION ALL
       |SELECT 5, 'arrival', 'check_codebook',
       |  (SELECT CAST(max(refresh) AS BIGINT)
       |   FROM (${Similarity.codebookRefreshSql})), 'ok'
       |UNION ALL
       |SELECT 6, 'arrival', 'merge_bm25_stats',
       |  (SELECT CAST(count(*) AS BIGINT)
       |   FROM (${TextAnalysis.bm25Sql}),
       |     (SELECT max(doc_id) * 7 // 8 AS thr FROM documents)
       |   WHERE doc_id > thr), 'ok'
       |UNION ALL
       |SELECT 7, 'arrival', 'retraction_drill',
       |  (SELECT CAST(coalesce(sum(n_shrunk), 0) AS BIGINT)
       |   FROM (${TextAnalysis.postingsRetractionSql})), 'ok'
       |UNION ALL
       |SELECT 8, 'arrival', 'check_layout',
       |  (SELECT CAST(max(recluster) AS BIGINT)
       |   FROM (${Relational.zorderMaintenanceSql})), 'ok'
       |UNION ALL
       |SELECT 9, 'handoff', 'audit_blast',
       |  (SELECT CAST(coalesce(sum(CASE WHEN change_class = 'moved'
       |       THEN n_docs ELSE 0 END), 0) AS BIGINT)
       |   FROM ($labelBlastRadiusSql)), 'ok'
       |UNION ALL
       |SELECT 10, 'handoff', 'publish_store',
       |  (SELECT (${Dedup.baseSigCountSql})
       |        + (${Dedup.baseLabelCountSql})
       |        + (${Similarity.baseCodebookCountSql})
       |        + (${TextAnalysis.basePostingsCountSql})
       |        + (${Similarity.baseGraphCountSql})
       |        + (${TextAnalysis.baseBm25ScalarsCountSql})
       |        + (${TextAnalysis.baseBm25HitsCountSql})), 'ok'
       |UNION ALL
       |SELECT 11, 'handoff', 'cold_handoff',
       |  (SELECT CAST(sum(n_touched) AS BIGINT)
       |   FROM ($incrementalDedupSql)), 'ok'
       |UNION ALL
       |SELECT 12, 'maintenance', 'optimize_layout',
       |  (SELECT CASE WHEN (SELECT max(recluster)
       |       FROM (${Relational.zorderMaintenanceSql})) = 1
       |     THEN (SELECT count(*) FROM lineitem) ELSE 0 END), 'ok')
       |ORDER BY seq""".stripMargin

  // ---------------------------------------------------------------
  // q165 leakage-safe train/val/test split
  // ---------------------------------------------------------------

  /** q165: near-dup-aware train/val/test split — the eval-integrity
    * operator a plain hash split (q73) cannot provide: when a val/test
    * document's near-twin sits in train, the eval is contaminated.
    * The fix is to assign splits by DEDUP CLUSTER, not by document:
    * every member of a q88 component follows its cluster root's hash
    * (80/10/10 on hash(root) % 10), so a cluster can never span
    * splits. The output states both policies side by side — per
    * (policy, split): docs and distinct clusters; plus a LEAK row per
    * policy counting clusters that span more than one split and the
    * documents inside them. By construction the cluster policy's LEAK
    * row is (0, 0); the doc policy's row is the measured
    * contamination that justifies the operator.
    *
    * Scale shape: labels come from the shared [[connectedComponents]]
    * fixpoint (pair-set-sized); both policies are scan-stage hash
    * projections over the labeled corpus; the leak check is one
    * (root)-keyed aggregate. Deterministic hash → stable splits
    * across re-runs (the q73 contract), now also stable under
    * re-crawled duplicates arriving with new doc_ids. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusterLabels(spark, dir)
    val docs = documents(spark, dir).select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("root"))
    def bucketOf(c: String) = expr(
      s"CASE WHEN ${Exprs.hash60(s"cast($c as string)")} % 10 < 8 " +
        "THEN 'train' WHEN " +
        s"${Exprs.hash60(s"cast($c as string)")} % 10 = 8 " +
        "THEN 'val' ELSE 'test' END")
    def policy(name: String, keyCol: String) = {
      val assigned = docs.withColumn("split", bucketOf(keyCol))
      val per = assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          expr("count(distinct root)").as("n_clusters"))
        .select(lit(name).as("policy"), col("split"), col("n_docs"),
          col("n_clusters"))
      val leak = assigned.groupBy(col("root"))
        .agg(count(lit(1)).as("sz"),
          expr("count(distinct split)").as("ns"))
        .filter(col("ns") > 1)
        .agg(coalesce(sum(col("sz")), lit(0L)).as("n_docs"),
          count(lit(1)).as("n_clusters"))
        .select(lit(name).as("policy"), lit("LEAK").as("split"),
          col("n_docs"), col("n_clusters"))
      per.unionByName(leak)
    }
    policy("cluster", "root").unionByName(policy("doc", "doc_id"))
      .orderBy("policy", "split")
  }

  val leakageSafeSplitSql: String = {
    def h(c: String) =
      s"('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT"
    def bucket(c: String) =
      s"""CASE WHEN ${h(c)} % 10 < 8 THEN 'train'
         |     WHEN ${h(c)} % 10 = 8 THEN 'val' ELSE 'test' END"""
        .stripMargin
    def policy(name: String, key: String) =
      s"""SELECT '$name' AS policy, split, count(*) AS n_docs,
         |  count(DISTINCT root) AS n_clusters
         |FROM (SELECT root, ${bucket(key)} AS split FROM d) GROUP BY 2
         |UNION ALL
         |SELECT '$name', 'LEAK',
         |  CAST(coalesce(sum(sz), 0) AS BIGINT), count(*)
         |FROM (SELECT root, count(*) AS sz, count(DISTINCT split) AS ns
         |      FROM (SELECT root, ${bucket(key)} AS split FROM d)
         |      GROUP BY 1) x
         |WHERE ns > 1""".stripMargin
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |d AS (SELECT dd.doc_id, coalesce(lab.root, dd.doc_id) AS root
       |      FROM documents dd LEFT JOIN lab ON dd.doc_id = lab.node)
       |${policy("cluster", "root")}
       |UNION ALL
       |${policy("doc", "doc_id")}
       |ORDER BY policy, split""".stripMargin
  }

  // ---------------------------------------------------------------
  // q173 corpus snapshot diff (incremental-crawl bookkeeping)
  // ---------------------------------------------------------------

  /** q173: content-hash diff of two corpus snapshots — the
    * bookkeeping pass an incremental crawl runs between snapshot N
    * and N+1 before any expensive recuration: classify every doc_id
    * as added / removed / changed / unchanged by comparing content
    * hashes, so downstream stages (dedup signatures, embeddings,
    * quality scores) recompute ONLY the added+changed slice instead
    * of the whole corpus. Snapshot B is derived deterministically
    * from the fixture corpus (drop `id%17=3`, revise `id%13=5`,
    * add a re-crawled `id%19=7` cohort under fresh negative ids) so
    * the oracle checks the classifier against known ground truth.
    *
    * Scale shape: each snapshot contributes ONE scan projecting
    * (doc_id, source, md5) — the text never leaves the scan stage —
    * and the diff is a single co-partitioned full-outer SMJ on
    * doc_id followed by a |sources|×4-row digest. At 100 TB both
    * snapshots would be written bucketed by doc_id, making the join
    * exchange-free (zip-partition); q109's partition-digest
    * reconcile is the coarse fast path, this is the row-grain
    * classification run on the flagged slice. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir)
    val snapA = base.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("h_a"))
    val bKept = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 5, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text2"))
    val bNew = base.filter(col("doc_id") % 19 === 7)
      .select((-col("doc_id") - 1).as("doc_id"), col("source"),
        concat(lit("recrawl: "), col("text")).as("text2"))
    val snapB = bKept.unionByName(bNew)
      .select(col("doc_id"), col("source").as("src_b"),
        md5(col("text2")).as("h_b"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("h_b").isNull, "removed")
          .when(col("h_a").isNull, "added")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"),
        col("doc_id"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"bit_xor(${Exprs.hash60("cast(doc_id as string)")})")
          .as("id_digest"))
      .orderBy("source", "status")
  }

  val snapshotDiffSql: String = {
    val h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    s"""WITH a AS (
       |  SELECT doc_id, source AS src_a, md5(text) AS h_a FROM documents),
       |bk AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 13 = 5 THEN text || ' [rev2]' ELSE text END
       |      AS text2
       |  FROM documents WHERE doc_id % 17 <> 3),
       |bn AS (
       |  SELECT -doc_id - 1 AS doc_id, source, 'recrawl: ' || text AS text2
       |  FROM documents WHERE doc_id % 19 = 7),
       |b AS (
       |  SELECT doc_id, source AS src_b, md5(text2) AS h_b
       |  FROM (SELECT * FROM bk UNION ALL SELECT * FROM bn)),
       |j AS (
       |  SELECT coalesce(a.src_a, b.src_b) AS source,
       |    CASE WHEN b.h_b IS NULL THEN 'removed'
       |         WHEN a.h_a IS NULL THEN 'added'
       |         WHEN a.h_a <> b.h_b THEN 'changed'
       |         ELSE 'unchanged' END AS status,
       |    coalesce(a.doc_id, b.doc_id) AS doc_id
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT source, status, count(*) AS n_docs,
       |  bit_xor($h) AS id_digest
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------
  // q122 quality-aware dedup keeper selection
  // ---------------------------------------------------------------

  /** q122: quality-aware keeper selection — the policy refinement on
    * top of q88's clusters that real pipelines run: instead of
    * keeping each near-dup cluster's minimum doc_id, keep its
    * HIGHEST-QUALITY member (q51's composite score, doc_id as the
    * deterministic tiebreak). The digest reports, per cluster size,
    * the kept ids and quality, plus the quality GAIN over the naive
    * min-id policy — the number that justifies the fancier keeper.
    *
    * Scale shape: cluster labels come from the shared
    * [[connectedComponents]] fixpoint (pair-set-sized), quality is
    * the scan-stage q51 projection, and the keeper argmax is a pure
    * AGGREGATE — `max(struct(quality, -doc_id))` — so map-side
    * partial aggregation reduces every cluster before the shuffle;
    * no per-cluster window sort. Quality is rounded 4dp per doc
    * (the q51 contract), so the argmax and its tiebreak are
    * cross-engine exact. */
  def qualityKeeper(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusterLabels(spark, dir)
    TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("label"), col("doc_id")))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("csize"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("k"),
        min(struct(col("doc_id"), col("quality"))).as("m"))
      .select(col("csize"),
        (-col("k.nid")).as("keeper"),
        col("k.quality").as("kq"),
        col("m.quality").as("mq"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("keeper")).as("sum_keepers"),
        round(sum(col("kq")), 4).as("sum_keeper_q"),
        round(sum(col("kq") - col("mq")), 4).as("sum_gain_q"))
      .orderBy("csize")
  }

  val qualityKeeperSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |${TextAnalysis.scoredDocsSqlCtes},
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |r AS (SELECT q.doc_id, q.quality,
       |        coalesce(lab.root, q.doc_id) AS root
       |      FROM q LEFT JOIN lab ON q.doc_id = lab.node),
       |rk AS (SELECT root, doc_id, quality,
       |        row_number() OVER (PARTITION BY root
       |          ORDER BY quality DESC, doc_id ASC) AS rq,
       |        row_number() OVER (PARTITION BY root
       |          ORDER BY doc_id ASC) AS ri
       |       FROM r),
       |cl AS (SELECT root, count(*) AS csize,
       |         sum(CASE WHEN rq = 1 THEN doc_id END) AS keeper,
       |         sum(CASE WHEN rq = 1 THEN quality END) AS kq,
       |         sum(CASE WHEN ri = 1 THEN quality END) AS mq
       |       FROM rk GROUP BY 1)
       |SELECT csize, count(*) AS n_clusters,
       |  CAST(sum(keeper) AS BIGINT) AS sum_keepers,
       |  round(sum(kq), 4) AS sum_keeper_q,
       |  round(sum(kq - mq), 4) AS sum_gain_q
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q89 benchmark decontamination (n-gram overlap vs eval set)
  // ---------------------------------------------------------------

  /** Contamination gram width. Real pipelines use 8–13-token grams;
    * the harness corpus is 20–80-token synthetic docs, so 4 keeps the
    * overlap test non-vacuous at sf0.01 while exercising the exact
    * same dataflow. */
  private val GramN = 4

  /** Distinct GramN-token grams of the lowercased text (shared
    * n-gram builder, [[Exprs.tokenNgrams]] — the width knob is real). */
  private def gramCol = expr(Exprs.tokenNgrams("t", GramN))

  /** q89: flag training documents sharing any $GramN-gram with the
    * held-out benchmark slice (doc_id % 97 == 0 — stand-in for an
    * eval set). The benchmark gram set is hashed, deduped, and
    * BROADCAST; the training side is scanned once and semi-joined in
    * the scan stage, so the 100 TB side never shuffles. Grams compare
    * as xxhash64 (native 64-bit, no hex round-trip); the oracle
    * compares plain gram strings — same verdicts unless a 64-bit
    * collision occurs. */
  /** The TRAIN-slice documents sharing any gram with the eval slice —
    * q89's flag set, shared with the q123 corpus build. */
  private[queries] def contaminatedDocs(
      spark: SparkSession, dir: String): DataFrame = {
    // n-gram construction is per-row-expensive and this frame is
    // scanned twice (bench side + train side) — spread the
    // single-row-group scan so both passes parallelize (guide §2.5)
    val grams = Tables.spread(documents(spark, dir), "doc_id")
      .withColumn("t", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("grams", gramCol)
      .select(col("doc_id"), col("grams"))
    val benchGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(explode(col("grams")).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val train = documents(spark, dir)
      .filter(col("doc_id") % 97 =!= 0)
    val contaminated = contaminatedDocs(spark, dir)
    train.select(col("doc_id"), col("lang"))
      .join(contaminated.withColumn("c", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        coalesce(sum(col("c")), lit(0L)).as("n_contaminated"),
        coalesce(sum(when(col("c") === 1L, col("doc_id"))), lit(0L))
          .as("sum_contaminated_ids"))
      .orderBy("lang")
  }

  /** Shared DuckDB CTE chain ending in `contaminated(doc_id)` — one
    * definition for the q89 digest and the q123 build filter. */
  private val duckContaminatedCtes: String =
    s"""g AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(t) - ${GramN - 2}, 1)),
       |      i -> array_to_string(t[i:i+${GramN - 1}], ' '))) AS grams
       |  FROM (SELECT doc_id, lang,
       |          string_split_regex(lower(trim(text)), '\\s+') AS t
       |        FROM documents)),
       |bset AS (
       |  SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 97 = 0),
       |train AS (SELECT * FROM g WHERE doc_id % 97 <> 0),
       |contaminated AS (
       |  SELECT DISTINCT doc_id
       |  FROM (SELECT doc_id, unnest(grams) AS gr FROM train) t
       |  JOIN bset USING (gr))""".stripMargin

  val decontaminateSql: String =
    s"""WITH $duckContaminatedCtes
       |SELECT lang, count(*) AS n_train,
       |  CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
       |  CAST(coalesce(sum(c.doc_id), 0) AS BIGINT)
       |    AS sum_contaminated_ids
       |FROM train LEFT JOIN contaminated c USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q123 end-to-end corpus build (dedup -> decontaminate -> gate)
  // ---------------------------------------------------------------

  /** q123: the corpus BUILD — the capstone composition a training-data
    * pipeline actually ships: start from the train slice (the q89
    * eval holdout excluded), keep only each near-dup cluster's
    * quality keeper (q122 policy), drop benchmark-contaminated
    * documents (q89 flag set), then gate at the per-language train
    * median quality (q107 policy) — and digest the surviving
    * manifest per language (docs, ids, tokens, quality mass). Every
    * stage reuses the SHARED definition its standalone query uses,
    * on both engines, so this also pins that the pieces compose.
    *
    * Scale shape: the composition inherits each stage's shape —
    * pair-set CC + aggregate argmax (q122), broadcast eval-gram
    * semi-join (q89), broadcast median gate (q107) — stitched with
    * two id-keyed semi/anti joins against the corpus scan; no new
    * corpus-sized shuffle is introduced by composing. */
  def corpusBuild(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusterLabels(spark, dir)
    val scored = TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
    val keepers = scored.select(col("doc_id"), col("quality"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("label"), col("doc_id")))
      .groupBy(col("root"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("k"))
      .select((-col("k.nid")).as("doc_id"))
    val med = scored.filter(col("doc_id") % 97 =!= 0)
      .groupBy(col("lang"))
      .agg(expr("percentile(quality, 0.5D)").as("med"))
    scored.filter(col("doc_id") % 97 =!= 0)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminatedDocs(spark, dir), Seq("doc_id"), "left_anti")
      .join(broadcast(med), Seq("lang"))
      .filter(col("quality") >= col("med"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(sum(col("quality")), 4).as("sum_quality"))
      .orderBy("lang")
  }

  val corpusBuildSql: String =
    s"""WITH RECURSIVE ${Dedup.duckVerifiedPairCtes},
       |${TextAnalysis.scoredDocsSqlCtes},
       |$duckContaminatedCtes,
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |rr AS (SELECT q.doc_id, q.quality,
       |         coalesce(lab.root, q.doc_id) AS root
       |       FROM q LEFT JOIN lab ON q.doc_id = lab.node),
       |keep AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY root
       |      ORDER BY quality DESC, doc_id ASC) AS rn
       |    FROM rr) WHERE rn = 1),
       |med AS (SELECT lang, median(quality) AS med FROM q
       |        WHERE doc_id % 97 <> 0 GROUP BY 1)
       |SELECT q.lang, count(*) AS n_docs,
       |  CAST(sum(q.doc_id) AS BIGINT) AS sum_ids,
       |  CAST(sum(q.n_tokens) AS BIGINT) AS sum_tokens,
       |  round(sum(q.quality), 4) AS sum_quality
       |FROM q
       |JOIN keep ON q.doc_id = keep.doc_id
       |LEFT JOIN contaminated c ON q.doc_id = c.doc_id
       |JOIN med ON q.lang = med.lang
       |WHERE q.doc_id % 97 <> 0 AND c.doc_id IS NULL
       |  AND q.quality >= med.med
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q98 exact-substring span dedup
  // ---------------------------------------------------------------

  /** Span width for exact-substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" use
    * 50 BPE tokens; 16 whitespace tokens is the proportionate width
    * for the 20–80-token harness docs). */
  private val SpanTok = 16

  /** TWO independent polynomial span hashes (distinct bases and
    * near-2^44 prime moduli); spans are equal iff BOTH agree — a
    * combined ~88-bit key, because the dup join is corpus-GLOBAL: a
    * single 2^44 hash would expect n²/2^45 false duplicate pairs
    * (~28k at 1e9 spans — each falsely branding two unrelated docs as
    * sharing verbatim text), while the pair expects n²/2^89 ≈ 1.6e-9.
    * The rolling value stays under 2^61 (fold accumulator < 2^44,
    * times base 131, plus a 60-bit token hash — inside BIGINT on both
    * engines; DuckDB ERRORS on overflow where Spark wraps). */
  private val SpanP1 = 17592186044423L
  private val SpanB1 = 131
  private val SpanP2 = 17592186044399L
  private val SpanB2 = 137

  /** q98: exact-substring span dedup — the member of the dedup family
    * that catches VERBATIM REGIONS shared across otherwise-different
    * documents (boilerplate, quotations, mirrored passages), which
    * document-level fingerprints and near-dup similarity both miss.
    * Finds every [[SpanTok]]-token span occurring in >= 2 distinct
    * documents and digests the affected documents per language.
    *
    * Spans are compared as a PAIR of independent POLYNOMIAL HASHES
    * over per-token 60-bit md5 hashes (each token hashed once, each
    * span two 16-step multiply-add folds — the q59 rolling-hash
    * ethos), never as materialized span strings: the string form
    * built+exploded ~50 bytes x SpanTok per position and benched 30x
    * slower. At 100 TB this is the span-hash-partitioned formulation:
    * one shuffle of the distinct (span-hash pair, doc_id) set into
    * the dup groupBy (plus its re-read for the affected-doc
    * semi-join) — the distributed alternative to a monolithic suffix
    * array, with the same detection power at span granularity. The
    * oracle mirrors the exact hash arithmetic (list_reduce's
    * first-element seed equals the 0-seeded fold's first step,
    * verified). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    // Token hashes are computed behind an AGGREGATION BARRIER
    // (posexplode -> hash one row per token -> reassemble in position
    // order), not as a same-projection array: higher-order lambdas
    // evaluate interpreted, and CollapseProject would inline the
    // whole md5 token-hash array into the per-position span lambda —
    // re-hashing every token once per span position (measured 16x
    // slower). The memo holds the EXPLODED per-doc span-hash set (the
    // expensive folds run once), read by both consumers below (dup
    // detection and the affected-doc semi-join).
    def foldExpr(b: Int, p: Long): String =
      s"""transform(sequence(1, size(th) - ${SpanTok - 1}),
         |  i -> aggregate(slice(th, i, $SpanTok), 0L,
         |         (a, h) -> (a * $b + h) % $p))""".stripMargin
    val g = memo(spark, dir, "span_hashes") {
      documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          posexplode(split(lower(trim(col("text"))), "\\s+"))
            .as(Seq("pos", "tok")))
        .select(col("doc_id"), col("lang"), col("pos"),
          expr(Exprs.hash60("tok")).as("h"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, h))), s -> s.h)")
          .as("th"))
        // zip the two aligned per-position folds FIRST, then distinct
        // over the pair structs (per-fold distinct would misalign).
        .withColumn("sh", expr(
          s"""CASE WHEN size(th) >= $SpanTok THEN
             |  array_distinct(zip_with(${foldExpr(SpanB1, SpanP1)},
             |    ${foldExpr(SpanB2, SpanP2)},
             |    (x, y) -> named_struct('g1', x, 'g2', y)))
             |ELSE cast(array() as array<struct<g1: bigint, g2: bigint>>)
             |END""".stripMargin))
        .select(col("doc_id"), col("lang"), explode(col("sh")).as("p"))
        .select(col("doc_id"), col("lang"),
          col("p.g1").as("g1"), col("p.g2").as("g2"))
    }
    val dup = g.groupBy(col("g1"), col("g2"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("g1"), col("g2"))
    g.join(dup, Seq("g1", "g2"), "left_semi")
      .select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_affected"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang")
  }

  val spanDedupSql: String =
    s"""WITH th AS (
       |  SELECT doc_id, lang,
       |    list_transform(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS th
       |  FROM documents),
       |sh AS (
       |  -- no per-doc distinct here (DuckDB cannot list_distinct a
       |  -- struct list); harmless, because every downstream aggregate
       |  -- is doc-distinct. The Spark side keeps array_distinct as a
       |  -- map-side reduction only.
       |  SELECT doc_id, lang,
       |    CASE WHEN len(th) >= $SpanTok THEN
       |      list_transform(range(1, len(th) - ${SpanTok - 2}),
       |        i -> {'g1': list_reduce(
       |                     list_prepend(0::BIGINT, th[i:i+${SpanTok - 1}]),
       |                     (a, h) -> (a * $SpanB1 + h) % $SpanP1),
       |              'g2': list_reduce(
       |                     list_prepend(0::BIGINT, th[i:i+${SpanTok - 1}]),
       |                     (a, h) -> (a * $SpanB2 + h) % $SpanP2)})
       |    ELSE CAST([] AS STRUCT(g1 BIGINT, g2 BIGINT)[]) END AS sh
       |  FROM th),
       |e AS (SELECT doc_id, lang, pr.g1 AS g1, pr.g2 AS g2
       |      FROM (SELECT doc_id, lang, unnest(sh) AS pr FROM sh)),
       |d AS (SELECT g1, g2 FROM e GROUP BY 1, 2
       |      HAVING count(DISTINCT doc_id) >= 2),
       |a AS (SELECT DISTINCT doc_id, lang FROM e JOIN d USING (g1, g2))
       |SELECT lang, count(*) AS n_affected,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q90 deterministic weighted source sampling (domain mixing)
  // ---------------------------------------------------------------

  /** Per-source keep rates in ten-thousandths (domain-mixing weights a
    * corpus build chooses); sources not listed keep [[DefaultRateBp]].
    * Integer basis points so the threshold compare is exact on both
    * engines — no double rounding at the keep boundary. */
  private val RatesBp: Seq[(String, Int)] =
    Seq("src0" -> 10000, "src1" -> 7500, "src2" -> 5000, "src3" -> 2500)
  private val DefaultRateBp = 1000

  /** q90: reproducible weighted sampling — keep a document iff its
    * 60-bit md5 hash mod 10000 falls under its source's rate. The
    * same deterministic-hash trick as the q73 split (re-runs and
    * backfills select identical rows); the predicate is a pure
    * scan-stage filter, so at 100 TB this is one pass with no
    * shuffle before the per-source rollup. Digest keeps both the
    * kept-count and the kept-id sum so every keep decision lands in
    * the hash. */
  def sourceSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = RatesBp.foldLeft(lit(DefaultRateBp)) { case (acc, (s, r)) =>
      when(col("source") === s, r).otherwise(acc)
    }
    documents(spark, dir)
      .withColumn("u",
        expr(s"${Exprs.hash60("cast(doc_id as string)")} % 10000"))
      .withColumn("keep", (col("u") < rate).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        sum(col("keep") * col("doc_id")).as("sum_kept_ids"))
      .orderBy("source")
  }

  val sourceSampleSql: String = {
    val cases = RatesBp
      .map { case (s, r) => s"WHEN source = '$s' THEN $r" }
      .mkString(" ")
    s"""WITH a AS (
       |  SELECT source, doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 10000 AS u,
       |    CASE $cases ELSE $DefaultRateBp END AS rate
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN u < rate THEN doc_id ELSE 0 END) AS BIGINT)
       |    AS sum_kept_ids
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // q106 deterministic exact-k per-group sampling
  // ---------------------------------------------------------------

  /** Per-source sample size — the eval-slice / debug-sample knob. */
  private val GroupSampleK = 50

  /** q106: EXACT-k deterministic sampling per source — keep each
    * source's [[GroupSampleK]] documents with the smallest 50-bit
    * content-id hash. The determinized reservoir sample: q90's rate
    * sampling keeps a deterministic FRACTION (count varies with N);
    * this keeps an exact COUNT per group (eval slices, debug samples,
    * per-domain caps), still reproducible across re-runs, backfills,
    * and repartitionings because membership depends only on the hash
    * order, never on arrival order.
    *
    * Scale shape: the ranking is the bounded-heap TopKAgg, so each
    * map task reduces its slice to <= 2k rows per source BEFORE the
    * shuffle and nothing ever sorts a full group — the same two-phase
    * geometry as the ANN rankers, vs. the row_number window that
    * funnels every group through one sorting partition. The hash is
    * truncated to 50 bits so its negation is EXACT in the aggregate's
    * double sort key (2^50 < 2^53); a 50-bit collision (~1e-6 at 60k
    * docs) ties identically in both engines via the doc_id
    * tiebreak. */
  def groupSample(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("source"), col("doc_id"),
        expr(s"${Exprs.hash60("cast(doc_id as string)")} % ${1L << 50}")
          .as("hk"))
      .groupBy(col("source"))
      .agg(graft.functions.TopK.topK(GroupSampleK)(
        -col("hk").cast("double"), col("doc_id")).as("tk"))
      .select(col("source"), explode(col("tk")).as("s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("s.vec_id")).as("sum_kept_ids"))
      .orderBy("source")
  }

  val groupSampleSql: String =
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % ${1L << 50} AS hk
       |  FROM documents),
       |r AS (SELECT source, doc_id,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY hk ASC, doc_id ASC) AS rn
       |      FROM h)
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
       |FROM r WHERE rn <= $GroupSampleK GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q110 sequence packing (concat-and-chunk, distributed prefix sum)
  // ---------------------------------------------------------------

  /** Training context window (tokens) and prefix-sum bucket width
    * (documents per bucket). */
  private val PackWindow = 512
  private val PackBucket = 1024L

  /** q110: sequence packing — the step that turns a curated corpus
    * into fixed-length training sequences: documents are concatenated
    * in deterministic (doc_id) order and chunked into
    * [[PackWindow]]-token windows (GPT-style concat-and-chunk). The
    * digest reports, per language, how many documents straddle a
    * window boundary (the cross-document-attention share packing
    * analyses care about), plus the corpus-wide sequence count.
    *
    * Scale shape: every document needs its global token OFFSET — a
    * corpus-wide prefix sum, which a naive
    * `Window.orderBy(doc_id)` computes by funneling ALL rows through
    * ONE sorted partition. This is the textbook TWO-LEVEL prefix sum
    * instead: (1) documents bucket by doc_id range ([[PackBucket]]
    * per bucket), in-bucket cumulative sums run as a window
    * PARTITIONED by bucket (parallel across buckets); (2) per-bucket
    * totals form a buckets-count-sized table whose own prefix sum is
    * trivially cheap, broadcast back as each bucket's base offset.
    * No corpus-wide sort, no single-partition stage; the oracle's
    * plain windowed cumsum produces identical offsets. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .withColumn("bucket", (col("doc_id") / PackBucket).cast("long"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = t.withColumn("cum", sum(col("n")).over(wIn))
    // bucket-offset table: one row per PackBucket documents — tiny
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = t.groupBy(col("bucket")).agg(sum(col("n")).as("bt"))
      .withColumn("off", sum(col("bt")).over(wB) - col("bt"))
      .select(col("bucket"), col("off"))
    val total = t.agg(sum(col("n")).as("total"))
      .select(ceil(col("total") / lit(PackWindow.toDouble)).cast("long")
        .as("n_sequences"))
    inBucket.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start", col("off") + col("cum") - col("n"))
      .withColumn("straddles",
        (floor(col("start") / PackWindow) =!=
          floor((col("start") + col("n") - 1) / PackWindow)).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("straddles")).as("n_straddling"))
      .crossJoin(broadcast(total))
      .orderBy("lang")
  }

  val sequencePackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    len(string_split_regex(trim(text), '\\s+')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n,
       |    sum(n) OVER (ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n AS start
       |  FROM t),
       |tot AS (SELECT CAST(ceil(sum(n) / ${PackWindow.toDouble})
       |                    AS BIGINT) AS n_sequences FROM t)
       |SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN start // $PackWindow
       |                     <> (start + n - 1) // $PackWindow
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
       |  n_sequences
       |FROM c, tot GROUP BY lang, n_sequences ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q113 overlapping chunking (RAG / embedding window prep)
  // ---------------------------------------------------------------

  /** Chunk geometry: [[ChunkTokens]]-token windows advancing by
    * [[ChunkStride]] tokens (16-token overlap) — the
    * retrieval-embedding prep shape. */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** q113: overlapping text chunking — the step that turns documents
    * into retrieval/embedding units: fixed-size token windows with
    * overlap, each chunk re-joined to text (what an embedding model
    * would consume). Digest per language: chunk count, full-window
    * share, token sum, and an order-insensitive xor digest of the
    * chunk texts (pins the actual chunk CONTENT cross-engine, not
    * just the counts).
    *
    * Scale shape: `sequence()` + `explode` fans each document into
    * its ~n/stride window starts INSIDE the scan-project stage —
    * embarrassingly parallel, no shuffle until the tiny per-language
    * rollup, and the fan-out factor is bounded by the document's own
    * token count (no corpus-wide state). This is the generator-
    * expression form of a chunker: at 100 TB the chunk stream never
    * materializes anywhere except as the map-side input to the
    * digest aggregate (or, in the real pipeline, the embedding
    * model's input iterator). */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("lang"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("lang"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(ChunkStride)))
          .as("start"))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(ChunkTokens))))
      .withColumn("clen", least(lit(ChunkTokens), col("n") - col("start")))
      .withColumn("h", expr(Exprs.hash60("chunk_text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("clen") === ChunkTokens, 1L).otherwise(0L))
          .as("n_full"),
        sum(col("clen")).as("sum_tokens"),
        expr("bit_xor(h)").as("content_digest"))
      .orderBy("lang")
  }

  val chunkSql: String =
    s"""WITH t AS (
       |  SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT lang, toks, len(toks) AS n,
       |    unnest(generate_series(0, len(toks) - 1, $ChunkStride)) AS start
       |  FROM t),
       |c AS (
       |  SELECT lang,
       |    array_to_string(
       |      list_slice(toks, start + 1, least(start + $ChunkTokens, n)), ' ')
       |      AS chunk_text,
       |    least($ChunkTokens, n - start) AS clen
       |  FROM s)
       |SELECT lang, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN clen = $ChunkTokens THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_full,
       |  CAST(sum(clen) AS BIGINT) AS sum_tokens,
       |  bit_xor(('0x' || substr(md5(chunk_text), 1, 15))::BIGINT)
       |    AS content_digest
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q114 deterministic corpus shuffle + shard assignment
  // ---------------------------------------------------------------

  /** Shard fan-out and the seed baked into the permutation hash —
    * changing the seed string is a new epoch's shuffle. */
  private val ShuffleShards = 8L
  private val ShuffleSeed = "epoch0"

  /** q114: deterministic corpus shuffle — the training-order
    * randomization step: every document gets a GLOBAL position in a
    * seeded pseudo-random permutation (order of the seeded 60-bit
    * hash), then round-robins into [[ShuffleShards]] shards — the
    * interleave a data loader reads. Reproducible: position depends
    * only on (seed, doc_id), so re-runs, retries, and repartitionings
    * produce byte-identical shards, and a new seed is a new epoch.
    *
    * Scale shape: the naive form is `row_number() OVER (ORDER BY
    * hash)` — a corpus-wide single-partition sort. This is the q110
    * two-level decomposition instead, with the bucket as the TOP 10
    * BITS of the hash (a RANGE prefix of the sort key, so bucket
    * order IS hash order): in-bucket ranks run as a window
    * partitioned by bucket (parallel across 1024 buckets, uniform by
    * hash construction), bucket totals prefix-sum into base offsets
    * on a 1024-row table, and the digest pins the exact
    * position->document assignment cross-engine via an
    * order-insensitive xor of (pos, doc_id) hashes. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = documents(spark, dir).select(col("doc_id"))
      .withColumn("hk", expr(Exprs.hash60(
        s"concat('$ShuffleSeed:', cast(doc_id as string))")))
      .withColumn("bucket", shiftright(col("hk"), 50))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("hk"), col("doc_id"))
    val inB = t.withColumn("rn", row_number().over(wIn))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = t.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("off", sum(col("bn")).over(wB) - col("bn"))
      .select(col("bucket"), col("off"))
    inB.join(broadcast(offsets), Seq("bucket"))
      .withColumn("pos", col("off") + col("rn") - 1)
      .withColumn("shard", col("pos") % ShuffleShards)
      .withColumn("ph", expr(Exprs.hash60(
        "concat(cast(pos as string), ':', cast(doc_id as string))")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos")).as("sum_pos"),
        expr("bit_xor(ph)").as("perm_digest"))
      .orderBy("shard")
  }

  val corpusShuffleSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)),
       |     1, 15))::BIGINT AS hk
       |  FROM documents),
       |p AS (SELECT doc_id,
       |        row_number() OVER (ORDER BY hk, doc_id) - 1 AS pos
       |      FROM h),
       |d AS (SELECT pos % $ShuffleShards AS shard, pos, doc_id,
       |        ('0x' || substr(md5(CAST(pos AS VARCHAR) || ':' ||
       |         CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ph
       |      FROM p)
       |SELECT shard, count(*) AS n_docs, CAST(sum(pos) AS BIGINT) AS sum_pos,
       |  bit_xor(ph) AS perm_digest
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q115 data-mixture token-budget allocation
  // ---------------------------------------------------------------

  /** q115: mixture allocation — the step that decides HOW MUCH of
    * each source a training run samples: sources carry class weights
    * (web-like 4 : books-like 3 : code-like 2 : wiki-like 1, classed
    * by source index % 4, split evenly inside a class), the run has a
    * token budget (half the corpus), and each source's allocation is
    * capped water-filling: round 1 gives every source
    * `budget * weight`, capped at what it actually has; round 2
    * redistributes the leftover to the uncapped sources
    * proportionally to weight, capped again. The digest is the
    * per-source allocation and sampling rate — what a mixture config
    * feeds back into [[sourceSample]]-style rate filters.
    *
    * Exactness: every allocation step is INTEGER arithmetic —
    * `(budget * class_weight) div (10 * class_size)` — so there is no
    * cross-engine float-sum drift anywhere a floor could flip; the
    * only double is the final reported rate, one division rounded to
    * 6dp. Scale shape: one corpus scan reduces to a sources-sized
    * table; everything after (class sizes, budget, leftover,
    * uncapped-weight total) is broadcast scalars over that tiny
    * table. */
  def mixtureAlloc(spark: SparkSession, dir: String): DataFrame = {
    val avail = documents(spark, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("available"))
      .withColumn("cls", expr("cast(substr(source, 4) as int) % 4"))
      .withColumn("cw",
        when(col("cls") === 0, 4L).when(col("cls") === 1, 3L)
          .when(col("cls") === 2, 2L).otherwise(1L))
    val clsSize = avail.groupBy(col("cls"))
      .agg(count(lit(1)).as("n_cls"))
    val budget = avail.agg(expr("sum(available) div 2").as("budget"))
    val r1 = avail.join(broadcast(clsSize), Seq("cls"))
      .crossJoin(broadcast(budget))
      .withColumn("want",
        expr("(budget * cw) div (10 * n_cls)"))
      .withColumn("alloc1", least(col("available"), col("want")))
      .withColumn("uncapped", col("alloc1") < col("available"))
    val tot = r1.agg(sum(col("alloc1")).as("sum1"),
      sum(when(col("uncapped"), col("cw")).otherwise(0L)).as("w_unc"))
    r1.crossJoin(broadcast(tot))
      .withColumn("extra",
        when(col("uncapped") && col("w_unc") > 0,
          expr("((budget - sum1) * cw) div w_unc")).otherwise(0L))
      .withColumn("alloc",
        least(col("available"), col("alloc1") + col("extra")))
      .withColumn("rate",
        round(col("alloc").cast("double") / col("available"), 6))
      .select(col("source"), col("cls").cast("long").as("cls"),
        col("available"), col("alloc"), col("rate"))
      .orderBy("source")
  }

  val mixtureAllocSql: String =
    """WITH avail AS (
      |  SELECT source,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS available,
      |    CAST(substr(source, 4) AS INT) % 4 AS cls
      |  FROM documents GROUP BY source),
      |aw AS (SELECT *, CASE cls WHEN 0 THEN 4 WHEN 1 THEN 3
      |                          WHEN 2 THEN 2 ELSE 1 END AS cw
      |       FROM avail),
      |cs AS (SELECT cls, count(*) AS n_cls FROM aw GROUP BY 1),
      |b AS (SELECT CAST(sum(available) // 2 AS BIGINT) AS budget FROM aw),
      |r1 AS (
      |  SELECT aw.*, cs.n_cls, b.budget,
      |    least(available, (budget * cw) // (10 * n_cls)) AS alloc1,
      |    least(available, (budget * cw) // (10 * n_cls)) < available
      |      AS uncapped
      |  FROM aw JOIN cs USING (cls) CROSS JOIN b),
      |t AS (SELECT sum(alloc1) AS sum1,
      |        sum(CASE WHEN uncapped THEN cw ELSE 0 END) AS w_unc
      |      FROM r1)
      |SELECT source, CAST(cls AS BIGINT) AS cls, available,
      |  CAST(least(available, alloc1 + CASE
      |    WHEN uncapped AND w_unc > 0
      |    THEN ((budget - sum1) * cw) // w_unc ELSE 0 END) AS BIGINT)
      |    AS alloc,
      |  round(CAST(least(available, alloc1 + CASE
      |    WHEN uncapped AND w_unc > 0
      |    THEN ((budget - sum1) * cw) // w_unc ELSE 0 END) AS DOUBLE)
      |    / available, 6) AS rate
      |FROM r1 CROSS JOIN t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q125 shuffled sequence packing (q114's order into q110's windows)
  // ---------------------------------------------------------------

  /** q125: shuffled packing — the composition a training-data layout
    * job actually ships: documents take their GLOBAL position in the
    * q114 seeded permutation (training-order randomization), then
    * concat-and-chunk into q110's fixed context windows IN THAT
    * ORDER. Per language the digest counts window-straddling
    * documents — under a shuffle the straddle pattern is a property
    * of the permutation, so the digest pins that both machines walk
    * the SAME order — plus the corpus sequence count.
    *
    * Scale shape: one two-level prefix sum does both jobs at once —
    * the bucket is the TOP 10 BITS of the seeded hash (range prefix
    * of the permutation order, the q114 trick), in-bucket cumulative
    * TOKEN sums run partitioned by bucket (the q110 trick), and the
    * buckets-sized offset table broadcasts back. No corpus-wide
    * sort, no single-partition window, and composing the two
    * operators costs no extra shuffle over q110 alone. */
  def shuffledPack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .withColumn("hk", expr(Exprs.hash60(
        s"concat('$ShuffleSeed:', cast(doc_id as string))")))
      .withColumn("bucket", shiftright(col("hk"), 50))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = t.withColumn("cum", sum(col("n")).over(wIn))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = t.groupBy(col("bucket")).agg(sum(col("n")).as("bt"))
      .withColumn("off", sum(col("bt")).over(wB) - col("bt"))
      .select(col("bucket"), col("off"))
    val total = t.agg(sum(col("n")).as("total"))
      .select(ceil(col("total") / lit(PackWindow.toDouble)).cast("long")
        .as("n_sequences"))
    inBucket.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start", col("off") + col("cum") - col("n"))
      .withColumn("straddles",
        (floor(col("start") / PackWindow) =!=
          floor((col("start") + col("n") - 1) / PackWindow)).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("straddles")).as("n_straddling"))
      .crossJoin(broadcast(total))
      .orderBy("lang")
  }

  val shuffledPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    len(string_split_regex(trim(text), '\\s+')) AS n,
       |    ('0x' || substr(md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)),
       |     1, 15))::BIGINT AS hk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n,
       |    sum(n) OVER (ORDER BY hk, doc_id
       |      ROWS UNBOUNDED PRECEDING) - n AS start
       |  FROM t),
       |tot AS (SELECT CAST(ceil(sum(n) / ${PackWindow.toDouble})
       |                    AS BIGINT) AS n_sequences FROM t)
       |SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN start // $PackWindow
       |                     <> (start + n - 1) // $PackWindow
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
       |  n_sequences
       |FROM c, tot GROUP BY lang, n_sequences ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q118 training-example assembly from event logs
  // ---------------------------------------------------------------

  /** Per-example event cap — the context-window truncation. */
  private val AssembleMaxEvents = 32

  /** q118: example assembly — the SFT/agent-trace data-build step
    * that turns a keyed event log into one training example per key:
    * each user's events sort by (ts, event_id), truncate to the first
    * [[AssembleMaxEvents]], render to a compact `type@value` line, and
    * join into the example string a tokenizer would consume. The
    * digest groups by assembled length and xors example-text hashes,
    * so ORDER, TRUNCATION, and RENDERING are all pinned cross-engine
    * (any swap of two events flips the digest).
    *
    * Scale shape: one shuffle of (user, event-struct) into a
    * grouped aggregate; `sort_array` + `slice` sort each group's OWN
    * events (bounded by the per-user history, not the corpus — the
    * inherent cost of materializing an example) and rendering is
    * scan-stage. Values render as integer cents, never raw doubles —
    * engines do not agree on float-to-string formatting. */
  /** The assembled (user_id, n_events, example) table — the actual
    * examples, before the digest rollup (spec surface). */
  private[queries] def assembled(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          concat(col("event_type"), lit("@"),
            round(col("value") * 100).cast("long").cast("string"))
            .as("s")).as("e"))
      .groupBy(col("user_id"))
      .agg(slice(sort_array(collect_list(col("e"))), 1, AssembleMaxEvents)
        .as("es"))
      .withColumn("example",
        concat_ws(" | ", expr("transform(es, x -> x.s)")))
      .withColumn("n_events", size(col("es")).cast("long"))
      .select(col("user_id"), col("n_events"), col("example"))

  def assembleExamples(spark: SparkSession, dir: String): DataFrame = {
    assembled(spark, dir)
      .withColumn("bucket", col("user_id") % 4)
      .withColumn("h", expr(Exprs.hash60("example")))
      .groupBy(col("bucket"), col("n_events"))
      .agg(count(lit(1)).as("n_examples"),
        sum(length(col("example"))).as("sum_chars"),
        expr("bit_xor(h)").as("content_digest"))
      .orderBy("bucket", "n_events")
  }

  val assembleExamplesSql: String =
    s"""WITH e AS (
       |  SELECT user_id, ts, event_id,
       |    event_type || '@' ||
       |      CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS s,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |a AS (
       |  SELECT user_id, user_id % 4 AS bucket, count(*) AS n_events,
       |    string_agg(s, ' | ' ORDER BY ts, event_id) AS example
       |  FROM e WHERE rn <= $AssembleMaxEvents GROUP BY user_id)
       |SELECT bucket, n_events, count(*) AS n_examples,
       |  CAST(sum(length(example)) AS BIGINT) AS sum_chars,
       |  bit_xor(('0x' || substr(md5(example), 1, 15))::BIGINT)
       |    AS content_digest
       |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q130 single-pass column profiling (corpus health)
  // ---------------------------------------------------------------

  private val ProfileCols = Seq("doc_id", "lang", "source", "text", "n_chars")

  /** q130: data profiling — per-column completeness (non-null
    * fraction) and distinctness (distinct/total) over the documents
    * table, the deequ-style health check a pipeline runs on every
    * incoming drop before anything downstream trusts it.
    *
    * Scale shape: ALL per-column metrics compute in ONE corpus scan —
    * a single aggregate carrying null-counts and distinct-counts for
    * every profiled column, then a 1-row `stack` unpivot into the
    * per-column report. Multiple exact `count(distinct)` in one
    * aggregate plan through Catalyst's Expand (scan cost ×
    * #profiled-columns before the partial aggregate); at 100 TB the
    * dial is `approx_count_distinct` per column, which drops the
    * Expand entirely (the q22/q107 exact-vs-approx convention —
    * exact here so the oracle can mirror it). */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val aggs = count(lit(1)).as("n_rows") +:
      ProfileCols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct")) }
    val stackArgs = ProfileCols
      .map(c => s"'$c', ${c}__nulls, ${c}__distinct").mkString(", ")
    docs.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"),
        expr(s"stack(${ProfileCols.size}, $stackArgs)")
          .as(Seq("col_name", "n_nulls", "n_distinct")))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"),
        round(lit(1.0) -
          col("n_nulls").cast("double") / col("n_rows"), 4)
          .as("completeness"),
        round(col("n_distinct").cast("double") / col("n_rows"), 4)
          .as("distinctness"))
      .orderBy("col_name")
  }

  val profileSql: String = {
    val perCol = ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  round(1.0 - CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 4) AS completeness,
         |  round(CAST(count(DISTINCT $c) AS DOUBLE) / count(*), 4)
         |    AS distinctness
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$perCol\nORDER BY col_name"
  }

  // ---------------------------------------------------------------
  // q134 robust outlier detection (median / MAD)
  // ---------------------------------------------------------------

  /** q134: robust per-group outlier detection over the event stream —
    * the data-quality gate that survives the outliers it hunts:
    * median and MAD (median absolute deviation) instead of mean/std,
    * because one corrupt 1e12 value drags a mean-based z-score's own
    * baseline but leaves the median untouched. A value is flagged
    * when |x - median| > 3 * 1.4826 * MAD (the Gaussian-consistent
    * robust z-score; 1.4826 makes MAD estimate sigma under
    * normality). Per event type: count, outlier count, the two
    * statistics, and an xor fingerprint of the flagged event ids.
    *
    * Both medians are ROUNDED to 6 decimals before any downstream
    * arithmetic so the flag threshold is bit-identical cross-engine.
    *
    * Scale shape: two grouped exact-percentile passes (median, then
    * MAD over deviations) with the tiny per-type statistic table
    * broadcast back between them, then the flagging is a scan-stage
    * predicate — the q107 convention: exact percentile so the oracle
    * mirrors every value; `approx_percentile` is the one-line 100 TB
    * dial that collapses each pass to map-side sketches. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", round(abs(col("value") - col("med")), 6))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(dev, 0.5)"), 6).as("mad"),
        min(col("med")).as("med"))
    dev.drop("med").join(broadcast(mad), "event_type")
      .withColumn("is_out",
        (col("dev") > lit(3 * 1.4826) * col("mad")).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("is_out")).as("n_outliers"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        coalesce(expr("bit_xor(CASE WHEN is_out = 1 THEN " +
          Exprs.hash60("cast(event_id as string)") + " END)"), lit(0L))
          .as("outlier_digest"))
      .orderBy("event_type")
  }

  val robustOutliersSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, value FROM events
      |  WHERE value IS NOT NULL),
      |m AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM e GROUP BY 1),
      |d AS (
      |  SELECT e.event_id, e.event_type,
      |    round(abs(e.value - m.med), 6) AS dev, m.med
      |  FROM e JOIN m USING (event_type)),
      |s AS (
      |  SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad,
      |    min(med) AS med
      |  FROM d GROUP BY 1),
      |o AS (
      |  SELECT d.event_type, d.event_id, s.med, s.mad,
      |    CASE WHEN d.dev > 3 * 1.4826 * s.mad THEN 1 ELSE 0 END AS is_out
      |  FROM d JOIN s USING (event_type))
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(is_out) AS BIGINT) AS n_outliers,
      |  min(med) AS med, min(mad) AS mad,
      |  coalesce(bit_xor(CASE WHEN is_out = 1 THEN
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
      |    END), 0) AS outlier_digest
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q139 length-bucketed batch assembly (padding-waste minimization)
  // ---------------------------------------------------------------

  /** q139: length-bucketed batch assembly — the inference/training
    * serving layout that minimizes padding: sequences are grouped
    * into power-of-two length buckets, ordered by (length, doc_id)
    * within each bucket, and cut into fixed 32-sequence batches; each
    * batch pads every member to its own max length, so the digest's
    * padding-waste and fill-rate quantify exactly what naive
    * arrival-order batching would burn. The bucket index uses the
    * BINARY LENGTH of the token count (= floor(log2)+1), never float
    * log2 — engines disagree on log(x)/log(2) ULPs at power-of-two
    * boundaries, and a one-ULP flip moves a sequence across buckets.
    *
    * Scale shape: the q110/q114 two-level rank — row_number
    * partitioned by (bucket, length) (parallel, each partition is one
    * length class) plus a broadcast (bucket, length)-level offset
    * table (bounded by the number of DISTINCT lengths, not the
    * corpus) — no per-bucket global sort, no single-partition window.
    * Batch stats then reduce per (bucket, batch) and the report is
    * buckets-sized. */
  def lengthBatches(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .withColumn("lb", (length(bin(col("n"))) - 1).cast("long"))
    val wIn = Window.partitionBy(col("lb"), col("n")).orderBy(col("doc_id"))
    val wOff = Window.partitionBy(col("lb")).orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = t.groupBy(col("lb"), col("n"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", sum(col("c")).over(wOff) - col("c"))
      .select(col("lb"), col("n"), col("off"))
    val batches = t
      .withColumn("rin", row_number().over(wIn))
      .join(broadcast(offs), Seq("lb", "n"))
      .withColumn("batch", floor((col("off") + col("rin") - 1) / 32))
      .groupBy(col("lb"), col("batch"))
      .agg(count(lit(1)).as("n_seqs"), max(col("n")).as("max_len"),
        sum(col("n")).as("sum_len"))
    batches
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(lb as string), ':', cast(batch as string), ':', " +
          "cast(max_len as string), ':', cast(n_seqs as string))")))
      .groupBy(col("lb"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("n_seqs")).as("n_seqs"),
        sum(col("sum_len")).as("sum_tokens"),
        sum(col("max_len") * col("n_seqs") - col("sum_len"))
          .as("sum_padding"),
        round(sum(col("sum_len")).cast("double") /
          sum(col("max_len") * col("n_seqs")), 6).as("fill_rate"),
        expr("bit_xor(h)").as("batch_digest"))
      .orderBy("lb")
  }

  val lengthBatchesSql: String =
    """WITH t AS (
      |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
      |  FROM documents),
      |l AS (SELECT doc_id, n, length(bin(n)) - 1 AS lb FROM t),
      |r AS (
      |  SELECT lb, n,
      |    row_number() OVER (PARTITION BY lb ORDER BY n, doc_id) AS rnk
      |  FROM l),
      |b AS (
      |  SELECT lb, (rnk - 1) // 32 AS batch, count(*) AS n_seqs,
      |    max(n) AS max_len, sum(n) AS sum_len
      |  FROM r GROUP BY 1, 2)
      |SELECT lb, count(*) AS n_batches,
      |  CAST(sum(n_seqs) AS BIGINT) AS n_seqs,
      |  CAST(sum(sum_len) AS BIGINT) AS sum_tokens,
      |  CAST(sum(max_len * n_seqs - sum_len) AS BIGINT) AS sum_padding,
      |  round(CAST(sum(sum_len) AS DOUBLE) / sum(max_len * n_seqs), 6)
      |    AS fill_rate,
      |  bit_xor(('0x' || substr(md5(
      |    CAST(lb AS VARCHAR) || ':' || CAST(batch AS VARCHAR) || ':' ||
      |    CAST(max_len AS VARCHAR) || ':' || CAST(n_seqs AS VARCHAR)),
      |    1, 15))::BIGINT) AS batch_digest
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q143 temperature-scaled source sampling (alpha = 0.5)
  // ---------------------------------------------------------------

  /** q143: temperature-scaled multinomial source sampling — the
    * multilingual-training rebalancing rule (mBERT/XLM-R exponential
    * smoothing): sample sources proportionally to w^alpha instead of
    * w, so head sources shrink and tail sources grow. alpha = 0.5 via
    * INTEGER sqrt (floor(sqrt(tokens)) — sqrt of an integer is
    * correctly-rounded IEEE, so its floor is deterministic), then the
    * whole chain — budget (half the corpus), per-source target
    * tokens, per-million keep rate — is integer arithmetic: no float
    * pow/sum whose accumulation order could flip a rate's last ULP
    * between engines. (At 100 TB the rate products approach int64;
    * the dial is 128-bit/decimal intermediates — the shape stays.)
    *
    * Scale shape: one corpus scan for per-source token totals
    * (sources-sized table), rates derived on that tiny table; the
    * keep decision is a deterministic per-row hash filter in the scan
    * stage, exactly like q90 — reproducible, re-runs and backfills
    * keep the same rows. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val t = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
    val perSrc = t.groupBy(col("source"))
      .agg(sum(col("n")).as("tok"), count(lit(1)).as("n_docs"))
      .withColumn("isq", expr("cast(floor(sqrt(tok)) as bigint)"))
    val scal = perSrc.agg(sum(col("isq")).as("w_sum"),
      sum(col("tok")).as("all_toks"))
    val rates = perSrc.crossJoin(broadcast(scal))
      .withColumn("target",
        expr("((all_toks div 2) * isq) div w_sum"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("(target * 1000000) div tok")))
      .select(col("source"), col("n_docs"), col("tok"), col("rate_ppm"))
    t.join(broadcast(rates), "source")
      .withColumn("u", expr(
        s"${Exprs.hash60("concat('t:', cast(doc_id as string))")} % 1000000"))
      .withColumn("keep", (col("u") < col("rate_ppm")).cast("long"))
      .groupBy(col("source"))
      .agg(min(col("n_docs")).as("n_docs"),
        min(col("tok")).as("tok_total"),
        min(col("rate_ppm")).as("rate_ppm"),
        sum(col("keep")).as("n_kept"),
        sum(col("keep") * col("n")).as("kept_toks"),
        coalesce(expr("bit_xor(CASE WHEN keep = 1 THEN " +
          Exprs.hash60("cast(doc_id as string)") + " END)"), lit(0L))
          .as("kept_digest"))
      .orderBy("source")
  }

  val temperatureSampleSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents),
      |ps AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS tok, count(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(sum(n) AS BIGINT))) AS BIGINT) AS isq
      |  FROM t GROUP BY 1),
      |sc AS (SELECT CAST(sum(isq) AS BIGINT) AS w_sum,
      |              CAST(sum(tok) AS BIGINT) AS all_toks FROM ps),
      |r AS (
      |  SELECT source, n_docs, tok,
      |    least(1000000,
      |      (((all_toks // 2) * isq) // w_sum) * 1000000 // tok)
      |      AS rate_ppm
      |  FROM ps, sc),
      |k AS (
      |  SELECT t.source, t.doc_id, t.n, r.n_docs, r.tok, r.rate_ppm,
      |    CASE WHEN ('0x' || substr(md5('t:' || CAST(t.doc_id AS VARCHAR)),
      |      1, 15))::BIGINT % 1000000 < r.rate_ppm THEN 1 ELSE 0 END AS keep
      |  FROM t JOIN r USING (source))
      |SELECT source, min(n_docs) AS n_docs,
      |  CAST(min(tok) AS BIGINT) AS tok_total,
      |  CAST(min(rate_ppm) AS BIGINT) AS rate_ppm,
      |  CAST(sum(keep) AS BIGINT) AS n_kept,
      |  CAST(sum(keep * n) AS BIGINT) AS kept_toks,
      |  coalesce(bit_xor(CASE WHEN keep = 1 THEN
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |    END), 0) AS kept_digest
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q150 quality-vs-duplication lift
  // ---------------------------------------------------------------

  /** q150: quality-signal validation against duplication — per
    * quality bucket, how much likelier is a document to be a verified
    * near-dup member than the corpus average? The calibration check a
    * pipeline runs before TRUSTING a heuristic score: if boilerplate
    * (which near-dup mining catches lexically) does not concentrate
    * in the buckets the quality score already punishes, the two
    * signals are measuring different things and the gate thresholds
    * need re-examining. Lift = bucket dup-rate / overall dup-rate.
    *
    * Scale shape: quality is the shared q51 scan-stage projection;
    * dup membership is a semi-join flag against the id set of the
    * MEMOIZED verified pair table (duplicate-cluster-sized — mined
    * once, consumed here a fourth time); the lift table is 10 rows
    * with a 1-row overall aggregate broadcast back. Buckets are
    * fixed-width on the rounded score (floor(q*10)) — identical IEEE
    * arithmetic on identical rounded inputs, no percentile pass
    * needed. */
  def qualityDupLift(spark: SparkSession, dir: String): DataFrame = {
    val dups = Dedup.minhashPairs(spark, dir)
      .select(explode(array(col("ia"), col("ib"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1L))
    val flagged = TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(dups, Seq("doc_id"), "left")
      .withColumn("qb", least(floor(col("quality") * 10), lit(9L))
        .cast("long"))
      .withColumn("dup", coalesce(col("is_dup"), lit(0L)))
    val overall = flagged.agg(
      (sum(col("dup")).cast("double") / count(lit(1))).as("base_rate"))
    flagged.groupBy(col("qb"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_dup"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .crossJoin(broadcast(overall))
      .select(col("qb"), col("n_docs"), col("n_dup"), col("avg_quality"),
        round(col("n_dup").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        when(col("base_rate") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("n_dup").cast("double") / col("n_docs")) /
              col("base_rate"), 4)).as("lift"))
      .orderBy("qb")
  }

  val qualityDupLiftSql: String =
    s"""WITH ${TextAnalysis.scoredDocsSqlCtes},
       |${graft.queries.Dedup.duckVerifiedPairCtes},
       |dup AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT ia AS doc_id FROM pairs
       |    UNION ALL SELECT ib FROM pairs)),
       |fl AS (
       |  SELECT q.doc_id,
       |    least(CAST(floor(q.quality * 10) AS BIGINT), 9) AS qb,
       |    q.quality,
       |    CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS dup
       |  FROM q LEFT JOIN dup ON q.doc_id = dup.doc_id),
       |ov AS (
       |  SELECT CAST(sum(dup) AS DOUBLE) / count(*) AS base_rate FROM fl)
       |SELECT qb, count(*) AS n_docs,
       |  CAST(sum(dup) AS BIGINT) AS n_dup,
       |  round(avg(quality), 4) AS avg_quality,
       |  round(CAST(sum(dup) AS DOUBLE) / count(*), 6) AS dup_rate,
       |  CASE WHEN ov.base_rate = 0 THEN NULL
       |       ELSE round((CAST(sum(dup) AS DOUBLE) / count(*))
       |         / ov.base_rate, 4) END AS lift
       |FROM fl, ov GROUP BY qb, ov.base_rate ORDER BY qb""".stripMargin

  // ---------------------------------------------------------------
  // q154 curriculum ordering layout
  // ---------------------------------------------------------------

  /** q154: curriculum training order — documents laid out
    * easiest-first (descending quality bucket), RANDOMIZED within
    * each difficulty band by the deterministic seeded hash (the q114
    * epoch discipline: same seed, same order, across re-runs and
    * partitionings). The global position of every document comes from
    * a THREE-level prefix sum — (bucket, hash-range sub-bucket)
    * windows + a sub-bucket offset table + a bucket offset table,
    * both broadcast-sized — so NO corpus-wide sort and no
    * single-partition window ever runs (a per-bucket window alone
    * would still sort corpus/10 rows in one partition). Digest: per
    * difficulty band, its size, its exact [min_pos, max_pos] range
    * (proving bands are contiguous and ordered), and an xor over
    * (doc, position) pairs pinning the entire permutation.
    *
    * Scale shape: one quality scan, one (qb, hb)-partitioned
    * window over ~10x1024 independent partitions, two tiny offset
    * tables broadcast back. The oracle's single global ORDER BY is
    * the semantic mirror, not the plan. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("quality"))
      .withColumn("qb", least(floor(col("quality") * 10), lit(9L))
        .cast("long"))
      .withColumn("ok", expr(Exprs.hash60(
        "concat('curr1:', cast(doc_id as string))")))
      .withColumn("hb", expr("ok div 1125899906842624")) // 2^50 -> 1024
    val wIn = Window.partitionBy(col("qb"), col("hb"))
      .orderBy(col("ok"), col("doc_id"))
    val wHb = Window.partitionBy(col("qb")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val subOff = t.groupBy(col("qb"), col("hb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("boff", sum(col("c")).over(wHb) - col("c"))
      .select(col("qb"), col("hb"), col("boff"))
    val wQb = Window.orderBy(col("qb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qbOff = t.groupBy(col("qb")).agg(count(lit(1)).as("qc"))
      .withColumn("qoff", sum(col("qc")).over(wQb) - col("qc"))
      .select(col("qb"), col("qoff"))
    t.withColumn("rin", row_number().over(wIn))
      .join(broadcast(subOff), Seq("qb", "hb"))
      .join(broadcast(qbOff), Seq("qb"))
      .withColumn("pos", col("qoff") + col("boff") + col("rin") - 1)
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(doc_id as string), '@', cast(pos as string))")))
      .groupBy(col("qb"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
        expr("bit_xor(h)").as("order_digest"))
      .orderBy(col("qb").desc)
  }

  val curriculumOrderSql: String =
    s"""WITH ${TextAnalysis.scoredDocsSqlCtes},
       |o AS (
       |  SELECT doc_id,
       |    least(CAST(floor(quality * 10) AS BIGINT), 9) AS qb,
       |    ('0x' || substr(md5('curr1:' || CAST(doc_id AS VARCHAR)),
       |      1, 15))::BIGINT AS ok
       |  FROM q),
       |p AS (
       |  SELECT doc_id, qb,
       |    row_number() OVER (ORDER BY qb DESC, ok, doc_id) - 1 AS pos
       |  FROM o)
       |SELECT qb, count(*) AS n_docs,
       |  CAST(min(pos) AS BIGINT) AS min_pos,
       |  CAST(max(pos) AS BIGINT) AS max_pos,
       |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '@' ||
       |    CAST(pos AS VARCHAR)), 1, 15))::BIGINT) AS order_digest
       |FROM p GROUP BY 1 ORDER BY 1 DESC""".stripMargin

  // ---------------------------------------------------------------
  // q155 functional-dependency discovery (g3 error)
  // ---------------------------------------------------------------

  /** q155: approximate functional-dependency profiling — for each
    * candidate FD `LHS -> RHS`, does the data obey it, and if not,
    * how far off is it? The error measure is the standard g3
    * (Kivinen & Mannila): the minimum number of rows to DELETE for
    * the FD to hold exactly = sum over LHS groups of
    * (group size − its majority-RHS count). Key discoveries
    * (`doc_id -> source`, `n_nationkey -> n_name`) must come out
    * exact; behavioral candidates (`source -> lang`) come out
    * approximate with a quantified repair cost — the
    * schema-inference pass a pipeline runs before trusting a column
    * as a join key or a partition label.
    *
    * Scale shape: each candidate is the canonical two-phase profile —
    * one (lhs, rhs) groupBy, one lhs-level reduction, one 1-row
    * rollup; candidates over the same table share the scan. Nothing
    * is quadratic in columns because candidates are DECLARED, not
    * enumerated (lattice search is a driver-side loop over this same
    * kernel). */
  def fdDiscovery(spark: SparkSession, dir: String): DataFrame = {
    def fd(name: String, rows: DataFrame): DataFrame = rows
      .groupBy(col("lhs"), col("rhs")).agg(count(lit(1)).as("c"))
      .groupBy(col("lhs"))
      .agg(sum(col("c")).as("g_rows"), count(lit(1)).as("n_rhs"),
        max(col("c")).as("max_c"))
      .agg(sum(col("g_rows")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("n_rhs") > 1, 1L).otherwise(0L))
          .as("n_violating"),
        sum(col("g_rows") - col("max_c")).as("g3_rows"))
      .select(lit(name).as("fd"), col("n_rows"), col("n_groups"),
        col("n_violating"), col("g3_rows"),
        (col("n_violating") === 0).as("holds"))
    val cands = Seq(
      fd("nation: n_nationkey -> n_name",
        nation(spark, dir).select(
          col("n_nationkey").cast("string").as("lhs"),
          col("n_name").as("rhs"))),
      fd("nation: n_regionkey -> n_name",
        nation(spark, dir).select(
          col("n_regionkey").cast("string").as("lhs"),
          col("n_name").as("rhs"))),
      fd("customer: c_nationkey -> c_mktsegment",
        customer(spark, dir).select(
          col("c_nationkey").cast("string").as("lhs"),
          col("c_mktsegment").as("rhs"))),
      fd("documents: doc_id -> source",
        documents(spark, dir).select(
          col("doc_id").cast("string").as("lhs"), col("source").as("rhs"))),
      fd("documents: source -> lang",
        documents(spark, dir).select(
          col("source").as("lhs"), col("lang").as("rhs"))))
    cands.reduce(_.unionByName(_)).orderBy("fd")
  }

  val fdDiscoverySql: String = {
    def one(name: String, table: String, lhs: String,
        rhs: String): String =
      s"""SELECT '$name' AS fd,
         |  CAST(sum(g_rows) AS BIGINT) AS n_rows,
         |  count(*) AS n_groups,
         |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(sum(g_rows - max_c) AS BIGINT) AS g3_rows,
         |  sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (
         |  SELECT lhs, sum(c) AS g_rows, count(*) AS n_rhs,
         |    max(c) AS max_c
         |  FROM (SELECT CAST($lhs AS VARCHAR) AS lhs, $rhs AS rhs,
         |          count(*) AS c
         |        FROM $table GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    Seq(
      one("nation: n_nationkey -> n_name", "nation", "n_nationkey",
        "n_name"),
      one("nation: n_regionkey -> n_name", "nation", "n_regionkey",
        "n_name"),
      one("customer: c_nationkey -> c_mktsegment", "customer",
        "c_nationkey", "c_mktsegment"),
      one("documents: doc_id -> source", "documents", "doc_id", "source"),
      one("documents: source -> lang", "documents", "source", "lang"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  val all: Map[String, Query] = Map(
    "q88_dedup_clusters" -> Query(dedupClusters, dedupClustersSql),
    "q191_incremental_dedup" -> Query(incrementalDedup, incrementalDedupSql),
    "q213_label_blast_radius" -> Query(labelBlastRadius, labelBlastRadiusSql),
    // the surface changed (warm memos -> versioned store); the answer
    // must not — q213's oracle verbatim
    "q215_snapshot_diff_cold" -> Query(snapshotDiffCold, labelBlastRadiusSql),
    "q195_arrival_decisions" -> Query(arrivalDecisions, arrivalDecisionsSql),
    "q196_retraction_repair" -> Query(retractionRepair, retractionRepairSql),
    "q197_incremental_daily" -> Query(incrementalDaily, incrementalDailySql),
    "q165_leakage_safe_split" -> Query(leakageSafeSplit, leakageSafeSplitSql),
    "q173_snapshot_diff" -> Query(snapshotDiff, snapshotDiffSql),
    "q89_decontaminate" -> Query(decontaminate, decontaminateSql),
    "q90_source_sample" -> Query(sourceSample, sourceSampleSql),
    "q98_span_dedup" -> Query(spanDedup, spanDedupSql),
    "q106_group_sample" -> Query(groupSample, groupSampleSql),
    "q110_sequence_pack" -> Query(sequencePack, sequencePackSql),
    "q113_chunk" -> Query(chunk, chunkSql),
    "q114_corpus_shuffle" -> Query(corpusShuffle, corpusShuffleSql),
    "q115_mixture_alloc" -> Query(mixtureAlloc, mixtureAllocSql),
    "q118_assemble_examples" -> Query(assembleExamples, assembleExamplesSql),
    "q122_quality_keeper" -> Query(qualityKeeper, qualityKeeperSql),
    "q123_corpus_build" -> Query(corpusBuild, corpusBuildSql),
    "q125_shuffled_pack" -> Query(shuffledPack, shuffledPackSql),
    "q130_profile" -> Query(profile, profileSql),
    "q134_robust_outliers" -> Query(robustOutliers, robustOutliersSql),
    "q139_length_batches" -> Query(lengthBatches, lengthBatchesSql),
    "q143_temperature_sample" -> Query(temperatureSample, temperatureSampleSql),
    "q150_quality_dup_lift" -> Query(qualityDupLift, qualityDupLiftSql),
    "q154_curriculum_order" -> Query(curriculumOrder, curriculumOrderSql),
    "q155_fd_discovery" -> Query(fdDiscovery, fdDiscoverySql)
  )
}

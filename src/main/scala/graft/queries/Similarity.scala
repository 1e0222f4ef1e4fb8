package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`).
  *
  * Three shapes, all UDF-free (higher-order `aggregate`/`zip_with`
  * expressions stay inside whole-stage codegen):
  *
  *   - q60 brute-force cosine top-k: the small QUERY side is
  *     broadcast (bounded by [[QueryBudget]]); the corpus side
  *     streams through a narrow projection and each map task reduces
  *     its slice to k rows per query BEFORE the shuffle (bounded-heap
  *     aggregate, [[topkRank]]) — the correct baseline shape at any
  *     corpus size.
  *   - q61 hyperplane-LSH ANN: a 60-bit sign signature from 60
  *     deterministic md5-sign hyperplanes, banded into 5 x 12-bit
  *     keys (the same wide-block geometry as [[Dedup.simhash]]);
  *     candidates = corpus vectors sharing ANY band with the query
  *     (equality join on the (band, value) key, OR-amplified across
  *     bands), then exact cosine top-k. Each band key ranges over
  *     4096 values, so per-query candidates are ~5N/4096 + structured
  *     neighbors — the geometry that survives 1e9 vectors, unlike a
  *     single 16-value bucket key whose candidates are O(N/16).
  *   - q62 label-centroid assignment: element-wise centroid per label
  *     computed distributed (posexplode -> two-phase avg -> array
  *     rebuild), broadcast back, top-3 nearest members per centroid.
  *
  * Cosines are rounded to 4 decimals BEFORE ranking so the top-k
  * cutoff is deterministic across engines (ties broken by vec_id).
  * DuckDB oracles mirror every step value-for-value, including the
  * LSH plane signs (md5-prefix hash parity, see [[Dedup]]).
  */
object Similarity {
  import Tables._

  private val Dim = 64

  /** Two-phase per-group top-k: groupBy(grp) + the bounded-heap
    * [[graft.functions.TopKAgg]] aggregate, then posexplode the k-array
    * back into (grp, rnk, vec_id, cos) rows.
    *
    * Replaces `Window.partitionBy(grp).orderBy(cos desc)` + row_number:
    * the window form funnels EVERY scored row of a group into one
    * partition and fully sorts it there (a 1e9-row single-partition
    * sort per query at corpus scale); the aggregate form reduces each
    * map task's slice to <= 2k entries per group BEFORE the shuffle, so
    * the exchange moves ~2k * numPartitions rows per group and nothing
    * ever sorts the full scored set. Ordering (cos desc, vec_id asc)
    * matches the windows it replaces — results are hash-identical. */
  private def topkRank(scored: DataFrame, grp: String, k: Int): DataFrame =
    scored.groupBy(col(grp))
      .agg(graft.functions.TopK.topK(k)(col("cos"), col("vec_id")).as("tk"))
      .select(col(grp), posexplode(col("tk")).as(Seq("i", "s")))
      .select(col(grp), (col("i") + 1).as("rnk"),
        col("s.vec_id").as("vec_id"), col("s.cos").as("cos"))
      .orderBy(grp, "rnk")

  /** embeddings with double-precision vector + L2 norm. Floats are
    * upcast before any arithmetic so Spark and DuckDB accumulate in
    * the same precision. */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("sqrt(array_dot(v, v))"))

  private[queries] val duckVecs: String =
    """SELECT vec_id, label,
      |  list_transform(embedding, x -> x::DOUBLE) AS v,
      |  sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
      |                        list_transform(embedding, x -> x::DOUBLE))) AS nrm
      |FROM embeddings""".stripMargin

  // ---------------------------------------------------------------
  // q60 brute-force cosine top-k
  // ---------------------------------------------------------------

  /** Hard cap on the broadcast query side of every query-probing
    * similarity op (q60/q61/q64/q70): queries are vec_id % 100 == 0
    * AND vec_id < 100 * QueryBudget, so the broadcast stays a fixed
    * ~100 rows no matter how large the corpus grows (the unbounded
    * `% 100` rule alone grows the query side as N/100 — at 1e9
    * vectors that is a 10M-row "broadcast"). Query sets larger than
    * the budget run as multiple chunked passes of this same plan —
    * each chunk broadcasts, scores, and unions results — which keeps
    * every pass inside broadcast limits without a corpus shuffle. */
  private val QueryBudget = 100

  private def queryPred =
    col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * QueryBudget)

  private val queryPredSql =
    s"vec_id % 100 = 0 AND vec_id < ${100L * QueryBudget}"

  /** Exact cosine top-10 for each query vector ([[queryPred]]).
    * The bounded query side is broadcast; no shuffle of the corpus —
    * each partition scores its vectors against all queries and keeps
    * only its local top-10 per query; the shuffle moves k rows per
    * (query, partition). */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", round(
        expr("array_dot(qv, v)") /
          (col("qn") * col("nrm")), 4))
    topkRank(scored, "qid", 10)
  }

  val cosineTopKSql: String =
    s"""WITH n AS ($duckVecs),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
       |      WHERE $queryPredSql),
       |c AS (SELECT qid, vec_id,
       |        round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
       |      FROM q, n WHERE vec_id != qid),
       |r AS (SELECT qid, vec_id, cos,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM c)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q61 hyperplane-LSH bucketed ANN
  // ---------------------------------------------------------------

  private val SigBits = 60
  private val SigBands = 5
  private val SigBandBits = SigBits / SigBands // 12
  private val SigBandMask = (1L << SigBandBits) - 1 // 4095

  /** Hyperplane component signs, precomputed ONCE driver-side with a
    * deterministic md5-bit-0 rule — the planes are constants of the
    * scheme, embedded as literal arrays in BOTH the Spark plan and the
    * DuckDB oracle SQL (hashing them per row — 64 dims x 60 planes x
    * every row — would be pure waste on either engine). `array_dot`
    * makes each projection one fused multiply loop. */
  private def planeSign(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane${p}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 1L) 1.0
    else -1.0
  }

  private def planeLit(p: Int): String =
    (0 until Dim).map(i => s"${planeSign(p, i)}D").mkString("array(", ", ", ")")

  /** 60-bit sign signature: bit p = sign of the projection onto plane
    * p. The banded-Hamming dual of [[Dedup.simhash]]'s geometry. */
  private def sigExpr: String = (0 until SigBits)
    .map(p => s"(CASE WHEN array_dot(v, ${planeLit(p)}) > 0 " +
      s"THEN ${1L << p}L ELSE 0L END)")
    .mkString(" + ")

  /** Explode a signature column into its 5 (band, value) keys. */
  private def bandCol(sig: String) = expr(
    s"transform(sequence(0, ${SigBands - 1}), " +
      s"k -> named_struct('bk', k, " +
      s"'bv', ($sig >> (k * $SigBandBits)) & $SigBandMask))")

  /** Corpus signatures, memoized + persisted per (session, dir) and
    * shared by q61 (probing) and q65 (pair mining): the 60-projection
    * signature is by far the most expensive per-row term (60 x Dim
    * fused multiply loops), and without the memo each query branch —
    * q61 computes it on BOTH the corpus and the filtered query side —
    * re-runs it over the whole corpus. At 100 TB signatures are a
    * precomputed column written next to the embeddings; the memo is
    * the local-mode stand-in, exactly like [[kmeansCodebook]]. */
  private def sigTable(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embed_sig") {
      vecs(spark, dir).withColumn("sig", expr(sigExpr))
    }

  /** ANN via banded hyperplane LSH: candidates = corpus vectors
    * sharing ANY 12-bit signature band with the query (equality join
    * on the exploded (band, value) key — co-partitioned, never
    * all-pairs), then exact cosine top-5 among the distinct
    * candidates. Approximate by design — the oracle mirrors the same
    * scheme, so the check is exact. Recall dials: more bands
    * (OR-amplification) or multi-probe (also probing band values at
    * Hamming distance 1) — both widen candidates linearly, never
    * quadratically. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = sigTable(spark, dir)
    val eb = e.select(col("vec_id"), col("v"), col("nrm"),
      explode(bandCol("sig")).as("b"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("b.bk").as("bk"), col("b.bv").as("bv"))
    val qb = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), explode(bandCol("sig")).as("b"))
      .select(col("qid"), col("qv"), col("qn"),
        col("b.bk").as("qbk"), col("b.bv").as("qbv"))
    // A pair matching in several bands arises once per band; cos is
    // deterministic per pair, so the duplicates are identical
    // (cos, vec_id) entries and [[graft.functions.TopKAgg]] collapses
    // them inside its buffer — no separate `.distinct()` pass (that
    // would be a full extra shuffle of the candidate set before the
    // one the rank aggregate already does).
    val cands = eb.join(broadcast(qb),
      col("bk") === col("qbk") && col("bv") === col("qbv") &&
        col("vec_id") =!= col("qid"))
      .withColumn("cos", round(
        expr("array_dot(qv, v)") /
          (col("qn") * col("nrm")), 4))
      .select(col("qid"), col("vec_id"), col("cos"))
    topkRank(cands, "qid", 5)
  }

  /** DuckDB literal plane array for plane p — same [[planeSign]]
    * constants as the Spark side. */
  private def duckPlaneLit(p: Int): String =
    (0 until Dim).map(i => s"${planeSign(p, i)}").mkString("[", ", ", "]")

  /** DuckDB mirror of [[sigExpr]] — ONE definition shared by q61 and
    * q65 so the two oracles cannot desynchronize from each other or
    * from the Scala plane constants. */
  private val duckSig: String = (0 until SigBits)
    .map(p => s"(CASE WHEN list_dot_product(v, ${duckPlaneLit(p)}) > 0 " +
      s"THEN (1::BIGINT << $p) ELSE 0 END)")
    .mkString(" + ")

  /** DuckDB band-match predicate between signatures `$a` and `$b`:
    * true iff any 12-bit band agrees (the OR-join form of the
    * exploded equality join — same pair set, no explode needed at
    * oracle scale). */
  private def duckBandMatch(a: String, b: String): String =
    (0 until SigBands).map { k =>
      s"(($a >> ${k * SigBandBits}) & $SigBandMask) = " +
        s"(($b >> ${k * SigBandBits}) & $SigBandMask)"
    }.mkString("(", " OR ", ")")

  val annLshSql: String = {
    s"""WITH n AS ($duckVecs),
       |b AS (SELECT vec_id, v, nrm, ($duckSig) AS sig FROM n),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, sig AS qsig
       |      FROM b WHERE $queryPredSql),
       |c AS (SELECT qid, vec_id,
       |        round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
       |      FROM q JOIN b ON ${duckBandMatch("sig", "qsig")}
       |       AND vec_id != qid),
       |r AS (SELECT qid, vec_id, cos,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM c)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** Multi-probe LSH ANN — q61's documented recall dial, realized:
    * each query probes, per band, its own 12-bit value AND the 12
    * values at Hamming distance 1 (one flipped bit), so near misses
    * where a single projection's sign flipped still collide. The
    * probe expansion multiplies only the BOUNDED query side (~100
    * rows -> ~100 x 5 x 13 probe keys, still broadcast); the corpus
    * side is untouched — candidates stay an equality join on the
    * (band, value) key, and widen ~13x linearly, never
    * quadratically. Identical duplicate candidates (a pair matching
    * several probes) collapse inside the TopKAgg buffer exactly as
    * in q61. The q102 ladder measures what the dial buys. */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = sigTable(spark, dir)
    val eb = e.select(col("vec_id"), col("v"), col("nrm"),
      explode(bandCol("sig")).as("b"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("b.bk").as("bk"), col("b.bv").as("bv"))
    val qb = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), explode(bandCol("sig")).as("b"))
      .select(col("qid"), col("qv"), col("qn"),
        col("b.bk").as("qbk"), col("b.bv").as("qbv"))
      // probe 0 = the band value itself; probes 1..12 flip one bit
      .select(col("qid"), col("qv"), col("qn"), col("qbk"),
        explode(expr(
          s"""transform(sequence(0, $SigBandBits),
             |  j -> CASE WHEN j = 0 THEN qbv
             |       ELSE cast(qbv as bigint) ^ shiftleft(1L, j - 1) END)"""
            .stripMargin)).as("qbv"))
    val cands = eb.join(broadcast(qb),
      col("bk") === col("qbk") && col("bv") === col("qbv") &&
        col("vec_id") =!= col("qid"))
      .withColumn("cos", round(
        expr("array_dot(qv, v)") /
          (col("qn") * col("nrm")), 4))
      .select(col("qid"), col("vec_id"), col("cos"))
    topkRank(cands, "qid", 5)
  }

  /** DuckDB multi-probe band-match: some band's values are within
    * Hamming distance 1 — the predicate form of the probe expansion
    * (identical pair set, no explode needed at oracle scale). */
  private def duckBandMatchH1(a: String, b: String): String =
    (0 until SigBands).map { k =>
      s"bit_count(xor(($a >> ${k * SigBandBits}) & $SigBandMask, " +
        s"($b >> ${k * SigBandBits}) & $SigBandMask)) <= 1"
    }.mkString("(", " OR ", ")")

  val annLshMultiprobeSql: String =
    s"""WITH n AS ($duckVecs),
       |b AS (SELECT vec_id, v, nrm, ($duckSig) AS sig FROM n),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, sig AS qsig
       |      FROM b WHERE $queryPredSql),
       |c AS (SELECT qid, vec_id,
       |        round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
       |      FROM q JOIN b ON ${duckBandMatchH1("sig", "qsig")}
       |       AND vec_id != qid),
       |r AS (SELECT qid, vec_id, cos,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM c)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q62 label-centroid assignment
  // ---------------------------------------------------------------

  /** Per-label centroid (element-wise mean, computed distributed:
    * posexplode -> two-phase avg per (label, dim) -> deterministic
    * array rebuild) and the top-3 closest members per centroid.
    * The centroid table is tiny -> broadcast back to the corpus. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)")
        .as("cv"))
      .withColumn("cn", expr("sqrt(array_dot(cv, cv))"))
    val scored = e.join(broadcast(cent), "label")
      .withColumn("cos", round(
        expr("array_dot(cv, v)") /
          (col("cn") * col("nrm")), 4))
    topkRank(scored, "label", 3)
  }

  val labelCentroidsSql: String =
    s"""WITH n AS ($duckVecs),
       |flat AS (SELECT label, i, v[i] AS x FROM n, range(1, ${Dim + 1}) t(i)),
       |cm AS (SELECT label, i, avg(x) AS cx FROM flat GROUP BY 1, 2),
       |cent AS (SELECT label, list(cx ORDER BY i) AS cv FROM cm GROUP BY 1),
       |cn AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |       FROM cent),
       |c AS (SELECT n.label, vec_id,
       |        round(list_dot_product(cv, v) / (cn * nrm), 4) AS cos
       |      FROM n JOIN cn ON n.label = cn.label),
       |r AS (SELECT label, vec_id, cos,
       |        row_number() OVER (PARTITION BY label
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM c)
       |SELECT label, rnk, vec_id, cos FROM r WHERE rnk <= 3
       |ORDER BY label, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q64 IVF-style ANN (coarse quantizer -> cell-local search)
  // ---------------------------------------------------------------

  private val IvfK = 16 // codebook size; deliberately > |labels| = 10
  private val IvfIters = 2

  /** The k smallest-md5-hash vectors, numbered 0..k-1 — the shared
    * deterministic seed sample for BOTH trained codebooks (IVF full
    * vectors, PQ subvector slices). TakeOrderedAndProject, no global
    * sort; the window ranks only the k collected rows. */
  private def seedRows(spark: SparkSession, dir: String, k: Int): DataFrame =
    seedRowsOf(vecs(spark, dir), k)

  /** The deterministic smallest-md5 seed sample over an arbitrary
    * vector set — generalized so q193's BASE-corpus codebook seeds
    * from base vectors only (yesterday's training run never saw the
    * delta). */
  private def seedRowsOf(e: DataFrame, k: Int): DataFrame = {
    val wSeed = Window.orderBy(col("hk"), col("vec_id"))
    e.withColumn("hk", expr(Exprs.hash60("cast(vec_id as string)")))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .withColumn("cell", row_number().over(wSeed) - 1)
  }

  /** K-means (Lloyd's) coarse-quantizer codebook, trained entirely as
    * DataFrame ops — the real IVF training step, not a label proxy:
    *
    *   - Seeds: the [[IvfK]] vectors with the smallest md5-prefix hash
    *     of vec_id (deterministic "random" sample, mirrorable by the
    *     oracle; TakeOrderedAndProject, no global sort).
    *   - Each of [[IvfIters]] iterations: assign every vector to its
    *     nearest centroid by ROUNDED cosine (broadcast codebook,
    *     per-vector argmax window), then recompute centroids as the
    *     distributed per-(cell, dim) mean (posexplode -> two-phase
    *     avg), ROUNDED to 6 decimals so cross-engine accumulation
    *     order cannot flip later assignments.
    *
    * At 100 TB each iteration is one broadcast + one narrow argmax
    * pass (a map-side-combining `max_by` aggregation — never a
    * per-vector window sort) + one (cell, dim)-keyed shuffle of
    * partial sums — the canonical distributed Lloyd's shape. A cell
    * that loses all members drops out of the codebook (both engines
    * agree).
    *
    * The trained codebook is memoized per (session, dir) and
    * PERSISTED ([[Tables.memo]]): it is a <= [[IvfK]]-row constant of
    * the corpus, and without the persist every downstream branch that
    * references it (assignment, query probing) would re-execute the
    * whole iterative Lloyd's lineage — at 100 TB the codebook is
    * trained offline exactly once, and the memo is the local-mode
    * stand-in for that. */
  private[graft] def kmeansCodebook(
      spark: SparkSession, dir: String): DataFrame =
    trainCodebook(spark, dir, IvfK, "ivf_codebook")

  /** [[kmeansCodebook]] generalized over the codebook size: q132's
    * SemDeDup pass trains its own K ~ sqrt(N) codebook (cell-depth
    * bounding — see [[semanticDedup]]) while the IVF family keeps the
    * fixed [[IvfK]]. Same Lloyd's, same seeds, separate memo. */
  private def trainCodebook(spark: SparkSession, dir: String, k: Int,
      memoKey: String): DataFrame =
    memo(spark, dir, memoKey) {
      lloydsTrain(vecs(spark, dir), k)
    }

  /** Lloyd's over an arbitrary vector set (seeds drawn from the same
    * set) — the training loop shared by the corpus codebooks and
    * q193's base-only codebook. */
  private def lloydsTrain(e: DataFrame, k: Int): DataFrame = {
      var cent = seedRowsOf(e, k)
        .select(col("cell"), col("v").as("cv"))
      for (_ <- 1 to IvfIters) {
        val cb = cent.withColumn("cn", expr("sqrt(array_dot(cv, cv))"))
        cent = e.join(broadcast(cb), expr("true"))
          .withColumn("ccos", round(
            expr("array_dot(cv, v)") / (col("cn") * col("nrm")), 4))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cell"), col("v")),
            struct(col("ccos"), -col("cell"))).as("m"))
          .select(col("m.cell").as("cell"), posexplode(col("m.v")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i"))
          .agg(avg(col("x")).as("cx"))
          .groupBy(col("cell"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(i, cx))), s -> round(s.cx, 6))")
            .as("cv"))
      }
      cent
    }

  /** IVF-shaped ANN over a TRAINED k-means codebook ([[IvfK]] cells,
    * [[kmeansCodebook]]): every vector is assigned to its NEAREST
    * cell, queries probe their own cell (nprobe=1) and exact-rerank
    * only the cell's members. At 100 TB: the inverted lists are just a
    * partitioning of the corpus by cell id — candidates come from one
    * partition; nprobe is the recall/cost dial. */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame =
    ivfAnnImpl(spark, dir, nprobe = 1)

  /** nprobe=2 variant: each query probes its TWO nearest cells —
    * the standard IVF recall/cost dial (cells are disjoint, so the
    * candidate sets union without dedup). Everything else identical. */
  def ivfAnnNprobe2(spark: SparkSession, dir: String): DataFrame =
    ivfAnnImpl(spark, dir, nprobe = 2)

  private def ivfAnnImpl(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val e = vecs(spark, dir)
    val cent = kmeansCodebook(spark, dir)
      .select(col("cell"), col("cv"),
        expr("sqrt(array_dot(cv, cv))").as("cn"))
    // quantize: nearest cell per vector (broadcast the tiny codebook).
    // ccos is ROUNDED before the argmax, like every other cosine here:
    // the centroid components come from avg() aggregates whose
    // accumulation order differs between engines, so an unrounded
    // near-tie could flip a cell assignment vs the oracle. The argmax
    // itself is a map-side-combining max_by aggregation (ordering
    // (ccos desc, cell asc), encoded as max of (ccos, -cell)) — never
    // a per-vector window sort, so the corpus-wide assignment shuffles
    // one row per vector, not one per (vector, cell).
    val scored = e.join(broadcast(cent),
      expr("true")) // score against every centroid, keep the argmax
      .withColumn("ccos",
        round(expr("array_dot(cv, v)") /
          (col("cn") * col("nrm")), 4))
    val assigned = scored
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("label"), col("v"), col("nrm"), col("cell")),
        struct(col("ccos"), -col("cell"))).as("m"))
      .select(col("vec_id"), col("m.label").as("label"), col("m.v").as("v"),
        col("m.nrm").as("nrm"), col("m.cell").as("cell"))
    // Query side probes its `nprobe` nearest cells (one probe row per
    // (query, cell)); corpus membership stays the argmax, so the probe
    // candidate sets are disjoint — union without dedup. queryPred
    // filters FIRST, so this window ranks ~100 * IvfK rows, not the
    // corpus.
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    val q = scored.filter(queryPred)
      .withColumn("rc", row_number().over(wCell))
      .filter(col("rc") <= nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell"))
    val cands = assigned.join(broadcast(q),
      col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("cos", round(
        expr("array_dot(qv, v)") /
          (col("qn") * col("nrm")), 4))
    topkRank(cands, "qid", 5)
  }

  /** DuckDB mirror of [[seedRows]]: the k smallest-hash vectors with
    * 0-based cell numbers, shared by the IVF and PQ seed CTEs. */
  private def duckSeedRows(k: Int): String = duckSeedRowsExpr(k.toString)

  /** Seed CTE with the codebook size as an arbitrary SQL scalar
    * expression — lets q132's oracle compute K ~ sqrt(N) in SQL. */
  private def duckSeedRowsExpr(kExpr: String, src: String = "n"): String =
    s"""SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cell, v
       |  FROM (SELECT vec_id, v,
       |          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |            AS hk
       |        FROM $src)
       |  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $kExpr""".stripMargin

  /** DuckDB mirror of [[kmeansCodebook]]: seed CTE + one (assign,
    * recompute) CTE pair per iteration, ending in centroid table
    * `c$IvfIters`. */
  private def duckKmeansCtes: String = duckKmeansCtesExpr(IvfK.toString)

  /** The kmeans CTE chain with the codebook size as a SQL scalar
    * expression (see [[duckSeedRowsExpr]]). `src` names the training
    * CTE and `pfx` prefixes every chain CTE name, so one oracle can
    * train two codebooks on different inputs (q214 trains base and
    * refreshed side by side) without name collisions. */
  private def duckKmeansCtesExpr(kExpr: String, src: String = "n",
      pfx: String = ""): String = {
    val seed =
      s"""${pfx}c0 AS (
         |  SELECT cell, v AS cv
         |  FROM (${duckSeedRowsExpr(kExpr, src)}))""".stripMargin
    val iters = (1 to IvfIters).map { t =>
      s"""${pfx}s$t AS (
         |  SELECT cell, v,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS rc
         |  FROM (SELECT $src.vec_id, $src.v, c.cell,
         |          round(list_dot_product(c.cv, $src.v)
         |            / (sqrt(list_dot_product(c.cv, c.cv)) * $src.nrm), 4)
         |            AS ccos
         |        FROM $src, ${pfx}c${t - 1} c)),
         |${pfx}c$t AS (
         |  SELECT cell, list(round(cx, 6) ORDER BY i) AS cv
         |  FROM (SELECT cell, i, avg(x) AS cx
         |        FROM (SELECT cell, i, v[i] AS x
         |              FROM ${pfx}s$t, range(1, ${Dim + 1}) t(i)
         |              WHERE rc = 1)
         |        GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    }
    (seed +: iters).mkString(",\n")
  }

  /** Assign every vector of `df` (vec_id, embedding) to its nearest
    * codebook cell — the IVF quantize step factored out for reuse by
    * the q108 incremental index load: broadcast codebook, rounded
    * cosine, map-side max_by argmax (one output row per vector, no
    * window). */
  private[queries] def ivfAssign(
      spark: SparkSession, dir: String, df: DataFrame): DataFrame = {
    val cent = kmeansCodebook(spark, dir)
      .select(col("cell"), col("cv"),
        expr("sqrt(array_dot(cv, cv))").as("cn"))
    df.withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("sqrt(array_dot(v, v))"))
      .join(broadcast(cent), expr("true"))
      .withColumn("ccos", round(
        expr("array_dot(cv, v)") / (col("cn") * col("nrm")), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
  }

  /** DuckDB mirror of the full-corpus [[ivfAssign]] digest (per-cell
    * counts + id sums) — the q108 oracle body. */
  val ivfAssignDigestSql: String =
    s"""WITH n AS ($duckVecs),
       |$duckKmeansCtes,
       |cb AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |       FROM c$IvfIters),
       |sc AS (SELECT vec_id, cell,
       |         round(list_dot_product(cv, v) / (cn * nrm), 4) AS ccos
       |       FROM n, cb),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY ccos DESC, cell ASC) AS rc FROM sc),
       |asg AS (SELECT vec_id, cell FROM rk WHERE rc = 1)
       |SELECT cell, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS sum_ids
       |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin

  private def ivfAnnSqlImpl(nprobe: Int): String =
    s"""WITH n AS ($duckVecs),
       |$duckKmeansCtes,
       |cb AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |       FROM c$IvfIters),
       |sc AS (SELECT vec_id, v, nrm, cell,
       |         round(list_dot_product(cv, v) / (cn * nrm), 4) AS ccos
       |       FROM n, cb),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY ccos DESC, cell ASC) AS rc FROM sc),
       |asg AS (SELECT vec_id, v, nrm, cell FROM rk WHERE rc = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, cell AS qcell
       |      FROM rk WHERE rc <= $nprobe AND $queryPredSql),
       |c AS (SELECT qid, vec_id,
       |        round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
       |      FROM q JOIN asg ON cell = qcell AND vec_id != qid),
       |r AS (SELECT qid, vec_id, cos,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM c)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  val ivfAnnSql: String = ivfAnnSqlImpl(1)
  val ivfAnnNprobe2Sql: String = ivfAnnSqlImpl(2)

  // ---------------------------------------------------------------
  // q97 product-quantized ANN (PQ codebooks -> ADC -> exact rerank)
  // ---------------------------------------------------------------

  private val PqM = 4          // subspaces
  private val PqSub = Dim / PqM // 16 dims each
  private val PqK = 16         // codes per subspace -> 4-byte code/vector
  private val PqIters = 2

  /** ADC shortlist size — the PQ recall/cost dial (a bigger shortlist
    * reranks more true vectors). Measured recall@5 vs exact on the
    * sf0.01 harness embeddings (near-uniform random — the WORST case
    * for any quantizer, real corpora cluster): 15 -> 0.32, 50 -> 0.68,
    * 100 -> 0.76, 200 -> 0.96. */
  private val PqShortlist = 50

  /** Squared L2 between a subvector and a centroid — ONE definition
    * for the training assignment and the encoder, which must agree. */
  private val PqDist =
    "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), 0d, (a, x) -> a + x)"

  /** (vec_id, sub, sv): every vector split into its [[PqM]] contiguous
    * subvectors — a narrow explode, no shuffle. */
  private def subVectors(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).select(col("vec_id"), explode(expr(
      s"""transform(sequence(0, ${PqM - 1}),
         |  m -> named_struct('sub', m, 'sv', slice(v, m * $PqSub + 1, $PqSub)))"""
        .stripMargin)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))

  /** Product-quantization codebooks: an independent k-means per
    * subspace, all [[PqM]] trained in ONE pipeline keyed by `sub`
    * (4x16 centroids of 16 dims). Seeds are the [[PqK]]
    * smallest-md5-hash VECTORS (one global TakeOrdered — sampling
    * once and seeding every subspace from the same rows is standard,
    * and avoids a per-subspace corpus sort); each Lloyd's iteration
    * assigns by ROUNDED squared L2 (broadcast codebook, map-side
    * max_by argmin) and recomputes per-(sub, cell, dim) means rounded
    * to 6 decimals — the exact determinism discipline of the q64
    * codebook, which the oracle mirrors CTE-for-CTE. Memoized and
    * persisted per (session, dir) like every trained-model table. */
  private[graft] def pqCodebook(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "pq_codebook") {
      val subs = subVectors(spark, dir)
      var cent = seedRows(spark, dir, PqK)
        .select(explode(expr(
          s"""transform(sequence(0, ${PqM - 1}),
             |  m -> named_struct('sub', m, 'cv', slice(v, m * $PqSub + 1, $PqSub)))"""
            .stripMargin)).as("s"), col("cell"))
        .select(col("s.sub").as("sub"), col("cell"), col("s.cv").as("cv"))
      for (_ <- 1 to PqIters) {
        cent = subs.join(broadcast(cent), "sub")
          .withColumn("d", round(expr(PqDist), 6))
          .groupBy(col("vec_id"), col("sub"))
          .agg(max_by(struct(col("cell"), col("sv")),
            struct(-col("d"), -col("cell"))).as("m"))
          .select(col("sub"), col("m.cell").as("cell"),
            posexplode(col("m.sv")).as(Seq("i", "x")))
          .groupBy(col("sub"), col("cell"), col("i"))
          .agg(avg(col("x")).as("cx"))
          .groupBy(col("sub"), col("cell"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(i, cx))), s -> round(s.cx, 6))")
            .as("cv"))
      }
      cent
    }

  /** PQ-compressed ANN: the corpus is ENCODED as [[PqM]] one-byte
    * codes per vector (16x smaller than float32) by nearest-centroid
    * per subspace; queries score against the quantized corpus —
    * asymmetric distance computation, full-precision query vs
    * compressed representation — to build a [[PqShortlist]]-row
    * shortlist per query, then the shortlist alone is reranked with
    * exact cosine to the final top-5. Both ranking stages are
    * bounded-heap topkRank aggregates, never a corpus-wide window
    * sort.
    *
    * This is TRUE code-based ADC: the scan side reads only the
    * encoded table ([[pqCodes]] — M codes + one norm per vector, ~8
    * bytes vs 256 of float32) and resolves each score with [[PqM]]
    * probes into the query's broadcast M x K dot-product lookup
    * table; the float corpus is touched only by the bounded query
    * side and the ~[[PqShortlist]] rerank rows per query.
    * dot(q, reconstruction) == sum over subspaces of
    * lut[sub, code_sub] by bilinearity, and both engines sum the M
    * terms in subspace order, so the oracle mirrors the LUT scores
    * exactly. */
  def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cb = pqCodebook(spark, dir)
    val enc = pqCodes(spark, dir)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // Per-query LUT: dot(q_sub, centroid) for every (sub, cell) —
    // M x K = 64 doubles per query, keyed sub*K + cell. ~100 queries
    // x 64 entries broadcast; the corpus scan then resolves each
    // vector's score with M map probes, touching ONLY the codes.
    val qlut = q.select(col("qid"), col("qn"), explode(expr(
      s"""transform(sequence(0, ${PqM - 1}),
         |  m -> named_struct('sub', m, 'qsv', slice(qv, m * $PqSub + 1, $PqSub)))"""
        .stripMargin)).as("s"))
      .select(col("qid"), col("qn"), col("s.sub").as("sub"), col("s.qsv").as("qsv"))
      .join(broadcast(cb), "sub")
      .withColumn("k", col("sub") * PqK + col("cell"))
      .withColumn("dd", expr("array_dot(qsv, cv)"))
      .groupBy(col("qid"), col("qn"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("dd"))))
        .as("lut"))
    // ADC: score = sum over subspaces of lut[sub*K + code_sub], an
    // in-order fold (deterministic summation; the oracle sums the
    // same four terms in the same sub order).
    val adc = enc.join(broadcast(qlut), col("vec_id") =!= col("qid"))
      .withColumn("cos", round(
        expr(
          s"""aggregate(sequence(0, ${PqM - 1}), 0D,
             |  (a, m) -> a + element_at(lut, m * $PqK + element_at(codes, m + 1)))"""
            .stripMargin) / (col("qn") * col("dn")), 4))
    val shortlist = topkRank(adc, "qid", PqShortlist)
      .select(col("qid"), col("vec_id"))
    val rerank = shortlist
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("cos", round(
        expr("array_dot(qv, v)") / (col("qn") * col("nrm")), 4))
    topkRank(rerank, "qid", 5)
  }

  /** The encoded corpus — PQ's ACTUAL store: per vector, the M
    * one-byte codes (sub-ordered) and the reconstruction norm, ~8
    * bytes against 256 of float32. Memoized per (session, dir):
    * queries serve from the codes, none re-encodes. The norm is
    * summed per-subspace IN SUB ORDER (sorted before the fold) so
    * its floating-point value is deterministic and mirrored by the
    * oracle's ordered list_sum. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "pq_codes") {
      subVectors(spark, dir).join(broadcast(pqCodebook(spark, dir)), "sub")
        .withColumn("d", round(expr(PqDist), 6))
        .groupBy(col("vec_id"), col("sub"))
        .agg(max_by(struct(col("cell"), col("cv")),
          struct(-col("d"), -col("cell"))).as("m"))
        .groupBy(col("vec_id"))
        .agg(
          expr(
            "transform(array_sort(collect_list(struct(sub, m.cell as cell))), s -> s.cell)")
            .as("codes"),
          expr(
            """sqrt(greatest(aggregate(
              |  transform(array_sort(collect_list(struct(sub, array_dot(m.cv, m.cv) as dd))),
              |            s -> s.dd),
              |  0D, (a, x) -> a + x), 1e-30))""".stripMargin).as("dn"))
    }

  val pqAnnSql: String = {
    val seed =
      s"""p0 AS (
         |  SELECT m.m AS sub, cell,
         |    v[m.m * $PqSub + 1 : m.m * $PqSub + $PqSub] AS cv
         |  FROM (${duckSeedRows(PqK)}), range(0, $PqM) m(m))""".stripMargin
    val iters = (1 to PqIters).map { t =>
      s"""a$t AS (
         |  SELECT vec_id, sub, cell, sv,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d ASC, cell ASC) AS rc
         |  FROM (SELECT s.vec_id, s.sub, c.cell, s.sv,
         |          round(list_sum(list_transform(range(1, ${PqSub + 1}),
         |            i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS d
         |        FROM subs s JOIN p${t - 1} c ON s.sub = c.sub)),
         |p$t AS (
         |  SELECT sub, cell, list(round(cx, 6) ORDER BY i) AS cv
         |  FROM (SELECT sub, cell, i, avg(sv[i]) AS cx
         |        FROM a$t, range(1, ${PqSub + 1}) t(i) WHERE rc = 1
         |        GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)""".stripMargin
    }
    s"""WITH n AS ($duckVecs),
       |subs AS (
       |  SELECT vec_id, m.m AS sub,
       |    v[m.m * $PqSub + 1 : m.m * $PqSub + $PqSub] AS sv
       |  FROM n, range(0, $PqM) m(m)),
       |${(seed +: iters).mkString(",\n")},
       |enc AS (
       |  SELECT vec_id, sub, cell, cv,
       |    row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d ASC, cell ASC) AS rc
       |  FROM (SELECT s.vec_id, s.sub, c.cell, c.cv,
       |          round(list_sum(list_transform(range(1, ${PqSub + 1}),
       |            i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS d
       |        FROM subs s JOIN p$PqIters c ON s.sub = c.sub)),
       |codes AS (SELECT vec_id, sub, cell FROM enc WHERE rc = 1),
       |dn AS (
       |  SELECT vec_id,
       |    sqrt(greatest(list_sum(
       |      list(list_dot_product(cv, cv) ORDER BY sub)), 1e-30)) AS dn
       |  FROM enc WHERE rc = 1 GROUP BY 1),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
       |      WHERE $queryPredSql),
       |qd AS (SELECT qid, qn, c.sub, c.cell,
       |         list_dot_product(
       |           qv[c.sub * $PqSub + 1 : c.sub * $PqSub + $PqSub], c.cv) AS dd
       |       FROM q, p$PqIters c),
       |adc AS (
       |  SELECT qid, vec_id,
       |    round(list_sum(list(dd ORDER BY sub))
       |          / (any_value(qn) * any_value(dn)), 4) AS cos
       |  FROM (SELECT qd.qid, co.vec_id, co.sub, qd.dd, qd.qn, dn.dn
       |        FROM codes co
       |        JOIN qd ON qd.sub = co.sub AND qd.cell = co.cell
       |        JOIN dn ON dn.vec_id = co.vec_id
       |        WHERE co.vec_id != qd.qid)
       |  GROUP BY 1, 2),
       |sl AS (SELECT qid, vec_id FROM (
       |         SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, vec_id ASC) AS rnk
       |         FROM adc) WHERE rnk <= $PqShortlist),
       |rr AS (SELECT sl.qid, sl.vec_id,
       |         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 4) AS cos
       |       FROM sl JOIN n ON sl.vec_id = n.vec_id
       |               JOIN q ON sl.qid = q.qid),
       |r AS (SELECT qid, vec_id, cos,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM rr)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  // q65 embedding-cosine near-dup (bucketed pair mining)
  // ---------------------------------------------------------------

  /** Embedding-cosine near-dup: candidate pairs are vectors sharing
    * ANY 12-bit signature band (equality self-join on the exploded
    * (band, value) key — never all-pairs; a random-collision volume of
    * ~5N²/2^13, 256x below the single-16-bucket geometry), verified
    * with exact cosine >= 0.45 and digested. The dedup variant of
    * q61's search shape: same signature bands, pair mining instead of
    * query probing. The digest carries BOTH the candidate count (so
    * the oracle checks the banding itself, and a recall collapse is
    * visible) and the verified-pair aggregates. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = sigTable(spark, dir)
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(bandCol("sig")).as("b"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("b.bk").as("bk"), col("b.bv").as("bv"))
    val pairs = e.as("a").hint("shuffle_hash")
      .join(e.as("b").hint("shuffle_hash"),
        col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        expr("array_dot(a.v, b.v)") /
          (col("a.nrm") * col("b.nrm")))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"), col("cos"))
      .distinct()
    pairs.agg(
      count(lit(1)).as("n_cands"),
      sum(when(col("cos") >= 0.45, 1).otherwise(0)).as("n_pairs"),
      sum(when(col("cos") >= 0.45, col("ia") + col("ib")).otherwise(0L))
        .as("sum_ids"),
      round(sum(when(col("cos") >= 0.45, col("cos")).otherwise(0.0)), 4)
        .as("sum_cos"))
  }

  val embeddingNearDupSql: String = {
    s"""WITH n AS ($duckVecs),
       |b AS (SELECT vec_id, v, nrm, ($duckSig) AS sig FROM n),
       |p AS (SELECT a.vec_id ia, b.vec_id ib,
       |        list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
       |      FROM b a JOIN b b ON ${duckBandMatch("a.sig", "b.sig")}
       |       AND a.vec_id < b.vec_id)
       |SELECT count(*) AS n_cands,
       |  CAST(sum(CASE WHEN cos >= 0.45 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pairs,
       |  CAST(sum(CASE WHEN cos >= 0.45 THEN ia + ib ELSE 0 END) AS BIGINT)
       |    AS sum_ids,
       |  round(sum(CASE WHEN cos >= 0.45 THEN cos ELSE 0 END), 4) AS sum_cos
       |FROM p""".stripMargin
  }

  // ---------------------------------------------------------------
  // q74 int8 embedding quantization (storage-compression pass)
  // ---------------------------------------------------------------

  /** Symmetric per-vector int8 quantization — the 4x storage
    * compression pass a 100 TB embedding store runs before ANN
    * serving: scale = max|v_i| / 127, q_i = round(v_i / scale),
    * clamped to [-127, 127]. The digest verifies the codec end to end:
    * dequantized reconstruction error and the cosine between original
    * and reconstructed vector, aggregated per label. All arithmetic is
    * elementwise + array_dot — expressible identically in DuckDB, so
    * the oracle checks every quantized value. */
  def int8Quant(spark: SparkSession, dir: String): DataFrame = {
    vecs(spark, dir)
      .withColumn("scale", expr(
        "greatest(aggregate(v, 0d, (a, x) -> greatest(a, abs(x))), 1e-30) / 127d"))
      .withColumn("q", expr(
        "transform(v, x -> cast(greatest(-127, least(127, round(x / scale))) as int))"))
      .withColumn("deq", expr("transform(q, x -> x * scale)"))
      .withColumn("err2", expr(
        "aggregate(zip_with(v, deq, (a, b) -> (a - b) * (a - b)), 0d, (a, x) -> a + x)"))
      .withColumn("cos_rec", expr(
        "array_dot(v, deq) / (nrm * sqrt(greatest(array_dot(deq, deq), 1e-30)))"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(expr("aggregate(q, 0, (a, x) -> a + abs(x))")).as("sum_abs_q"),
        round(sum(col("err2")), 6).as("sum_err2"),
        round(avg(col("cos_rec")), 6).as("avg_cos_rec"))
      .orderBy("label")
  }

  val int8QuantSql: String =
    s"""WITH n AS ($duckVecs),
       |qz AS (
       |  SELECT label,
       |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127
       |      AS scale, v, nrm
       |  FROM n),
       |q AS (
       |  SELECT label, scale, v, nrm,
       |    list_transform(v,
       |      x -> CAST(greatest(-127, least(127, round(x / scale))) AS INTEGER))
       |      AS qv
       |  FROM qz),
       |d AS (
       |  SELECT label, v, nrm,
       |    list_transform(qv, x -> x * scale) AS deq,
       |    list_sum(list_transform(qv, x -> abs(x))) AS abs_q
       |  FROM q),
       |m AS (
       |  SELECT label, abs_q,
       |    list_sum(list_transform(range(1, len(v) + 1),
       |      i -> (v[i] - deq[i]) * (v[i] - deq[i]))) AS err2,
       |    list_dot_product(v, deq)
       |      / (nrm * sqrt(greatest(list_dot_product(deq, deq), 1e-30)))
       |      AS cos_rec
       |  FROM d)
       |SELECT label, count(*) AS n,
       |  CAST(sum(abs_q) AS BIGINT) AS sum_abs_q,
       |  round(sum(err2), 6) AS sum_err2,
       |  round(avg(cos_rec), 6) AS avg_cos_rec
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q102 ANN recall vs exact (the quality ladder as a first-class query)
  // ---------------------------------------------------------------

  /** q102: recall@5 of every ANN variant against the exact q60
    * baseline, computed INSIDE the engine — the measurement a real
    * ANN deployment runs continuously (an index whose recall silently
    * collapses is worse than a slow exact scan, so the quality ladder
    * must be a monitored table, not a number in a commit message).
    *
    * Shape: exact top-5 (bounded: ~[[QueryBudget]] x 5 rows) and each
    * approximate top-5 are tiny derived tables; the hit join and the
    * rollup never touch the corpus beyond what the underlying queries
    * (whose signature/codebook/codes tables are memoized and shared)
    * already do. recall@5 = hits / (5 x queries), micro-averaged.
    * n_results is carried so a variant quietly returning fewer than 5
    * rows per query (sparse LSH candidates) is visible, not absorbed
    * into the recall denominator. */
  /** Memoized per-variant serving tables (qid, rnk, vec_id, cos) —
    * the ladder (q102) and the fusion (q181) both consume variant
    * RANKINGS, and before this memo each consumer re-ran the full
    * scoring pass even though the index artifacts underneath were
    * already memoized. A production deployment serves from the
    * ranking table it materialized; the per-(session, dir) memo is
    * the local stand-in. The registered per-variant queries stay
    * unmemoized — their bench rows keep measuring a real serve. */
  private def servedTop(spark: SparkSession, dir: String, name: String,
      build: => DataFrame): DataFrame =
    memo(spark, dir, s"ann_top_$name")(build)

  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact5 = servedTop(spark, dir, "exact",
      cosineTopK(spark, dir)).filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"))
    val methods = Seq(
      "ivf_nprobe1" -> servedTop(spark, dir, "ivf1", ivfAnn(spark, dir)),
      "ivf_nprobe2" -> servedTop(spark, dir, "ivf2",
        ivfAnnNprobe2(spark, dir)),
      "lsh" -> servedTop(spark, dir, "lsh", annLsh(spark, dir)),
      "lsh_multiprobe" -> servedTop(spark, dir, "lshmp",
        annLshMultiprobe(spark, dir)),
      "pq" -> servedTop(spark, dir, "pq", pqAnn(spark, dir)),
      "graph_beam" -> servedTop(spark, dir, "beam",
        graphBeamAnn(spark, dir)))
    val approx = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("qid"), col("vec_id"))
    }.reduce(_ unionByName _)
    val flagged = approx.join(
      exact5.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
    val nq = exact5.agg(countDistinct(col("qid")).as("n_queries"))
    flagged.groupBy(col("method"))
      .agg(count(lit(1)).as("n_results"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("method"), col("n_queries"), col("n_results"),
        col("n_hits"),
        round(col("n_hits").cast("double") / (lit(5) * col("n_queries")), 4)
          .as("recall_at_5"))
      .orderBy("method")
  }

  /** The oracle re-derives exact and every ANN variant from their OWN
    * oracle SQL (verbatim, as derived tables — DuckDB scopes each
    * nested WITH) and mirrors the same hit join and rollup, so q102
    * cross-checks the recall arithmetic end to end. */
  // lazy: embeds graphBeamAnnSql, which is declared later in the file
  lazy val annRecallSql: String =
    s"""WITH ex AS (SELECT qid, vec_id FROM ($cosineTopKSql) WHERE rnk <= 5),
       |ap AS (
       |  SELECT 'ivf_nprobe1' AS method, qid, vec_id FROM ($ivfAnnSql)
       |  UNION ALL
       |  SELECT 'ivf_nprobe2' AS method, qid, vec_id FROM ($ivfAnnNprobe2Sql)
       |  UNION ALL
       |  SELECT 'lsh' AS method, qid, vec_id FROM ($annLshSql)
       |  UNION ALL
       |  SELECT 'lsh_multiprobe' AS method, qid, vec_id
       |  FROM ($annLshMultiprobeSql)
       |  UNION ALL
       |  SELECT 'pq' AS method, qid, vec_id FROM ($pqAnnSql)
       |  UNION ALL
       |  SELECT 'graph_beam' AS method, qid, vec_id
       |  FROM ($graphBeamAnnSql)),
       |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM ex),
       |h AS (
       |  SELECT method, count(*) AS n_results,
       |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM (SELECT ap.method, ap.qid, ap.vec_id,
       |          EXISTS(SELECT 1 FROM ex
       |                 WHERE ex.qid = ap.qid AND ex.vec_id = ap.vec_id)
       |            AS hit
       |        FROM ap)
       |  GROUP BY 1)
       |SELECT method, n_queries, n_results, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / (5 * n_queries), 4) AS recall_at_5
       |FROM h, nq ORDER BY method""".stripMargin

  // ---------------------------------------------------------------
  // q119 embedding centroid drift between corpus halves
  // ---------------------------------------------------------------

  /** q119: embedding drift — the model/corpus health check a
    * production embedding pipeline runs on every re-embed or new data
    * load: per label, the centroid of one half of the corpus
    * (even vec_ids — "yesterday's load") against the other half
    * (odd — "today's"), reported as the cosine between the two
    * centroids plus both support counts. A drift_cos well below 1
    * on a label flags a distribution shift (embedding model changed,
    * upstream content drifted, a bad batch landed) BEFORE it poisons
    * ANN recall.
    *
    * Scale shape: two chained aggregates (per-dim means keyed by
    * (label, half, dim), then per-(label, half) re-assembly) — the
    * q62 centroid geometry with one extra key column; the final
    * half-vs-half comparison is a labels-sized self-join. Nothing
    * touches raw vectors after the first aggregate. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).withColumn("half", col("vec_id") % 2)
    val cent = e
      .select(col("label"), col("half"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("half"), col("i"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("label"), col("half"))
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)")
        .as("cv"))
    val cnt = e.groupBy(col("label"), col("half"))
      .agg(count(lit(1)).as("n"))
    val side = cent.join(cnt, Seq("label", "half"))
    side.filter(col("half") === 0)
      .select(col("label"), col("cv").as("cv0"), col("n").as("n_even"))
      .join(side.filter(col("half") === 1)
        .select(col("label"), col("cv").as("cv1"), col("n").as("n_odd")),
        Seq("label"))
      .withColumn("drift_cos", round(
        expr("array_dot(cv0, cv1)") /
          (sqrt(expr("array_dot(cv0, cv0)")) *
            sqrt(expr("array_dot(cv1, cv1)"))), 4))
      .select(col("label").cast("long").as("label"),
        col("n_even"), col("n_odd"), col("drift_cos"))
      .orderBy("label")
  }

  val centroidDriftSql: String =
    s"""WITH n AS ($duckVecs),
       |h AS (SELECT *, vec_id % 2 AS half FROM n),
       |flat AS (SELECT label, half, i, v[i] AS x
       |         FROM h, range(1, ${Dim + 1}) t(i)),
       |cm AS (SELECT label, half, i, avg(x) AS cx
       |       FROM flat GROUP BY 1, 2, 3),
       |cent AS (SELECT label, half, list(cx ORDER BY i) AS cv
       |         FROM cm GROUP BY 1, 2),
       |cnt AS (SELECT label, half, count(*) AS cn FROM h GROUP BY 1, 2),
       |side AS (SELECT cent.label, cent.half, cv, cn
       |         FROM cent JOIN cnt ON cent.label = cnt.label
       |                           AND cent.half = cnt.half)
       |SELECT CAST(a.label AS BIGINT) AS label,
       |  a.cn AS n_even, b.cn AS n_odd,
       |  round(list_dot_product(a.cv, b.cv) /
       |        (sqrt(list_dot_product(a.cv, a.cv)) *
       |         sqrt(list_dot_product(b.cv, b.cv))), 4) AS drift_cos
       |FROM side a JOIN side b ON a.label = b.label
       |  AND a.half = 0 AND b.half = 1
       |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // q120 hybrid dedup confirmation (text pairs x embedding cosine)
  // ---------------------------------------------------------------

  /** q120: hybrid near-dup confirmation — the cross-modal check a
    * mature dedup pipeline runs before deleting anything: the
    * text-mined verified pair stream ([[Dedup.minhashPairs]], q56's
    * banded-MinHash + exact-Jaccard pairs) joins each side to its
    * embedding, and per Jaccard decile the digest reports how many
    * pairs the embedding space AGREES are near (cosine >= 0.5), plus
    * the cosine mean/min. Divergence between the columns is the
    * signal: high-Jaccard/low-cosine pairs are template boilerplate
    * (same words, different meaning), low-decile/high-cosine pairs
    * are paraphrases the shingle space missed.
    *
    * Scale shape: the pair stream is duplicate-cluster-sized, and
    * each side joins to the embeddings table by id — two shuffle
    * equi-joins of the SMALL side against the id-keyed vectors,
    * never a vector-vector pair mine; the per-pair cosine is the
    * codegen'd `array_dot` kernel. The memoized pair table is shared
    * with q56/q88, so in a session that already deduped, this is two
    * joins over tiny inputs. */
  def hybridDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    Dedup.minhashPairs(spark, dir)
      .join(e.select(col("vec_id").as("ia"), col("v").as("va"),
        col("nrm").as("na")), "ia")
      .join(e.select(col("vec_id").as("ib"), col("v").as("vb"),
        col("nrm").as("nb")), "ib")
      .withColumn("cos",
        expr("array_dot(va, vb)") / (col("na") * col("nb")))
      .withColumn("jd", floor(round(col("jraw"), 4) * 10).cast("long"))
      .groupBy(col("jd"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cos") >= 0.5, 1L).otherwise(0L)).as("n_emb_close"),
        round(avg(col("cos")), 4).as("avg_cos"),
        round(min(col("cos")), 4).as("min_cos"))
      .orderBy("jd")
  }

  val hybridDedupSql: String =
    s"""WITH ${graft.queries.Dedup.duckVerifiedPairCtes},
       |v AS ($duckVecs),
       |p AS (
       |  SELECT pairs.jraw,
       |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
       |  FROM pairs JOIN v a ON pairs.ia = a.vec_id
       |             JOIN v b ON pairs.ib = b.vec_id)
       |SELECT CAST(floor(round(jraw, 4) * 10) AS BIGINT) AS jd,
       |  count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_emb_close,
       |  round(avg(cos), 4) AS avg_cos,
       |  round(min(cos), 4) AS min_cos
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q132 semantic dedup (SemDeDup: cluster-then-prune)
  // ---------------------------------------------------------------

  /** q132: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540) — the embedding-space dedup pass modern LLM
    * corpora run AFTER lexical dedup: cluster the embedding space with
    * the trained k-means codebook, then prune near-identical pairs
    * WITHIN each cluster only. Within a cell, every member pair with
    * rounded cosine >= [[SemDedupTau]] marks one member for removal —
    * the member CLOSER to its centroid (tie: larger vec_id), the
    * paper's diversity-preserving choice (keep the outlier, drop the
    * prototype). Digest: per cell, member count, dup-pair count,
    * removed count, and an xor fingerprint of the removed-id set.
    *
    * Scale shape: the clustering makes the quadratic step LOCAL —
    * pair mining is an equality self-join on the cell key
    * (shuffle_hash-pinned, never broadcast-funneled), so the volume is
    * sum(c_i^2) over cell sizes rather than N^2; the codebook size is
    * K = max([[IvfK]], ceil(sqrt(N))) — the published SemDeDup
    * deployment's corpus-scaled dial, LIVE in both engines (the
    * oracle computes the same K from count(*)), bounding pair volume
    * at ~N^1.5. The codebook is memoized+persisted per (session, dir,
    * K) via the same [[trainCodebook]] Lloyd's as the IVF family —
    * trained once per corpus, a broadcast-sized constant.
    * Everything after the cell join is one
    * cell-keyed aggregation; removal is emitted as a digest, with the
    * keep set derivable as an anti-join at write time. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // K ~ sqrt(N): the published SemDeDup cell-depth dial, now LIVE
    // instead of a doc note — with a FIXED K, an m-times-larger corpus
    // deepens every cell m-fold and the within-cell pair volume grows
    // m^2 (measured: the x64 stress corpus ran 23x the x8 time).
    // sqrt(N) cells bound expected depth at sqrt(N), so pair volume
    // sum(c_i^2) ~ N^1.5 instead of N^2/K. The count is a parquet
    // metadata read; the codebook is memoized per (session, dir, K).
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val semK = math.max(IvfK, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
    val cent = trainCodebook(spark, dir, semK, s"semdedup_codebook_$semK")
      .select(col("cell"), col("cv"),
        expr("sqrt(array_dot(cv, cv))").as("cn"))
    // Assign every vector to its nearest cell (broadcast codebook,
    // rounded cosine, map-side max_by argmax — one row per vector),
    // carrying the centroid cosine for the keep/remove policy.
    // NOT spread (measured negative, r16): the argmax runs on the
    // single-row-group scan task (2x ~185ms single-task stages at
    // sf0.1, one per self-join side), but SinglePartition satisfies
    // the groupBy(vec_id) distribution, so the one-task plan has NO
    // exchange at all — both spread variants (derived doubles, raw
    // floats) added a real array exchange and measured 1.6s -> 1.9-
    // 2.6s warm. At production scale the scan parallelizes by row
    // group and the single-task artifact disappears on its own.
    val assigned = vecs(spark, dir)
      .join(broadcast(cent), expr("true"))
      .withColumn("ccos", round(
        expr("array_dot(cv, v)") / (col("cn") * col("nrm")), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("cell"), col("ccos")),
        struct(col("ccos"), -col("cell"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
        col("m.cell").as("cell"), col("m.ccos").as("ccos"))
    // Cells are disjoint, so the single-key self-join emits each
    // within-cell pair exactly once — no distinct() shuffle needed.
    val pairs = assigned.as("x").hint("shuffle_hash")
      .join(assigned.as("y").hint("shuffle_hash"),
        col("x.cell") === col("y.cell") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", round(
        expr("array_dot(x.v, y.v)") / (col("x.nrm") * col("y.nrm")), 4))
      .filter(col("cos") >= SemDedupTau)
      // remove the member nearer its centroid; tie -> larger vec_id
      .select(col("x.cell").as("cell"),
        when(col("x.ccos") > col("y.ccos"), col("x.vec_id"))
          .when(col("y.ccos") > col("x.ccos"), col("y.vec_id"))
          .otherwise(greatest(col("x.vec_id"), col("y.vec_id"))).as("rid"))
    val pairStats = pairs.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_pairs"))
    val removed = pairs.select(col("cell"), col("rid")).distinct()
      .withColumn("h", expr(Exprs.hash60("cast(rid as string)")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_removed"),
        expr("bit_xor(h)").as("removed_digest"))
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(pairStats, Seq("cell"), "left")
      .join(removed, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("removed_digest"), lit(0L)).as("removed_digest"))
      .orderBy("cell")
  }

  private val SemDedupTau = 0.45

  val semanticDedupSql: String =
    s"""WITH n AS ($duckVecs),
       |${duckKmeansCtesExpr(
        "(SELECT greatest(" + IvfK + ", CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM n)")},
       |cb AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |       FROM c$IvfIters),
       |sc AS (SELECT vec_id, v, nrm, cell,
       |         round(list_dot_product(cv, v) / (cn * nrm), 4) AS ccos
       |       FROM n, cb),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY ccos DESC, cell ASC) AS rc FROM sc),
       |asg AS (SELECT vec_id, v, nrm, cell, ccos FROM rk WHERE rc = 1),
       |p AS (SELECT x.cell,
       |        CASE WHEN x.ccos > y.ccos THEN x.vec_id
       |             WHEN y.ccos > x.ccos THEN y.vec_id
       |             ELSE greatest(x.vec_id, y.vec_id) END AS rid
       |      FROM asg x JOIN asg y
       |        ON x.cell = y.cell AND x.vec_id < y.vec_id
       |      WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4)
       |        >= $SemDedupTau),
       |ps AS (SELECT cell, count(*) AS n_pairs FROM p GROUP BY 1),
       |rm AS (SELECT cell, count(*) AS n_removed,
       |         bit_xor(('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 15))
       |           ::BIGINT) AS removed_digest
       |       FROM (SELECT DISTINCT cell, rid FROM p) GROUP BY 1),
       |mb AS (SELECT cell, count(*) AS n_members FROM asg GROUP BY 1)
       |SELECT mb.cell, mb.n_members,
       |  coalesce(ps.n_pairs, 0) AS n_pairs,
       |  coalesce(rm.n_removed, 0) AS n_removed,
       |  coalesce(rm.removed_digest, 0) AS removed_digest
       |FROM mb LEFT JOIN ps ON mb.cell = ps.cell
       |        LEFT JOIN rm ON mb.cell = rm.cell
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q138 kNN graph construction (band candidates -> bounded top-k)
  // ---------------------------------------------------------------

  /** q138: approximate kNN-graph build — every vector's top-3
    * cosine neighbors among its LSH band candidates, plus the graph
    * health digest (out/in degree histograms and the mutual-edge
    * count) that diversity sampling, graph-based dedup, and
    * NN-Descent-style refinement all consume. An ANN *query* (q61)
    * answers one probe; the *graph* materializes every vector's
    * neighborhood at once — the all-nodes artifact.
    *
    * Scale shape: candidates come from the equality self-join on the
    * exploded (band, value) key over the shared memoized signature
    * table (never all-pairs; shuffle_hash-pinned); per-node top-3 is
    * the bounded-heap TopKAgg (band-duplicate entries collapse
    * in-buffer, map-side partial agg — no distinct pass, no window
    * sort). The degree rollups and the mutuality self-join run on the
    * EDGE set (<= 3N rows), not the corpus. In-degree is capped into
    * an 8+ bucket so hub skew stays a bounded histogram. */
  /** The kNN edge set (src -> dst, each node's top-3 band-candidate
    * neighbors) — memoized + persisted per (session, dir) and shared
    * by q138 (graph digest) and q145 (PageRank): the edge list IS the
    * materialized graph artifact a production pipeline writes once
    * and consumes many times. */
  private[queries] def knnEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "knn_edges")(knnEdgesFrom(sigTable(spark, dir)))

  /** The kNN edge build over an arbitrary signature table — factored
    * so q198's incremental insert can build the BASE-only graph
    * (yesterday's artifact) from base signatures alone. */
  private def knnEdgesFrom(e: DataFrame): DataFrame = {
      val eb = e.select(col("vec_id"), col("v"), col("nrm"),
          explode(bandCol("sig")).as("b"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("b.bk").as("bk"), col("b.bv").as("bv"))
      val cands = eb.as("a").hint("shuffle_hash")
        .join(eb.as("b").hint("shuffle_hash"),
          col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("cos", round(
          expr("array_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm")), 4))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          col("cos"))
      cands.groupBy(col("src"))
        .agg(graft.functions.TopK.topK(3)(col("cos"), col("dst")).as("tk"))
        .select(col("src"), posexplode(col("tk")).as(Seq("i", "s")))
        .select(col("src"), col("s.vec_id").as("dst"))
    }

  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(spark, dir)
    val nodes = vecs(spark, dir).select(col("vec_id"))
    def hist(deg: DataFrame, kind: String) = nodes
      .join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("d"), lit(0L)).as("deg"))
      .withColumn("h", expr(Exprs.hash60("cast(vec_id as string)")))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("digest"))
      .select(lit(kind).as("kind"), col("deg"), col("n"), col("digest"))
    val outH = hist(
      edges.groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("d")),
      "out")
    val inH = hist(
      edges.groupBy(col("dst").as("vec_id"))
        .agg(least(count(lit(1)), lit(8L)).as("d")),
      "in")
    val mutual = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src") &&
          col("e1.src") < col("e1.dst"))
      .select(col("e1.src").as("src"), col("e1.dst").as("dst"))
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(src as string), ':', cast(dst as string))")))
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("digest"))
      .select(lit("mutual").as("kind"), lit(0L).as("deg"), col("n"),
        col("digest"))
    outH.unionByName(inH).unionByName(mutual)
      .orderBy("kind", "deg")
  }

  /** DuckDB mirror of [[knnEdges]] (CTEs `n`, `b`, `cand`, `ed`) —
    * ONE definition shared by the q138 and q145 oracles. */
  private def duckKnnEdgeCtes: String =
    s"""n AS ($duckVecs),
       |b AS (SELECT vec_id, v, nrm, ($duckSig) AS sig FROM n),
       |cand AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
       |  FROM b a JOIN b b ON ${duckBandMatch("a.sig", "b.sig")}
       |    AND a.vec_id != b.vec_id),
       |ed AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst ASC) AS rn
       |    FROM cand)
       |  WHERE rn <= 3)""".stripMargin

  val knnGraphSql: String =
    s"""WITH $duckKnnEdgeCtes,
       |odeg AS (SELECT src AS vec_id, count(*) AS d FROM ed GROUP BY 1),
       |ideg AS (SELECT dst AS vec_id, least(count(*), 8) AS d
       |         FROM ed GROUP BY 1),
       |oh AS (
       |  SELECT 'out' AS kind, coalesce(d, 0) AS deg, count(*) AS n,
       |    bit_xor(('0x' || substr(md5(CAST(n.vec_id AS VARCHAR)), 1, 15))
       |      ::BIGINT) AS digest
       |  FROM n LEFT JOIN odeg USING (vec_id) GROUP BY 2),
       |ih AS (
       |  SELECT 'in' AS kind, coalesce(d, 0) AS deg, count(*) AS n,
       |    bit_xor(('0x' || substr(md5(CAST(n.vec_id AS VARCHAR)), 1, 15))
       |      ::BIGINT) AS digest
       |  FROM n LEFT JOIN ideg USING (vec_id) GROUP BY 2),
       |mu AS (
       |  SELECT 'mutual' AS kind, CAST(0 AS BIGINT) AS deg,
       |    count(*) AS n,
       |    coalesce(bit_xor(('0x' || substr(md5(
       |      CAST(e1.src AS VARCHAR) || ':' || CAST(e1.dst AS VARCHAR)),
       |      1, 15))::BIGINT), 0) AS digest
       |  FROM ed e1 JOIN ed e2
       |    ON e1.src = e2.dst AND e1.dst = e2.src AND e1.src < e1.dst)
       |SELECT kind, CAST(deg AS BIGINT) AS deg, n, digest FROM (
       |  SELECT * FROM oh UNION ALL SELECT * FROM ih
       |  UNION ALL SELECT * FROM mu)
       |ORDER BY kind, deg""".stripMargin

  // ---------------------------------------------------------------
  // q145 PageRank over the kNN graph (integer power iteration)
  // ---------------------------------------------------------------

  /** q145: 3-round PageRank power iteration over the shared q138 kNN
    * edge set — the graph-centrality pass that ranks "hub" documents
    * (a near-dup cluster's most-linked member, a corpus's most
    * prototypical examples) once a neighbor graph exists. All
    * arithmetic is INTEGER micro-rank units (R0 = 1,000,000; R' =
    * 150,000 + 850,000·Σ(R(u) div d(u)) div 1,000,000): float
    * damping would make each round's Σ depend on cross-engine
    * accumulation order, integer division makes every iterate
    * bit-exact. Dangling-node mass redistributes uniformly each round
    * (the textbook-complete form): one 1-row aggregate over the
    * dangling slice, broadcast back — total mass is conserved up to
    * integer floors.
    *
    * Scale shape: each round is one edge-set join on src (edges are
    * ≤ 3N and MEMOIZED — the graph builds once, shared with q138),
    * one groupBy dst, one node-keyed left join. Rounds are O(1)
    * driver-side (3 fixed iterations), but each round references the
    * PREVIOUS rank frame three times (contribution join, dangling
    * anti-join, carry-through), so without materialization the
    * lineage re-executes multiplicatively across rounds (measured 6 s
    * at sf0.1, ~5x the per-round work) — hence the q88-style lazy
    * per-round localCheckpoint, cutting each round to one execution
    * of the last. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(spark, dir)
    val nodes = vecs(spark, dir).select(col("vec_id"))
    // loop invariants hoisted AND materialized (guide §1.2 "don't
    // compute things you throw away"): without the checkpoints each
    // iteration's actions re-ran the degree aggregate (6x) and the
    // edges-join-degrees (3x) — per-round work that never changes
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(false)
    val weighted = edges.join(outd, "src").localCheckpoint(false)
    val nn = nodes.agg(count(lit(1)).as("n_nodes")).localCheckpoint(false)
    var r = nodes.select(col("vec_id"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      r = r.localCheckpoint(false)
      val contrib = weighted
        .join(r.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // dangling mass (nodes with no out-edges) redistributes
      // uniformly — the textbook-complete form; a 1-row aggregate
      // broadcast back, still all-integer
      val share = r
        .join(outd.withColumnRenamed("src", "vec_id"),
          Seq("vec_id"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
        .crossJoin(broadcast(nn))
        .select(expr("dm div n_nodes").as("share"))
      r = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"),
          Seq("vec_id"), "left")
        .crossJoin(broadcast(share))
        .select(col("vec_id"),
          (lit(150000L) +
            expr("(850000 * (coalesce(s, 0L) + share)) div 1000000"))
            .as("r"))
    }
    r.withColumn("bucket", expr("r div 100000"))
      .withColumn("h", expr(Exprs.hash60("cast(vec_id as string)")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("r")).as("sum_rank"),
        expr("bit_xor(h)").as("node_digest"))
      .orderBy("bucket")
  }

  val pagerankSql: String = {
    def round(t: Int): String =
      s"""c$t AS (
         |  SELECT ed.dst, CAST(sum(r${t - 1}.r // od.d) AS BIGINT) AS s
         |  FROM ed JOIN od USING (src)
         |  JOIN r${t - 1} ON r${t - 1}.vec_id = ed.src
         |  GROUP BY 1),
         |g$t AS (
         |  SELECT CAST(coalesce(sum(r), 0) // (SELECT count(*) FROM n)
         |    AS BIGINT) AS share
         |  FROM r${t - 1}
         |  WHERE vec_id NOT IN (SELECT src FROM od)),
         |r$t AS (
         |  SELECT n.vec_id,
         |    150000 + (850000 * (coalesce(c$t.s, 0) + g$t.share))
         |      // 1000000 AS r
         |  FROM n LEFT JOIN c$t ON n.vec_id = c$t.dst, g$t)""".stripMargin
    s"""WITH $duckKnnEdgeCtes,
       |od AS (SELECT src, count(*) AS d FROM ed GROUP BY 1),
       |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM n),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT r // 100000 AS bucket, count(*) AS n_nodes,
       |  CAST(sum(r) AS BIGINT) AS sum_rank,
       |  bit_xor(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |    ::BIGINT) AS node_digest
       |FROM r3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // q149 contrastive pair mining
  // ---------------------------------------------------------------

  /** q149: contrastive training-pair mining — the dataset an
    * embedding model trains on: POSITIVE pairs are the lexically
    * verified near-dups (q56's shared memoized pair table — mined
    * once, consumed here a third time), NEGATIVE pairs take each
    * positive's anchor against a deterministic pseudo-random corpus
    * vector (hash of the pair identity modulo corpus size, nudged off
    * the pair's own ids), so every run and both engines draw the SAME
    * negatives — reproducible contrastive sets, like the q73/q90/q114
    * determinism discipline. The digest reports each class's count
    * and cosine statistics; the pos-vs-neg cosine gap IS the margin
    * the InfoNCE loss will see (if it is ~0, the near-dup signal is
    * too weak to train on).
    *
    * Scale shape: the pair table is duplicate-cluster-sized; each
    * side resolves its vector by an id-keyed equi-join against the
    * embeddings table; negatives add one more id-keyed join. The
    * corpus count is a 1-row broadcast. Nothing all-pairs, nothing
    * windowed. */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val n1 = e.agg(count(lit(1)).as("n_vecs"))
    val pos = Dedup.minhashPairs(spark, dir)
      .join(e.select(col("vec_id").as("ia"), col("v").as("va"),
        col("nrm").as("na")), "ia")
      .join(e.select(col("vec_id").as("ib"), col("v").as("vb"),
        col("nrm").as("nb")), "ib")
    val posScored = pos
      .select(col("ia"), col("ib"), lit("pos").as("kind"),
        round(expr("array_dot(va, vb)") / (col("na") * col("nb")), 4)
          .as("cos"))
    // negative anchor partner: hash of the pair identity mod corpus
    // size; nudge forward past the pair's own ids (collisions with a
    // DIFFERENT true near-dup are possible and harmless — they only
    // soften the measured margin, identically on both engines).
    // Derived from the RAW pair table, not from `pos`: the oracle's
    // negative set never requires ib's embedding, so neither may the
    // engine's (a pair whose ib lacks an embedding still contributes
    // its anchor's negative).
    val negIds = Dedup.minhashPairs(spark, dir).select(col("ia"), col("ib"))
      .crossJoin(broadcast(n1))
      .withColumn("nid0", expr(Exprs.hash60(
        "concat('neg:', cast(ia as string), ':', cast(ib as string))")
        + " % n_vecs"))
      .withColumn("nid", expr(
        """CASE WHEN nid0 = ia OR nid0 = ib
          |  THEN (nid0 + 1) % n_vecs ELSE nid0 END""".stripMargin))
      .withColumn("nid", expr(
        """CASE WHEN nid = ia OR nid = ib
          |  THEN (nid + 1) % n_vecs ELSE nid END""".stripMargin))
    val negScored = negIds
      .join(e.select(col("vec_id").as("ia"), col("v").as("va"),
        col("nrm").as("na")), "ia")
      .join(e.select(col("vec_id").as("nid"), col("v").as("vn"),
        col("nrm").as("nn")), "nid")
      .select(col("ia"), col("nid").as("ib"), lit("neg").as("kind"),
        round(expr("array_dot(va, vn)") / (col("na") * col("nn")), 4)
          .as("cos"))
    posScored.unionByName(negScored)
      .withColumn("h", expr(Exprs.hash60(
        "concat(kind, ':', cast(ia as string), ':', cast(ib as string))")))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("cos")), 4).as("avg_cos"),
        round(min(col("cos")), 4).as("min_cos"),
        round(max(col("cos")), 4).as("max_cos"),
        expr("bit_xor(h)").as("pair_digest"))
      .orderBy("kind")
  }

  val contrastivePairsSql: String =
    s"""WITH ${graft.queries.Dedup.duckVerifiedPairCtes},
       |v AS ($duckVecs),
       |nv AS (SELECT count(*) AS n_vecs FROM v),
       |pos AS (
       |  SELECT pairs.ia, pairs.ib, 'pos' AS kind,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
       |  FROM pairs JOIN v a ON pairs.ia = a.vec_id
       |             JOIN v b ON pairs.ib = b.vec_id),
       |ni AS (
       |  SELECT ia, ib,
       |    CASE WHEN n1 = ia OR n1 = ib THEN (n1 + 1) % n_vecs
       |         ELSE n1 END AS nid
       |  FROM (
       |    SELECT p.ia, p.ib, nv.n_vecs,
       |      CASE WHEN nid0 = p.ia OR nid0 = p.ib
       |           THEN (nid0 + 1) % nv.n_vecs ELSE nid0 END AS n1
       |    FROM (
       |      SELECT ia, ib,
       |        ('0x' || substr(md5('neg:' || CAST(ia AS VARCHAR) || ':' ||
       |          CAST(ib AS VARCHAR)), 1, 15))::BIGINT
       |          % (SELECT n_vecs FROM nv) AS nid0
       |      FROM pairs) p, nv) t),
       |neg AS (
       |  SELECT ni.ia, ni.nid AS ib, 'neg' AS kind,
       |    round(list_dot_product(a.v, n.v) / (a.nrm * n.nrm), 4) AS cos
       |  FROM ni JOIN v a ON ni.ia = a.vec_id
       |          JOIN v n ON ni.nid = n.vec_id),
       |u AS (SELECT * FROM pos UNION ALL SELECT * FROM neg)
       |SELECT kind, count(*) AS n_pairs,
       |  round(avg(cos), 4) AS avg_cos,
       |  round(min(cos), 4) AS min_cos,
       |  round(max(cos), 4) AS max_cos,
       |  bit_xor(('0x' || substr(md5(kind || ':' || CAST(ia AS VARCHAR)
       |    || ':' || CAST(ib AS VARCHAR)), 1, 15))::BIGINT) AS pair_digest
       |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q181 reciprocal-rank fusion over the ANN ladder
  // ---------------------------------------------------------------

  /** q181: reciprocal-rank fusion (Cormack et al., SIGIR 2009) over
    * three structurally different ANN indexes — the production
    * hybrid-retrieval move: instead of trusting one index family,
    * fuse the rankings of several cheap ones (IVF nprobe=2,
    * multiprobe LSH, PQ) with RRF(d) = Σ_lists 1/(60 + rank_list(d))
    * and serve the fused top-5. The output extends the q102 ladder's
    * rollup with an `rrf_fused` row, so the lift (or lack of it) over
    * every single index is an ORACLED measurement, not a claim.
    * RRF contributions are integer micro-units (1e6 div (60 + rank))
    * so the fusion involves no float anywhere.
    *
    * Scale shape: the three candidate rankings are tiny derived
    * tables (≤ 5 rows per query each, memoized signature/codebook/
    * codes tables shared with the ladder); fusion is one
    * (qid, vec_id) groupBy over ≤ 15·queries rows; the fused top-5
    * is the bounded heap. Nothing touches the corpus beyond what the
    * underlying indexes already scanned. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame = {
    val exact5 = servedTop(spark, dir, "exact",
      cosineTopK(spark, dir)).filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"))
    val methods = Seq(
      "ivf_nprobe2" -> servedTop(spark, dir, "ivf2",
        ivfAnnNprobe2(spark, dir)),
      "lsh_multiprobe" -> servedTop(spark, dir, "lshmp",
        annLshMultiprobe(spark, dir)),
      "pq" -> servedTop(spark, dir, "pq", pqAnn(spark, dir)))
    val ranked = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("qid"), col("vec_id"),
        col("rnk"))
    }.reduce(_ unionByName _)
    val fusedTop = topkRank(
      ranked.groupBy(col("qid"), col("vec_id"))
        .agg(sum(expr("1000000 div (60 + rnk)")).as("rrf"))
        .withColumn("cos", col("rrf").cast("double")),
      "qid", 5)
    val all = ranked.select(col("method"), col("qid"), col("vec_id"))
      .unionByName(fusedTop.select(lit("rrf_fused").as("method"),
        col("qid"), col("vec_id")))
    val nq = exact5.agg(countDistinct(col("qid")).as("n_queries"))
    all.join(exact5.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_results"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("method"), col("n_queries"), col("n_results"),
        col("n_hits"),
        round(col("n_hits").cast("double") / (lit(5) * col("n_queries")), 4)
          .as("recall_at_5"))
      .orderBy("method")
  }

  /** Oracle: re-derives the three variants from their own SQL
    * (verbatim derived tables, the q102 pattern), fuses with the same
    * integer RRF, and mirrors the hit rollup. */
  lazy val rankFusionSql: String =
    s"""WITH ex AS (SELECT qid, vec_id FROM ($cosineTopKSql) WHERE rnk <= 5),
       |rk AS (
       |  SELECT 'ivf_nprobe2' AS method, qid, vec_id, rnk
       |  FROM ($ivfAnnNprobe2Sql)
       |  UNION ALL
       |  SELECT 'lsh_multiprobe' AS method, qid, vec_id, rnk
       |  FROM ($annLshMultiprobeSql)
       |  UNION ALL
       |  SELECT 'pq' AS method, qid, vec_id, rnk FROM ($pqAnnSql)),
       |fs AS (
       |  SELECT qid, vec_id,
       |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf
       |  FROM rk GROUP BY 1, 2),
       |ft AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY rrf DESC, vec_id ASC) AS rn
       |    FROM fs)
       |  WHERE rn <= 5),
       |al AS (
       |  SELECT method, qid, vec_id FROM rk
       |  UNION ALL
       |  SELECT 'rrf_fused', qid, vec_id FROM ft),
       |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM ex)
       |SELECT method, n_queries, count(*) AS n_results,
       |  CAST(coalesce(sum(CASE WHEN ex.vec_id IS NOT NULL
       |    THEN 1 END), 0) AS BIGINT) AS n_hits,
       |  round(coalesce(sum(CASE WHEN ex.vec_id IS NOT NULL
       |    THEN 1 END), 0) * 1.0 / (5 * n_queries), 4) AS recall_at_5
       |FROM al LEFT JOIN ex
       |  ON al.qid = ex.qid AND al.vec_id = ex.vec_id, nq
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q187 Matryoshka truncation recall (dimension-prefix serving)
  // ---------------------------------------------------------------

  /** q187: truncated-dimension recall — the Matryoshka-representation
    * question (Kusupati et al. 2022) every embedding deployment asks
    * before buying a smaller index: if we serve only the first d of
    * 64 dimensions, how much of the full-dimension top-5 survives?
    * For each prefix d ∈ {8, 16, 32, 64}: exact cosine top-5 over
    * `slice(v, 1, d)` for the bounded probe set, scored against the
    * full-dimension top-5 — recall@5 plus the result-count carrier,
    * the q102 rollup shape applied to the dimension dial. d = 64 is
    * the built-in sanity row (recall 1.0 by construction).
    *
    * Scale shape: four passes of the q60 baseline (bounded broadcast
    * query side, bounded-heap per-partition top-k) over successively
    * cheaper dot products; at 100 TB the d-prefix scan is the whole
    * point — 8/64ths of the flops and bytes per candidate. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    def topAt(d: Int): DataFrame = {
      val ed = e.select(col("vec_id"),
        expr(s"slice(v, 1, $d)").as("vd"))
        .withColumn("nd", expr("sqrt(array_dot(vd, vd))"))
      val q = ed.filter(queryPred)
        .select(col("vec_id").as("qid"), col("vd").as("qv"),
          col("nd").as("qn"))
      val scored = ed.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", round(
          expr("array_dot(qv, vd)") / (col("qn") * col("nd")), 4))
      topkRank(scored, "qid", 5)
    }
    // memoized (not a raw .persist(), which had no unpersist path and
    // bypassed the session-end eviction — reviewer find, r10): FIVE
    // consumers read it (the recall join of every rung, the n_queries
    // aggregate) and the d = 64 rung IS this table — re-running the
    // full-dimension scoring pass just to produce the by-construction
    // recall-1.0 row was the advisor's round-9 note
    val full = memo(spark, dir, "matryoshka_full") {
      topAt(Dim).select(col("qid"), col("vec_id"))
    }
    val nq = full.agg(countDistinct(col("qid")).as("n_queries"))
    Seq(8, 16, 32, 64).map { d =>
      (if (d == Dim) full else topAt(d).select(col("qid"), col("vec_id")))
        .join(full.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_results"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(lit(d).as("dims"), col("n_results"), col("n_hits"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(nq))
      .select(col("dims"), col("n_queries"), col("n_results"),
        col("n_hits"),
        round(col("n_hits").cast("double") / (lit(5) * col("n_queries")), 4)
          .as("recall_at_5"))
      .orderBy("dims")
  }

  val matryoshkaRecallSql: String = {
    def topAt(d: Int, name: String): String =
      s"""$name AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, n.vec_id,
         |      round(list_dot_product(q.qv, n.vd) / (q.qn * n.nd), 4)
         |        AS cos,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY round(list_dot_product(q.qv, n.vd)
         |          / (q.qn * n.nd), 4) DESC, n.vec_id ASC) AS rnk
         |    FROM (SELECT vec_id AS qid, vd AS qv, nd AS qn FROM d$d
         |          WHERE $queryPredSql) q
         |    JOIN d$d n ON n.vec_id != q.qid)
         |  WHERE rnk <= 5)""".stripMargin
    def dims(d: Int): String =
      s"""d$d AS (
         |  SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nd
         |  FROM (SELECT vec_id, list_slice(v, 1, $d) AS vd
         |        FROM nv))""".stripMargin
    val ds = Seq(8, 16, 32, 64)
    s"""WITH nv AS ($duckVecs),
       |${ds.map(dims).mkString(",\n")},
       |${ds.map(d => topAt(d, s"t$d")).mkString(",\n")},
       |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM t64),
       |u AS (${ds.map(d =>
             s"SELECT $d AS dims, qid, vec_id FROM t$d")
             .mkString("\n  UNION ALL\n")})
       |SELECT dims, n_queries, count(*) AS n_results,
       |  CAST(coalesce(sum(CASE WHEN f.vec_id IS NOT NULL
       |    THEN 1 END), 0) AS BIGINT) AS n_hits,
       |  round(coalesce(sum(CASE WHEN f.vec_id IS NOT NULL
       |    THEN 1 END), 0) * 1.0 / (5 * n_queries), 4) AS recall_at_5
       |FROM u LEFT JOIN t64 f
       |  ON u.qid = f.qid AND u.vec_id = f.vec_id, nq
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // q182 semantic decontamination (embedding-space eval-leak scan)
  // ---------------------------------------------------------------

  /** Eval-slice budget: vec_id % 97 == 0 (q89's eval-slice
    * convention) capped to the first [[DeconBudget]] members — eval
    * sets are fixed-size artifacts in production, so the broadcast
    * side is bounded by construction, the [[QueryBudget]] discipline. */
  private val DeconBudget = 64

  private def deconEvalPred =
    col("vec_id") % 97 === 0 && col("vec_id") < lit(97L * DeconBudget)

  private val deconEvalPredSql =
    s"vec_id % 97 = 0 AND vec_id < ${97L * DeconBudget}"

  /** q182: SEMANTIC decontamination — the embedding-space complement
    * of q89's n-gram scan: a paraphrased eval question shares no
    * 4-gram with its source but sits at high cosine to it, which is
    * exactly the leak n-gram decontamination is known to miss. Every
    * non-eval vector is flagged when its ROUNDED cosine (4dp — the
    * engine-wide rule, so the ≥ 0.5 threshold cannot sit on a float
    * boundary between engines) to ANY eval vector reaches 0.5.
    * Digested per label: corpus size, flagged count, flagged ppm,
    * and the flagged-id fingerprint the corpus build excludes by.
    *
    * Scale shape: the eval side is a bounded broadcast
    * ([[DeconBudget]]); the corpus side is ONE scan through the
    * broadcast nested-loop semi-join (each partition checks its
    * vectors against the in-memory eval set and emits a flag — no
    * shuffle of the corpus, no candidate generation); the rollup is
    * one (label) aggregate. The same pass at 100 TB is the
    * eval-embedding sweep run before every corpus release. */
  def semanticDecon(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val ev = e.filter(deconEvalPred)
      .select(col("vec_id").as("eid"), col("v").as("evv"),
        col("nrm").as("evn"))
    val train = e.filter(!deconEvalPred)
    val flagged = train
      .join(broadcast(ev),
        round(expr("array_dot(evv, v)") / (col("evn") * col("nrm")), 4)
          >= 0.5,
        "left_semi")
      .select(col("vec_id"), lit(1L).as("f"))
    train.select(col("vec_id"), col("label"))
      .join(flagged, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(col("f")), lit(0L)).as("n_flagged"),
        expr("(coalesce(sum(f), 0) * 1000000) div count(1)")
          .as("flagged_ppm"),
        coalesce(expr(s"bit_xor(CASE WHEN f = 1 THEN " +
          s"${Exprs.hash60("cast(vec_id as string)")} END)"), lit(0L))
          .as("flagged_digest"))
      .orderBy("label")
  }

  val semanticDeconSql: String =
    s"""WITH n AS ($duckVecs),
       |ev AS (SELECT vec_id AS eid, v AS evv, nrm AS evn FROM n
       |       WHERE $deconEvalPredSql),
       |tr AS (SELECT vec_id, label, v, nrm FROM n
       |       WHERE NOT ($deconEvalPredSql)),
       |fl AS (
       |  SELECT DISTINCT tr.vec_id FROM tr JOIN ev
       |    ON round(list_dot_product(evv, v) / (evn * nrm), 4) >= 0.5),
       |m AS (
       |  SELECT tr.vec_id, tr.label,
       |    CASE WHEN fl.vec_id IS NOT NULL THEN 1 END AS f
       |  FROM tr LEFT JOIN fl ON tr.vec_id = fl.vec_id)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(coalesce(sum(f), 0) AS BIGINT) AS n_flagged,
       |  CAST((coalesce(sum(f), 0) * 1000000) // count(*) AS BIGINT)
       |    AS flagged_ppm,
       |  coalesce(bit_xor(CASE WHEN f = 1 THEN
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    END), 0) AS flagged_digest
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q174 hard-negative mining (dedup-cluster-excluded ANN negatives)
  // ---------------------------------------------------------------

  /** q174: hard-negative mining — the ANCE/contriever-style upgrade
    * of q149's RANDOM negatives: for each probe query the negatives
    * that actually teach an embedding model are the HIGHEST-cosine
    * corpus vectors that are NOT near-duplicates of the anchor.
    * "Not a near-duplicate" is decided by the shared q88 dedup
    * clusters ([[Curation.dupClusterLabels]]): any vector in the
    * query's own connected component is a potential positive and is
    * excluded, so a mined negative can never be a paraphrase of the
    * anchor (the false-negative poison hard-negative mining is known
    * for). Output: top-5 hard negatives per query with their cosines
    * — exactly the per-anchor negative set an InfoNCE batch builder
    * would consume.
    *
    * Scale shape: identical to q60's baseline (the bounded
    * [[QueryBudget]] query side — now carrying its cluster root — is
    * broadcast; each scan partition reduces to ≤2k rows per query
    * before the shuffle via the bounded-heap [[topkRank]]), plus ONE
    * id-keyed equi-join attaching cluster roots to the corpus (the
    * label table is duplicate-cluster-sized, already memoized for
    * q88/q122/q123/q165). The cluster-exclusion predicate rides the
    * broadcast join — no extra shuffle anywhere. At 100 TB the root
    * column is a precomputed column written by the dedup run, and
    * this is a single scan. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val roots = Curation.dupClusterLabels(spark, dir)
      .select(col("node").as("vec_id"), col("label").as("cc_root"))
    val corp = e.join(roots, Seq("vec_id"), "left")
      .select(col("vec_id"), col("v"), col("nrm"),
        coalesce(col("cc_root"), col("vec_id")).as("root"))
    val q = corp.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("root").as("qroot"))
    val scored = corp.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("root") =!= col("qroot"))
      .withColumn("cos", round(
        expr("array_dot(qv, v)") / (col("qn") * col("nrm")), 4))
    topkRank(scored, "qid", 5)
  }

  val hardNegativesSql: String =
    s"""WITH RECURSIVE ${graft.queries.Dedup.duckVerifiedPairCtes},
       |e AS (SELECT ia AS u, ib AS v FROM pairs
       |      UNION SELECT ib, ia FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.n),
       |lab AS (SELECT n AS node, min(r) AS root FROM reach GROUP BY 1),
       |nv AS ($duckVecs),
       |c0 AS (
       |  SELECT vec_id, v, nrm, coalesce(lab.root, vec_id) AS root
       |  FROM nv LEFT JOIN lab ON nv.vec_id = lab.node),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, root AS qroot
       |      FROM c0 WHERE $queryPredSql),
       |c AS (SELECT qid, vec_id,
       |        round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
       |      FROM q, c0 WHERE vec_id != qid AND root != qroot),
       |r AS (SELECT qid, vec_id, cos,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM c)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q176 embedding-space outlier detection (off-manifold pruning)
  // ---------------------------------------------------------------

  /** q176: embedding-space outlier detection — the curation pass that
    * complements SemDeDup (q132 prunes what is too CLOSE to the
    * manifold's modes; this flags what is too FAR from the manifold
    * entirely: encoding junk, wrong-modality blobs, adversarial
    * inputs). Every vector is scored by cosine to the GLOBAL corpus
    * centroid, the scores are standardized (z = (cos − μ)/σ), and the
    * per-class bottom-3 (most negative z, i.e. most off-manifold) are
    * emitted with their z-scores — the review queue a curation run
    * hands to a human or a stricter model.
    *
    * Determinism: centroid components round to 6dp (the kmeans
    * discipline), cosines to 4dp, μ/σ to 6dp, z to 4dp — every
    * cross-engine float boundary is rounded before it can drift.
    * Bottom-k replaces a `z < −τ` threshold precisely because a
    * threshold puts a hash-equality gate on a float boundary; the
    * fixed-k queue is also what a bounded review budget wants.
    *
    * Scale shape: the centroid is one posexplode + (dim)-keyed
    * two-phase avg (64 partial rows per task), rebuilt and broadcast
    * as a 1-row crossJoin; μ/σ is a second 1-row aggregate broadcast
    * back; the bottom-k per label is the bounded-heap [[topkRank]]
    * (map-side ≤2k rows per class cross the shuffle). Three corpus
    * scans, no corpus shuffle, nothing all-pairs. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x")).as("cx"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(i, cx))), s -> round(s.cx, 6))")
        .as("cv"))
      .withColumn("cn", expr("sqrt(array_dot(cv, cv))"))
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("cosc", round(
        expr("array_dot(cv, v)") / (col("cn") * col("nrm")), 4))
    val stats = scored.agg(round(avg(col("cosc")), 6).as("mu"),
      round(expr("stddev_pop(cosc)"), 6).as("sd"))
    // negated z in the TopK's `cos` slot: the bounded heap keeps the
    // LARGEST zneg = most off-manifold; the final projection flips
    // the sign back.
    val z = scored.crossJoin(broadcast(stats))
      .withColumn("cos", round((col("mu") - col("cosc")) / col("sd"), 4))
    topkRank(z, "label", 3)
      .select(col("label"), col("rnk"), col("vec_id"),
        (-col("cos")).as("z"))
  }

  val embeddingOutliersSql: String =
    s"""WITH n AS ($duckVecs),
       |flat AS (SELECT i, v[i] AS x FROM n, range(1, ${Dim + 1}) t(i)),
       |cm AS (SELECT i, round(avg(x), 6) AS cx FROM flat GROUP BY 1),
       |cent AS (SELECT list(cx ORDER BY i) AS cv FROM cm),
       |cn AS (SELECT cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
       |s AS (SELECT vec_id, label,
       |        round(list_dot_product(cv, v) / (cn * nrm), 4) AS cosc
       |      FROM n, cn),
       |st AS (SELECT round(avg(cosc), 6) AS mu,
       |              round(stddev_pop(cosc), 6) AS sd FROM s),
       |zt AS (SELECT vec_id, label,
       |         round((mu - cosc) / sd, 4) AS zneg FROM s, st),
       |r AS (SELECT label, vec_id, zneg,
       |        row_number() OVER (PARTITION BY label
       |          ORDER BY zneg DESC, vec_id ASC) AS rnk
       |      FROM zt)
       |SELECT label, rnk, vec_id, -zneg AS z FROM r WHERE rnk <= 3
       |ORDER BY label, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q177 label propagation over the kNN graph (semi-supervised)
  // ---------------------------------------------------------------

  /** q177: two rounds of label propagation (Zhu & Ghahramani 2002)
    * over the shared q138 kNN edge set — the semi-supervised
    * classifier that turns a small labeled seed set plus a neighbor
    * graph into corpus-wide labels (the cheap way to extend a
    * human-labeled sample to 100 TB once a kNN artifact exists).
    * Seeds (vec_id % 4 == 0) keep their true label and stay clamped;
    * each synchronous round labels every still-unlabeled node with
    * the MAJORITY label among its already-labeled undirected
    * neighbors (tie → smallest label; once assigned, a label is
    * final). The output grades itself: per (true label, status ∈
    * seed/propagated/unlabeled) — node count, how many propagated
    * labels match the truth, and an id digest.
    *
    * Determinism: votes are integer counts; the argmax is
    * `max(struct(votes, -label))` so ties break toward the SMALLEST
    * label on both engines — no float anywhere.
    *
    * Scale shape: each round is one edge-set join (≤6N undirected
    * rows) against the labeled frontier + one (node, label) count +
    * one node-keyed argmax aggregate — never corpus², rounds fixed at
    * 2, each round lazily localCheckpoint-ed (the q145 lesson:
    * iterative lineage re-executes multiplicatively without it). */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(spark, dir)
    // loop-invariant undirected edge set, materialized once — both
    // voting rounds re-ran its union+distinct shuffle otherwise
    // (guide §1.2)
    val und = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(false)
    val nodes = vecs(spark, dir).select(col("vec_id"), col("label"))
    var lab = nodes.select(col("vec_id"),
      when(col("vec_id") % 4 === 0, col("label")).as("plab"),
      when(col("vec_id") % 4 === 0, lit("seed")).as("status"))
      .localCheckpoint(false)
    for (_ <- 1 to 2) {
      val votes = und
        .join(lab.filter(col("plab").isNotNull)
          .select(col("vec_id").as("dst"), col("plab").as("nlab")), "dst")
        .groupBy(col("src"), col("nlab"))
        .agg(count(lit(1)).as("nv"))
        .groupBy(col("src"))
        .agg(max(struct(col("nv"), (-col("nlab")).as("neg"))).as("w"))
        .select(col("src").as("vec_id"), (-col("w.neg")).as("vlab"))
      lab = lab.join(votes, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("plab"), col("vlab")).as("plab"),
          coalesce(col("status"),
            when(col("vlab").isNotNull, lit("propagated"))).as("status"))
        .localCheckpoint(false)
    }
    lab.join(nodes, Seq("vec_id"))
      .groupBy(col("label"), coalesce(col("status"), lit("unlabeled"))
        .as("status"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("plab") === col("label") &&
          col("status") === "propagated", 1L).otherwise(0L))
          .as("n_correct_prop"),
        expr(s"bit_xor(${Exprs.hash60("cast(vec_id as string)")})")
          .as("id_digest"))
      .orderBy("label", "status")
  }

  val labelPropagationSql: String = {
    // one synchronous round: everything labeled in `prev` votes;
    // still-unlabeled nodes adopt the majority (tie -> smallest label)
    def round(prev: String, out: String): String =
      s"""v_$out AS (
         |  SELECT und.src, p.plab AS nlab, count(*) AS nv
         |  FROM und JOIN $prev p ON und.dst = p.vec_id
         |  WHERE p.plab IS NOT NULL
         |  GROUP BY 1, 2),
         |w_$out AS (
         |  SELECT src AS vec_id, nlab AS vlab FROM (
         |    SELECT src, nlab, row_number() OVER (PARTITION BY src
         |      ORDER BY nv DESC, nlab ASC) AS rn
         |    FROM v_$out)
         |  WHERE rn = 1),
         |$out AS (
         |  SELECT p.vec_id,
         |    coalesce(p.plab, w.vlab) AS plab,
         |    coalesce(p.status,
         |      CASE WHEN w.vlab IS NOT NULL THEN 'propagated' END)
         |      AS status
         |  FROM $prev p LEFT JOIN w_$out w ON p.vec_id = w.vec_id)"""
        .stripMargin
    s"""WITH $duckKnnEdgeCtes,
       |und AS (SELECT src, dst FROM ed
       |        UNION SELECT dst, src FROM ed),
       |l0 AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 4 = 0 THEN label END AS plab,
       |    CASE WHEN vec_id % 4 = 0 THEN 'seed' END AS status
       |  FROM n),
       |${round("l0", "l1")},
       |${round("l1", "l2")}
       |SELECT n.label, coalesce(l2.status, 'unlabeled') AS status,
       |  count(*) AS n,
       |  CAST(sum(CASE WHEN l2.plab = n.label
       |    AND l2.status = 'propagated' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct_prop,
       |  bit_xor(('0x' || substr(md5(CAST(n.vec_id AS VARCHAR)), 1, 15))
       |    ::BIGINT) AS id_digest
       |FROM n JOIN l2 ON n.vec_id = l2.vec_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------
  // q152 NN-Descent refinement round
  // ---------------------------------------------------------------

  /** q152: one NN-Descent round (Dong et al., WWW'11) over the shared
    * kNN graph — the published way to IMPROVE an LSH-built graph
    * without touching all pairs: a node's neighbors' neighbors are
    * better candidates than random buckets, so rescore the graph over
    * {current edges} ∪ {2-hop pairs} and keep each node's new top-3.
    * The digest measures what the round bought: per-node neighbor
    * quality BEFORE vs AFTER as integer micro-cosine sums
    * (round(cos·10⁴) — per-node sums of doubles would expose
    * cross-engine addition order), plus the improved-node count and
    * fingerprint.
    *
    * Scale shape: the 2-hop expansion is an equality self-join of the
    * MEMOIZED ≤3N edge set on the shared vertex (≤9N candidate rows —
    * never corpus²); scoring joins vectors by id; the keep step is
    * the bounded-heap TopKAgg. This is exactly one NN-Descent
    * iteration; production runs it to convergence with the same
    * per-round cost envelope. */
  /** Score (src, dst) pairs with the rounded corpus cosine — shared
    * by the NN-Descent round and the refined-edge memo. */
  private def scorePairs(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    pairs
      .join(e.select(col("vec_id").as("src"), col("v").as("sv"),
        col("nrm").as("sn")), "src")
      .join(e.select(col("vec_id").as("dst"), col("v").as("dv"),
        col("nrm").as("dn")), "dst")
      .withColumn("cos", round(
        expr("array_dot(sv, dv)") / (col("sn") * col("dn")), 4))
      .select(col("src"), col("dst"), col("cos"))
  }

  /** The NN-Descent round's OUTPUT graph — each node's top-3 over
    * {current edges} ∪ {2-hop pairs}, rescored — memoized + persisted
    * per (session, dir) and shared by q152 (round digest) and q168
    * (beam search): the refined graph is the artifact an ANN pipeline
    * writes after each improvement round and SERVES from, so the
    * search operator walks this one, not the raw LSH-candidate graph. */
  private[queries] def refinedEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "nn_refined_edges") {
      refineFrom(spark, dir, knnEdges(spark, dir))
    }

  /** One NN-Descent improvement round over an arbitrary edge set —
    * factored so q198 refines the BASE-only graph. (scorePairs reads
    * the full vector table, which is a superset of any edge set's
    * endpoints — scoring only touches referenced ids.) */
  private def refineFrom(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
      val twoHop = edges.as("e1")
        .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      scorePairs(spark, dir, twoHop.unionByName(edges).distinct())
        .groupBy(col("src"))
        .agg(graft.functions.TopK.topK(3)(col("cos"), col("dst")).as("tk"))
        .select(col("src"), explode(col("tk")).as("s"))
        .select(col("src"), col("s.vec_id").as("dst"), col("s.cos").as("cos"))
    }

  def nnDescent(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(spark, dir)
    val before = scorePairs(spark, dir, edges)
      .withColumn("c4", expr("cast(round(cos * 10000) as bigint)"))
      .groupBy(col("src"))
      .agg(sum(col("c4")).as("before4"))
    val after = refinedEdges(spark, dir)
      .withColumn("c4", expr("cast(round(cos * 10000) as bigint)"))
      .groupBy(col("src"))
      .agg(sum(col("c4")).as("after4"))
    before.join(after, "src")
      .withColumn("improved", (col("after4") > col("before4")).cast("long"))
      .withColumn("h", expr(Exprs.hash60("cast(src as string)")))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("improved")).as("n_improved"),
        sum(col("before4")).as("sum_cos4_before"),
        sum(col("after4")).as("sum_cos4_after"),
        coalesce(expr(
          "bit_xor(CASE WHEN improved = 1 THEN h END)"), lit(0L))
          .as("improved_digest"))
  }

  /** DuckDB mirror of [[refinedEdges]]: appends the 2-hop expansion
    * (`cu`), rescore (`rs`), and per-node top-3 (`rf`) CTEs to
    * [[duckKnnEdgeCtes]] — ONE definition shared by the q152 and q168
    * oracles, like the raw-edge CTEs it extends. */
  private def duckRefinedEdgeCtes: String =
    s"""$duckKnnEdgeCtes,
       |cu AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT e1.src, e2.dst FROM ed e1 JOIN ed e2
       |      ON e1.dst = e2.src
       |    WHERE e1.src != e2.dst
       |    UNION ALL SELECT src, dst FROM ed)),
       |rs AS (
       |  SELECT cu.src, cu.dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
       |  FROM cu JOIN n a ON cu.src = a.vec_id
       |          JOIN n b ON cu.dst = b.vec_id),
       |rf AS (
       |  SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst ASC) AS rn
       |    FROM rs)
       |  WHERE rn <= 3)""".stripMargin

  val nnDescentSql: String =
    s"""WITH $duckRefinedEdgeCtes,
       |sc AS (
       |  SELECT ed.src, ed.dst,
       |    CAST(round(round(list_dot_product(a.v, b.v)
       |      / (a.nrm * b.nrm), 4) * 10000) AS BIGINT) AS c4
       |  FROM ed JOIN n a ON ed.src = a.vec_id
       |          JOIN n b ON ed.dst = b.vec_id),
       |bf AS (SELECT src, CAST(sum(c4) AS BIGINT) AS before4
       |       FROM sc GROUP BY 1),
       |af AS (
       |  SELECT src, CAST(sum(CAST(round(cos * 10000) AS BIGINT))
       |    AS BIGINT) AS after4
       |  FROM rf GROUP BY 1),
       |j AS (
       |  SELECT bf.src, bf.before4, af.after4,
       |    CASE WHEN af.after4 > bf.before4 THEN 1 ELSE 0 END AS improved
       |  FROM bf JOIN af ON bf.src = af.src)
       |SELECT count(*) AS n_nodes,
       |  CAST(sum(improved) AS BIGINT) AS n_improved,
       |  CAST(sum(before4) AS BIGINT) AS sum_cos4_before,
       |  CAST(sum(after4) AS BIGINT) AS sum_cos4_after,
       |  coalesce(bit_xor(CASE WHEN improved = 1 THEN
       |    ('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 15))::BIGINT END),
       |    0) AS improved_digest
       |FROM j""".stripMargin

  // ---------------------------------------------------------------
  // q168 graph-search ANN (beam search over the kNN graph)
  // ---------------------------------------------------------------

  /** q168 beam-search knobs: entry beam (top-E of the deterministic
    * seed sample), working beam width B, and hop count H. At 100 TB
    * these are the recall/cost dials every graph-ANN deployment
    * exposes; per query the search touches E + H·B·3 candidates —
    * independent of corpus size. */
  private val BeamSeeds = 64
  private val BeamEntry = 8
  private val BeamWidth = 16
  private val BeamHops = 4

  /** q168: graph-search ANN — greedy beam search over the NN-Descent
    * REFINED graph ([[refinedEdges]], the artifact q152's improvement
    * round writes), the HNSW/DiskANN-shaped family the q102 ladder's
    * other rungs (LSH buckets, IVF cells, PQ codes) don't cover, and
    * the one most production ANN services actually serve from: an
    * index probe is a WALK (entry points → expand neighbors → keep
    * the beam → repeat), so each query reads O(E + H·B·deg) graph
    * rows instead of scanning cells or buckets.
    *
    * Entry: the query scores the [[seedRows]] deterministic
    * smallest-md5 sample ([[BeamSeeds]] rows — fixed and
    * corpus-size-independent, the published medoid/sample entry
    * shape) and keeps its top-[[BeamEntry]]. Each of [[BeamHops]]
    * hops expands the frontier's out-edges (≤3 per node), scores the
    * new candidates against the query, and re-beams to [[BeamWidth]]
    * over frontier ∪ neighbors via the bounded-heap
    * [[graft.functions.TopKAgg]] — never a window sort. The answer is
    * the top-5 of everything VISITED.
    *
    * Scale shape: the frontier is queries×B rows and is BROADCAST to
    * both the edge expansion and the scoring join, so no hop ever
    * shuffles the corpus or the edge table — the per-hop work is a
    * broadcast-hash probe into the memoized edge set (at 100 TB: the
    * serving tier's random reads into the graph store, here the
    * persisted edge memo). Cosines round to 4 decimals before every
    * beam cut and ties break on vec_id, so the walk — and therefore
    * the visited set — is deterministic and oracle-mirrorable hop by
    * hop.
    *
    * Measured honestly in the q102 ladder: on the harness's synthetic
    * near-uniform embeddings the walk's recall@5 sits at
    * sample-chance level (~visited/N — there is no local structure
    * for the graph to navigate; every graph method degrades to
    * chance on uniform random vectors), while on clustered data the
    * same walk finds whole neighborhoods (SimilaritySpec's 8-cluster
    * corpus: 5/5 cluster mates per query). That contrast is exactly
    * what the ladder exists to surface — recall is a property of
    * index × data, and a deployment monitors it continuously. */
  def graphBeamAnn(spark: SparkSession, dir: String): DataFrame = {
    // The ranked result is itself memoized: q168 and the q102 ladder
    // both consume it, and the walk is a deterministic derived table
    // of queries×5 rows — one walk per (session, dir), like every
    // other shared index artifact here.
    memo(spark, dir, "graph_beam_result")(graphBeamWalk(spark, dir))
      .orderBy("qid", "rnk")
  }

  /** The walk with its hop knob exposed (`graft.Dev beam` measures
    * the H=1..4 recall/cost curve for BENCH_NOTES; q168 serves the
    * production H = [[BeamHops]]). */
  private[graft] def graphBeamWalk(spark: SparkSession, dir: String,
      hops: Int = BeamHops): DataFrame =
    beamWalkOver(spark,
      vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm")),
      vecs(spark, dir).filter(queryPred)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")),
      refinedEdges(spark, dir).select(col("src"), col("dst")),
      seedRows(spark, dir, BeamSeeds).select(col("vec_id")),
      hops, 5)

  /** The beam walk over arbitrary (corpus, queries, graph, seeds) —
    * factored so q198's incremental insert can walk DELTA vectors
    * into the BASE graph (corpus/edges/seeds all base-only). */
  private def beamWalkOver(spark: SparkSession, e: DataFrame,
      q: DataFrame, edges: DataFrame, seeds: DataFrame, hops: Int,
      k: Int): DataFrame = {
    // score (qid, vec_id) candidate pairs: corpus side probes the
    // broadcast candidate list, query vectors broadcast alongside.
    // (Measured negative, r16: pre-joining cand with q inside ONE
    // broadcast did not reduce the job count — the pre-join's own
    // stages replace the saved exchange — so the two-broadcast form
    // stays.)
    def score(cand: DataFrame): DataFrame =
      e.join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(q), Seq("qid"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", round(
          expr("array_dot(qv, v)") / (col("qn") * col("nrm")), 4))
        .select(col("qid"), col("vec_id"), col("cos"))
    def beam(scored: DataFrame, b: Int): DataFrame =
      scored.groupBy(col("qid"))
        .agg(graft.functions.TopK.topK(b)(col("cos"), col("vec_id")).as("tk"))
        .select(col("qid"), explode(col("tk")).as("s"))
        .select(col("qid"), col("s.vec_id").as("vec_id"),
          col("s.cos").as("cos"))
    // Per-hop materialization (the q145 per-round discipline): the
    // frontier's lineage feeds BOTH the next hop and the visited
    // union, so without the lazy localCheckpoint each level's join
    // tree would be re-executed ~2^H times by the final ranking —
    // measured as a ~10x blowup on the sf0.1 ladder before the cut.
    // BOTH the frontier and each hop's scored set are checkpointed:
    // every score() is a probe into the CORPUS table, so an
    // unmaterialized scored tree re-executed by the final ranking is
    // a whole extra corpus scan — at 100 TB the job-barrier cost of
    // the checkpoint (frames are queries×B rows) is nothing next to
    // one avoided scan; each hop therefore scans the corpus exactly
    // once.
    val entry = beam(score(q.select(col("qid"))
      .join(broadcast(seeds), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))), BeamEntry)
      .localCheckpoint(false)
    var frontier = entry
    var visited = entry
    for (_ <- 1 to hops) {
      val neigh = edges
        .join(broadcast(frontier.select(col("qid"), col("vec_id").as("src"))),
          Seq("src"))
        .filter(col("dst") =!= col("qid"))
        .select(col("qid"), col("dst").as("vec_id"))
      val scored = score(neigh).localCheckpoint(false)
      visited = visited.unionByName(scored)
      frontier = beam(frontier.unionByName(scored), BeamWidth)
        .localCheckpoint(false)
    }
    topkRank(visited, "qid", k)
  }

  /** DuckDB mirror of [[graphBeamAnn]]: the hop loop unrolled as one
    * (expand, score, re-beam) CTE triple per hop over the shared
    * [[duckKnnEdgeCtes]] edge set; UNION (not UNION ALL) dedups
    * exactly where the bounded-heap aggregate collapses duplicate
    * entries. */
  val graphBeamAnnSql: String = {
    val hops = (1 to BeamHops).map { h =>
      s"""g$h AS (
         |  SELECT DISTINCT f.qid, re.dst AS vec_id
         |  FROM f${h - 1} f JOIN re ON f.vec_id = re.src
         |  WHERE re.dst != f.qid),
         |sc$h AS (
         |  SELECT g.qid, g.vec_id,
         |    round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 4) AS cos
         |  FROM g$h g JOIN n ON g.vec_id = n.vec_id JOIN q ON g.qid = q.qid),
         |f$h AS (
         |  SELECT qid, vec_id, cos FROM (
         |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rn
         |    FROM (SELECT * FROM f${h - 1} UNION SELECT * FROM sc$h))
         |  WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")
    val visited = (1 to BeamHops).map(h => s"SELECT * FROM sc$h")
      .mkString(" UNION ")
    s"""WITH $duckRefinedEdgeCtes,
       |re AS (SELECT src, dst FROM rf),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
       |      WHERE $queryPredSql),
       |sd AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id,
       |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |        AS hk
       |    FROM n)
       |  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $BeamSeeds),
       |s0 AS (
       |  SELECT q.qid, sd.vec_id,
       |    round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 4) AS cos
       |  FROM sd JOIN n ON sd.vec_id = n.vec_id JOIN q
       |    ON sd.vec_id != q.qid),
       |f0 AS (
       |  SELECT qid, vec_id, cos FROM (
       |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id ASC) AS rn
       |    FROM s0)
       |  WHERE rn <= $BeamEntry),
       |$hops,
       |vis AS (SELECT * FROM f0 UNION $visited),
       |r AS (
       |  SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, vec_id ASC) AS rnk
       |  FROM vis)
       |SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  // q198 incremental graph insert (delta vectors into the base graph)
  // ---------------------------------------------------------------

  /** q198: incremental kNN-GRAPH maintenance — the last shared index
    * artifact to get a delta path (q191 signatures/labels, q193
    * codebook, q194 postings; this for the NN-Descent graph the
    * q168 serving tier walks). A graph rebuild re-runs the banded
    * self-join + refinement over the corpus; the standard production
    * insert instead WALKS each new vector into the existing graph
    * (the HNSW/DiskANN insert): beam-search the BASE graph from the
    * base seed sample with the delta vector as the query, and keep
    * the top-3 of everything visited as its out-edges. Per delta
    * vector that is E + H·B·deg bounded graph reads — independent of
    * corpus size.
    *
    * Because the graph is an APPROXIMATE artifact, the oracle proof
    * is not incremental == rebuild (two approximations legitimately
    * differ); instead BOTH sides are computed exactly in both
    * engines: the inserted edges (count, nodes, mean cosine, edge
    * digest) next to the full rebuild's edges for the SAME delta
    * nodes ([[refinedEdges]] restricted to delta sources). The
    * mean-cosine gap between the rows is the measured quality delta
    * of inserting instead of rebuilding — and at sf0.01 it runs in
    * the INSERT's favor (0.26 vs 0.09 mean cosine, 63/63 vs 42/63
    * delta nodes covered): the banded rebuild only links nodes that
    * drew an LSH collision, while the walk always yields 3 edges per
    * vector from its visited set. The insert is not merely the cheap
    * path; on collision-sparse data it is the better graph. */
  def incrementalGraphInsert(
      spark: SparkSession, dir: String): DataFrame = {
    graphInsertCompareFrom(spark, dir, baseRefinedGraph(spark, dir),
      refinedEdges(spark, dir)
        .filter(col("src") > vecDeltaThreshold(spark, dir)))
  }

  /** Yesterday's artifact: the refined graph over base vectors only —
    * exposed for the cold-restart publish (q207). */
  private[queries] def baseRefinedGraph(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "nn_refined_base") {
      refineFrom(spark, dir,
        knnEdgesFrom(sigTable(spark, dir)
          .filter(col("vec_id") <= vecDeltaThreshold(spark, dir))))
    }

  /** The q198 body from EXPLICIT inputs — the cold-restart seam
    * (q207): `baseRefined` is the disk-read artifact the fresh
    * session walks (nothing below here touches a session memo for
    * the INSERT side); `rebuilt` is the oracle's comparison bar (the
    * full rebuild's delta-source edges), computed wherever it is
    * already memoized — it is not an input the incremental path
    * consumes, only the quality bar both engines restate. */
  private[queries] def graphInsertCompareFrom(spark: SparkSession,
      dir: String, baseRefined: DataFrame, rebuilt: DataFrame): DataFrame = {
    val thr = vecDeltaThreshold(spark, dir)
    val baseVecs = vecs(spark, dir).filter(col("vec_id") <= thr)
      .select(col("vec_id"), col("v"), col("nrm"))
    val deltaQ = vecs(spark, dir).filter(col("vec_id") > thr)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = seedRowsOf(vecs(spark, dir).filter(col("vec_id") <= thr),
      BeamSeeds).select(col("vec_id"))
    val inserted = beamWalkOver(spark, baseVecs, deltaQ,
      baseRefined.select(col("src"), col("dst")), seeds, BeamHops, 3)
      .select(col("qid").as("src"), col("vec_id").as("dst"), col("cos"))
    def digest(df: DataFrame, side: String) = df
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(src as string), ':', cast(dst as string))")))
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_nodes"),
        round(avg(col("cos")), 6).as("mean_cos"),
        expr("bit_xor(h)").as("edge_digest"))
      .select(lit(side).as("side"), col("n_edges"), col("n_nodes"),
        col("mean_cos"), col("edge_digest"))
    digest(inserted, "incremental").unionByName(digest(rebuilt, "rebuild"))
      .orderBy("side")
  }

  /** Suffix-parameterized base-restricted edge chain (knn + one
    * refinement round) reading vectors from CTE `nb` — the q198
    * oracle needs the BASE graph and the FULL graph in one query,
    * so the fixed-name [[duckKnnEdgeCtes]] cannot serve both. */
  private def duckBaseChain: String =
    s"""bB AS (SELECT vec_id, v, nrm, ($duckSig) AS sig FROM nb),
       |candB AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
       |  FROM bB a JOIN bB b ON ${duckBandMatch("a.sig", "b.sig")}
       |    AND a.vec_id != b.vec_id),
       |edB AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst ASC) AS rn
       |    FROM candB)
       |  WHERE rn <= 3),
       |cuB AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT e1.src, e2.dst FROM edB e1 JOIN edB e2
       |      ON e1.dst = e2.src
       |    WHERE e1.src != e2.dst
       |    UNION ALL SELECT src, dst FROM edB)),
       |rsB AS (
       |  SELECT cuB.src, cuB.dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
       |  FROM cuB JOIN nb a ON cuB.src = a.vec_id
       |           JOIN nb b ON cuB.dst = b.vec_id),
       |reB AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst ASC) AS rn
       |    FROM rsB)
       |  WHERE rn <= 3)""".stripMargin

  /** Artifact-size scalars for q197's publish_store oracle: rows the
    * published base codebook (trained cells) and base refined graph
    * (edges) must attest, from the same CTEs the q193/q198 oracles
    * use. */
  private[queries] lazy val baseCodebookCountSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) FROM (
       |WITH nv AS ($duckVecs),
       |thrv AS (SELECT max(vec_id) * 7 // 8 AS thr FROM nv),
       |n AS (SELECT nv.* FROM nv, thrv WHERE vec_id <= thr
       |      AND ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |          % 2 = 0),
       |$duckKmeansCtes
       |SELECT cell FROM c$IvfIters)""".stripMargin

  private[queries] lazy val baseGraphCountSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) FROM (
       |WITH nv AS ($duckVecs),
       |thrv AS (SELECT max(vec_id) * 7 // 8 AS thr FROM nv),
       |nb AS (SELECT nv.* FROM nv, thrv WHERE vec_id <= thr),
       |$duckBaseChain
       |SELECT src FROM reB)""".stripMargin

  lazy val incrementalGraphInsertSql: String = {
    val hops = (1 to BeamHops).map { h =>
      s"""g$h AS (
         |  SELECT DISTINCT f.qid, reB.dst AS vec_id
         |  FROM f${h - 1} f JOIN reB ON f.vec_id = reB.src
         |  WHERE reB.dst != f.qid),
         |sc$h AS (
         |  SELECT g.qid, g.vec_id,
         |    round(list_dot_product(q.qv, nb.v) / (q.qn * nb.nrm), 4) AS cos
         |  FROM g$h g JOIN nb ON g.vec_id = nb.vec_id
         |            JOIN q ON g.qid = q.qid),
         |f$h AS (
         |  SELECT qid, vec_id, cos FROM (
         |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rn
         |    FROM (SELECT * FROM f${h - 1} UNION SELECT * FROM sc$h))
         |  WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")
    val visited = (1 to BeamHops).map(h => s"SELECT * FROM sc$h")
      .mkString(" UNION ")
    s"""WITH nv AS ($duckVecs),
       |thrv AS (SELECT max(vec_id) * 7 // 8 AS thr FROM nv),
       |nb AS (SELECT nv.* FROM nv, thrv WHERE vec_id <= thr),
       |$duckBaseChain,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn
       |      FROM nv, thrv WHERE vec_id > thr),
       |sd AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id,
       |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |        AS hk
       |    FROM nb)
       |  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $BeamSeeds),
       |s0 AS (
       |  SELECT q.qid, sd.vec_id,
       |    round(list_dot_product(q.qv, nb.v) / (q.qn * nb.nrm), 4) AS cos
       |  FROM sd JOIN nb ON sd.vec_id = nb.vec_id JOIN q
       |    ON sd.vec_id != q.qid),
       |f0 AS (
       |  SELECT qid, vec_id, cos FROM (
       |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id ASC) AS rn
       |    FROM s0)
       |  WHERE rn <= $BeamEntry),
       |$hops,
       |vis AS (SELECT * FROM f0 UNION $visited),
       |ins AS (
       |  SELECT qid AS src, vec_id AS dst, cos FROM (
       |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM vis)
       |  WHERE rnk <= 3),
       |$duckRefinedEdgeCtes,
       |rbd AS (SELECT rf.src, rf.dst, rf.cos FROM rf, thrv
       |        WHERE rf.src > thr),
       |dig AS (
       |  SELECT 'incremental' AS side, count(*) AS n_edges,
       |    count(DISTINCT src) AS n_nodes,
       |    round(avg(cos), 6) AS mean_cos,
       |    bit_xor(('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
       |      CAST(dst AS VARCHAR)), 1, 15))::BIGINT) AS edge_digest
       |  FROM ins
       |  UNION ALL
       |  SELECT 'rebuild', count(*), count(DISTINCT src),
       |    round(avg(cos), 6),
       |    bit_xor(('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
       |      CAST(dst AS VARCHAR)), 1, 15))::BIGINT)
       |  FROM rbd)
       |SELECT side, n_edges, n_nodes, mean_cos, edge_digest
       |FROM dig ORDER BY side""".stripMargin
  }

  // ---------------------------------------------------------------
  // q202 graph retraction (node deletion from the serving graph)
  // ---------------------------------------------------------------

  /** q202: node DELETION from the NN-Descent serving graph — the
    * q196/q201 deletion symmetry for the last artifact with only an
    * insert path (q198). Removing nodes (the q196 hash-slice
    * convention, hash60(id) % 8 = 3 — a compliance deletion or a
    * retracted partition) breaks the graph two ways: removed nodes'
    * own adjacency lists vanish (a filter), and SURVIVORS whose
    * out-edges pointed at removed nodes are left under-connected.
    * The production repair (the HNSW delete) re-uses the INSERT
    * machinery: each victim beam-walks the SURVIVING graph — the
    * filtered artifact production actually has on disk, not a
    * rebuild — and its repaired list is the top-3 of {surviving old
    * edges} ∪ {walk visited}. Untouched survivors keep their lists
    * verbatim (the filter is the whole cost: one index-sized pass).
    *
    * Like q198, the graph is an APPROXIMATE artifact, so the oracle
    * computes BOTH sides exactly in both engines: the repaired
    * victim edges next to a full REBUILD over the survivors
    * restricted to the same victims — the mean-cosine gap is the
    * measured quality cost of repairing in place instead of
    * rebuilding. Per victim that is E + H·B·deg bounded graph reads,
    * corpus-size-independent; the rebuild re-pays the banded
    * self-join over every surviving vector. */
  def graphRetraction(spark: SparkSession, dir: String): DataFrame = {
    def rm(c: String) =
      expr(s"${Exprs.hash60(s"cast($c as string)")} % 8 = 3")
    val full = refinedEdges(spark, dir)
    val surviving = full.filter(!rm("src") && !rm("dst"))
    // The victims are the deletion's frontier, bounded as the walk's
    // query side (broadcast in every hop) is: the two restrictions to
    // them below broadcast it too, so neither shuffles an edge memo.
    val victims = full.filter(!rm("src") && rm("dst"))
      .select(col("src")).distinct()
    val eSurv = vecs(spark, dir).filter(!rm("vec_id"))
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = eSurv.join(victims, col("vec_id") === col("src"))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = seedRowsOf(vecs(spark, dir).filter(!rm("vec_id")),
      BeamSeeds).select(col("vec_id"))
    val walked = beamWalkOver(spark, eSurv, q,
      surviving.select(col("src"), col("dst")), seeds, RepairHops, 3)
      .select(col("qid").as("src"), col("vec_id").as("dst"), col("cos"))
    // repaired list: top-3 of surviving-old ∪ walked. No .distinct()
    // pass: a surviving neighbor the walk also visited appears twice
    // with a bit-identical (cos, dst) entry, which [[TopKAgg]]
    // collapses in-buffer by design (the knnEdges contract) — a
    // distinct here would be one whole extra shuffle for nothing
    // (reviewer find, r10 continuation; the oracle's UNION dedups,
    // and identical entries make the two forms agree).
    val repaired = surviving.join(broadcast(victims), "src")
      .select(col("src"), col("dst"), col("cos"))
      .unionByName(walked)
      .groupBy(col("src"))
      .agg(graft.functions.TopK.topK(3)(col("cos"), col("dst")).as("tk"))
      .select(col("src"), explode(col("tk")).as("s"))
      .select(col("src"), col("s.vec_id").as("dst"), col("s.cos").as("cos"))
    // the comparison bar: a fresh banded build over survivors only
    val rebuilt = memo(spark, dir, "nn_refined_surv") {
      refineFrom(spark, dir,
        knnEdgesFrom(sigTable(spark, dir).filter(!rm("vec_id"))))
    }.join(broadcast(victims), "src")
      .select(col("src"), col("dst"), col("cos"))
    def digest(df: DataFrame, side: String) = df
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(src as string), ':', cast(dst as string))")))
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_nodes"),
        round(avg(col("cos")), 6).as("mean_cos"),
        expr("bit_xor(h)").as("edge_digest"))
      .select(lit(side).as("side"), col("n_edges"), col("n_nodes"),
        col("mean_cos"), col("edge_digest"))
    digest(repaired, "repaired").unionByName(digest(rebuilt, "rebuild"))
      .orderBy("side")
  }

  /** Repair walks HALF the serving hop budget: a victim's lost
    * neighbor sat at graph distance 1, so its replacement lives in
    * the surviving structure's immediate neighborhood — unlike a
    * brand-new q198 vector, which must navigate from global seeds to
    * an unknown region. Measured: H=2 repairs at the same mean
    * cosine as H=4 (sf0.01: 0.2699 vs 0.2703, identical 71-victim
    * coverage) for ~25% less walk cost (sf0.1 warm 8.7 -> 6.8 s). */
  private val RepairHops = 2

  /** DuckDB md5-60-bit hash of a SQL expression (the [[Exprs.hash60]]
    * mirror), for the q202 removal predicate. */
  private def duckHash60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  lazy val graphRetractionSql: String = {
    def rmSql(c: String) = s"${duckHash60(s"CAST($c AS VARCHAR)")} % 8 = 3"
    val hops = (1 to RepairHops).map { h =>
      s"""g$h AS (
         |  SELECT DISTINCT f.qid, sv.dst AS vec_id
         |  FROM f${h - 1} f JOIN sv ON f.vec_id = sv.src
         |  WHERE sv.dst != f.qid),
         |sc$h AS (
         |  SELECT g.qid, g.vec_id,
         |    round(list_dot_product(q.qv, nb.v) / (q.qn * nb.nrm), 4) AS cos
         |  FROM g$h g JOIN nb ON g.vec_id = nb.vec_id
         |            JOIN q ON g.qid = q.qid),
         |f$h AS (
         |  SELECT qid, vec_id, cos FROM (
         |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rn
         |    FROM (SELECT * FROM f${h - 1} UNION SELECT * FROM sc$h))
         |  WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")
    val visited = (1 to RepairHops).map(h => s"SELECT * FROM sc$h")
      .mkString(" UNION ")
    s"""WITH $duckRefinedEdgeCtes,
       |nb AS (SELECT * FROM n WHERE NOT (${rmSql("vec_id")})),
       |$duckBaseChain,
       |sv AS (SELECT src, dst, cos FROM rf
       |       WHERE NOT (${rmSql("src")}) AND NOT (${rmSql("dst")})),
       |vm AS (SELECT DISTINCT src FROM rf
       |       WHERE NOT (${rmSql("src")}) AND (${rmSql("dst")})),
       |q AS (SELECT nb.vec_id AS qid, nb.v AS qv, nb.nrm AS qn
       |      FROM nb JOIN vm ON nb.vec_id = vm.src),
       |sd AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ${duckHash60("CAST(vec_id AS VARCHAR)")} AS hk
       |    FROM nb)
       |  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $BeamSeeds),
       |s0 AS (
       |  SELECT q.qid, sd.vec_id,
       |    round(list_dot_product(q.qv, nb.v) / (q.qn * nb.nrm), 4) AS cos
       |  FROM sd JOIN nb ON sd.vec_id = nb.vec_id JOIN q
       |    ON sd.vec_id != q.qid),
       |f0 AS (
       |  SELECT qid, vec_id, cos FROM (
       |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id ASC) AS rn
       |    FROM s0)
       |  WHERE rn <= $BeamEntry),
       |$hops,
       |vis AS (SELECT * FROM f0 UNION $visited),
       |wk AS (
       |  SELECT qid AS src, vec_id AS dst, cos FROM (
       |    SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM vis)
       |  WHERE rnk <= 3),
       |repu AS (
       |  SELECT sv.src, sv.dst, sv.cos FROM sv JOIN vm ON sv.src = vm.src
       |  UNION
       |  SELECT src, dst, cos FROM wk),
       |rep AS (
       |  SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst ASC) AS rn
       |    FROM repu)
       |  WHERE rn <= 3),
       |rbs AS (
       |  SELECT reB.src, reB.dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
       |  FROM reB JOIN vm ON reB.src = vm.src
       |           JOIN nb a ON reB.src = a.vec_id
       |           JOIN nb b ON reB.dst = b.vec_id),
       |dig AS (
       |  SELECT 'rebuild' AS side, count(*) AS n_edges,
       |    count(DISTINCT src) AS n_nodes,
       |    round(avg(cos), 6) AS mean_cos,
       |    bit_xor(${duckHash60(
            "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")})
       |      AS edge_digest
       |  FROM rbs
       |  UNION ALL
       |  SELECT 'repaired', count(*), count(DISTINCT src),
       |    round(avg(cos), 6),
       |    bit_xor(${duckHash60(
            "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")})
       |  FROM rep)
       |SELECT side, n_edges, n_nodes, mean_cos, edge_digest
       |FROM dig ORDER BY side""".stripMargin
  }

  // ---------------------------------------------------------------
  // q193 codebook refresh-or-keep (incremental index maintenance)
  // ---------------------------------------------------------------

  /** Embedding-side delta threshold (newest ~1/8 of vec_ids = today's
    * arrival, the q191 convention). 1-row driver collect, bounded;
    * cached per (application, dir). */
  private val vecDeltaThresholds =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  private[queries] def vecDeltaThreshold(spark: SparkSession, dir: String): Long =
    vecDeltaThresholds.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir),
      vecs(spark, dir).agg(max(col("vec_id"))).head.getLong(0) * 7 / 8)

  /** q193: the refresh-or-keep decision that completes the q191
    * incremental-maintenance triple (signatures appended ✓, CC labels
    * repaired ✓, codebook refreshed-or-kept — this): when a delta
    * arrives, a production IVF index does NOT retrain by default — it
    * measures whether YESTERDAY's codebook still quantizes the new
    * data, and retrains only on drift. The base codebook is trained
    * on base vectors alone (base-only Lloyd's, base-only seeds —
    * yesterday's run never saw the delta); every vector is then
    * assigned to its nearest base-codebook cell, and per scope
    * (base/delta) the output states: count, mean quantization
    * similarity (rounded cosine to the assigned centroid), distinct
    * cells used, and the top cell's share in integer ppm (a delta
    * collapsing into few cells is distribution shift even when mean
    * similarity holds).
    *
    * The comparison is HOLDOUT-fair: the codebook trains on the
    * deterministic hash-half of the base (seeds included), and the
    * refresh decision compares the delta against the base's OTHER
    * half — both out-of-sample. Comparing the delta against the
    * training set itself bakes train-set optimism into the margin
    * (measured ~0.10 of cosine at sf0.01 — five times the drift
    * tolerance) and would fire refresh on every arrival. The flag
    * fires when the delta's mean quantization similarity falls more
    * than 0.02 below the holdout's — all comparisons on rounded
    * values, both engines agree exactly.
    *
    * Scale shape: one broadcast of the ≤16-row codebook, one argmax
    * pass over the corpus (map-side max_by, no window), two bounded
    * aggregates. The DECISION costs one corpus scan — retraining
    * costs [[IvfIters]] of them, which is the point. */
  def codebookRefresh(spark: SparkSession, dir: String): DataFrame = {
    codebookRefreshFrom(spark, dir, baseCodebook(spark, dir))
  }

  /** Yesterday's artifact: the codebook trained on the hash-half of
    * the base corpus alone — exposed for the cold-restart publish
    * (q205). */
  private[queries] def baseCodebook(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "ivf_codebook_base") {
      lloydsTrain(vecs(spark, dir).filter(
        col("vec_id") <= vecDeltaThreshold(spark, dir) &&
          expr(s"${Exprs.hash60("cast(vec_id as string)")} % 2 = 0")), IvfK)
    }

  /** The q193 decision from an EXPLICIT codebook — the cold-restart
    * seam (q205): a fresh session passes the codebook read back from
    * the [[graft.io.ArtifactStore]]; the decision pass below touches
    * no session memo. */
  private[queries] def codebookRefreshFrom(spark: SparkSession,
      dir: String, baseCb: DataFrame): DataFrame = {
    val thr = vecDeltaThreshold(spark, dir)
    val trainPred =
      expr(s"${Exprs.hash60("cast(vec_id as string)")} % 2 = 0")
    val e = vecs(spark, dir)
    val cb = baseCb.select(col("cell"), col("cv"),
      expr("sqrt(array_dot(cv, cv))").as("cn"))
    val assigned = e.join(broadcast(cb), expr("true"))
      .withColumn("ccos", round(
        expr("array_dot(cv, v)") / (col("cn") * col("nrm")), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cell"), col("ccos")),
        struct(col("ccos"), -col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.ccos").as("q"))
      .withColumn("scope",
        when(col("vec_id") > thr, "delta")
          .when(trainPred, "base_train")
          .otherwise("base_holdout"))
    val per = assigned.groupBy(col("scope"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("q")), 6).as("mean_qsim"),
        countDistinct(col("cell")).as("cells_used"))
    val top = assigned.groupBy(col("scope"), col("cell"))
      .agg(count(lit(1)).as("celln"))
      .groupBy(col("scope")).agg(max(col("celln")).as("top_cn"))
    // lazy-checkpoint the 3-row decision frame: THREE branches read it
    // (the output projection, baseMean, deltaMean), and without the
    // cut each would re-run the corpus-wide broadcast-argmax
    // `assigned` lineage — the q184/q185 unmaterialized-multi-branch
    // class, ~6 embeddings scans per call (reviewer find, r10
    // continuation). With it, the assignment pass executes once.
    val stats = per.join(top, "scope")
      .withColumn("top_cell_ppm", expr("top_cn * 1000000 div n_vecs"))
      .localCheckpoint(false)
    val baseMean = stats.filter(col("scope") === "base_holdout")
      .select(col("mean_qsim").as("base_mean"))
    val deltaMean = stats.filter(col("scope") === "delta")
      .select(col("mean_qsim").as("delta_mean"))
    stats.crossJoin(broadcast(baseMean)).crossJoin(broadcast(deltaMean))
      .withColumn("refresh",
        when(round(col("base_mean") - col("delta_mean"), 6) > 0.02, 1L)
          .otherwise(0L))
      .select(col("scope"), col("n_vecs"), col("mean_qsim"),
        col("cells_used"), col("top_cell_ppm"), col("refresh"))
      .orderBy("scope")
  }

  val codebookRefreshSql: String =
    s"""WITH nv AS ($duckVecs),
       |thrv AS (SELECT max(vec_id) * 7 // 8 AS thr FROM nv),
       |n AS (SELECT nv.* FROM nv, thrv WHERE vec_id <= thr
       |      AND ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |          % 2 = 0),
       |$duckKmeansCtes,
       |cb AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |       FROM c$IvfIters),
       |asg AS (
       |  SELECT vec_id, cell, ccos,
       |    CASE WHEN vec_id > thr THEN 'delta'
       |         WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |              ::BIGINT % 2 = 0 THEN 'base_train'
       |         ELSE 'base_holdout' END AS scope
       |  FROM (SELECT nv.vec_id, cb.cell, thrv.thr,
       |          round(list_dot_product(cb.cv, nv.v) / (cb.cn * nv.nrm), 4)
       |            AS ccos,
       |          row_number() OVER (PARTITION BY nv.vec_id
       |            ORDER BY round(list_dot_product(cb.cv, nv.v)
       |              / (cb.cn * nv.nrm), 4) DESC, cb.cell ASC) AS rc
       |        FROM nv, cb, thrv)
       |  WHERE rc = 1),
       |per AS (
       |  SELECT scope, count(*) AS n_vecs, round(avg(ccos), 6) AS mean_qsim,
       |    count(DISTINCT cell) AS cells_used
       |  FROM asg GROUP BY 1),
       |tp AS (
       |  SELECT scope, max(celln) AS top_cn
       |  FROM (SELECT scope, cell, count(*) AS celln FROM asg GROUP BY 1, 2)
       |  GROUP BY 1),
       |s AS (
       |  SELECT per.scope, n_vecs, mean_qsim, cells_used,
       |    top_cn * 1000000 // n_vecs AS top_cell_ppm
       |  FROM per JOIN tp ON per.scope = tp.scope),
       |bm AS (SELECT mean_qsim AS base_mean FROM s
       |       WHERE scope = 'base_holdout'),
       |dm AS (SELECT mean_qsim AS delta_mean FROM s WHERE scope = 'delta')
       |SELECT s.scope, s.n_vecs, s.mean_qsim, s.cells_used, s.top_cell_ppm,
       |  CAST(CASE WHEN round(base_mean - delta_mean, 6) > 0.02
       |    THEN 1 ELSE 0 END AS BIGINT) AS refresh
       |FROM s, bm, dm ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q214 codebook refresh EXECUTED (the retrain q193's flag gates)
  // ---------------------------------------------------------------

  /** Today's retrained codebook: Lloyd's over the hash-half of the
    * FULL corpus (base and delta train halves — a refresh trains on
    * all data it has, under the same holdout rule q193 keeps its
    * comparison fair with). Memoized like the base codebook; exposed
    * as the artifact a fired refresh would publish. */
  private[queries] def refreshedCodebook(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "ivf_codebook_refreshed") {
      lloydsTrain(vecs(spark, dir).filter(
        expr(s"${Exprs.hash60("cast(vec_id as string)")} % 2 = 0")), IvfK)
    }

  /** q214: the RETRAIN q193's refresh flag gates, executed — the
    * action half of the codebook family, completing the
    * decision→action symmetry the layout family got with q203→q211.
    * Yesterday's base-only codebook and today's retrained one
    * ([[refreshedCodebook]]) both quantize the FULL corpus; the
    * output states per (codebook, scope) the count, mean quantization
    * similarity, and cells used. The retrain costs [[IvfIters]]
    * corpus scans — exactly what q193's one-scan decision exists to
    * gate — and the before/after rows are the evidence a fired
    * refresh restored what drift ate: the refreshed codebook's delta
    * mean_qsim must not trail the base codebook's (spec-pinned; on
    * the drift-free synthetic corpus the two are near-equal, which is
    * itself q193's keep-verdict restated from the action side). The
    * oracle trains BOTH codebooks from scratch (two kmeans CTE
    * chains) and re-derives every stat. */
  def codebookRefreshExecuted(
      spark: SparkSession, dir: String): DataFrame = {
    val thr = vecDeltaThreshold(spark, dir)
    val trainPred =
      expr(s"${Exprs.hash60("cast(vec_id as string)")} % 2 = 0")
    val e = vecs(spark, dir)
    Seq("base" -> baseCodebook(spark, dir),
      "refreshed" -> refreshedCodebook(spark, dir)).map {
      case (label, cbDf) =>
        val cb = cbDf.select(col("cell"), col("cv"),
          expr("sqrt(array_dot(cv, cv))").as("cn"))
        e.join(broadcast(cb), expr("true"))
          .withColumn("ccos", round(
            expr("array_dot(cv, v)") / (col("cn") * col("nrm")), 4))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cell"), col("ccos")),
            struct(col("ccos"), -col("cell"))).as("m"))
          .select(col("vec_id"), col("m.cell").as("cell"),
            col("m.ccos").as("q"))
          .withColumn("scope",
            when(col("vec_id") > thr, "delta")
              .when(trainPred, "base_train")
              .otherwise("base_holdout"))
          .groupBy(col("scope"))
          .agg(count(lit(1)).as("n_vecs"),
            round(avg(col("q")), 6).as("mean_qsim"),
            countDistinct(col("cell")).as("cells_used"))
          .withColumn("codebook", lit(label))
    }.reduce(_ unionByName _)
      .select(col("codebook"), col("scope"), col("n_vecs"),
        col("mean_qsim"), col("cells_used"))
      .orderBy("codebook", "scope")
  }

  val codebookRefreshExecutedSql: String = {
    val h = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"
    s"""WITH nv AS ($duckVecs),
       |thrv AS (SELECT max(vec_id) * 7 // 8 AS thr FROM nv),
       |n AS (SELECT nv.* FROM nv, thrv WHERE vec_id <= thr
       |      AND $h % 2 = 0),
       |${duckKmeansCtesExpr(IvfK.toString)},
       |n2 AS (SELECT nv.* FROM nv WHERE $h % 2 = 0),
       |${duckKmeansCtesExpr(IvfK.toString, "n2", "r")},
       |cb AS (
       |  SELECT 'base' AS codebook, cell, cv,
       |    sqrt(list_dot_product(cv, cv)) AS cn FROM c$IvfIters
       |  UNION ALL
       |  SELECT 'refreshed', cell, cv,
       |    sqrt(list_dot_product(cv, cv)) FROM rc$IvfIters),
       |asg AS (
       |  SELECT codebook, vec_id, cell, ccos,
       |    CASE WHEN vec_id > thr THEN 'delta'
       |         WHEN $h % 2 = 0 THEN 'base_train'
       |         ELSE 'base_holdout' END AS scope
       |  FROM (SELECT cb.codebook, nv.vec_id, cb.cell, thrv.thr,
       |          round(list_dot_product(cb.cv, nv.v) / (cb.cn * nv.nrm), 4)
       |            AS ccos,
       |          row_number() OVER (PARTITION BY cb.codebook, nv.vec_id
       |            ORDER BY round(list_dot_product(cb.cv, nv.v)
       |              / (cb.cn * nv.nrm), 4) DESC, cb.cell ASC) AS rc
       |        FROM nv, cb, thrv)
       |  WHERE rc = 1)
       |SELECT codebook, scope, count(*) AS n_vecs,
       |  round(avg(ccos), 6) AS mean_qsim,
       |  count(DISTINCT cell) AS cells_used
       |FROM asg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val all: Map[String, Query] = Map(
    "q193_codebook_refresh" -> Query(codebookRefresh, codebookRefreshSql),
    "q214_codebook_refresh_executed" ->
      Query(codebookRefreshExecuted, codebookRefreshExecutedSql),
    "q198_incremental_graph_insert" ->
      Query(incrementalGraphInsert, incrementalGraphInsertSql),
    "q202_graph_retraction" -> Query(graphRetraction, graphRetractionSql),
    "q60_cosine_topk" -> Query(cosineTopK, cosineTopKSql),
    "q61_ann_lsh" -> Query(annLsh, annLshSql),
    "q62_label_centroids" -> Query(labelCentroids, labelCentroidsSql),
    "q64_ivf_ann" -> Query(ivfAnn, ivfAnnSql),
    "q65_embedding_neardup" -> Query(embeddingNearDup, embeddingNearDupSql),
    "q70_ivf_nprobe2" -> Query(ivfAnnNprobe2, ivfAnnNprobe2Sql),
    "q74_int8_quant" -> Query(int8Quant, int8QuantSql),
    "q97_pq_ann" -> Query(pqAnn, pqAnnSql),
    "q102_ann_recall" -> Query(annRecall, annRecallSql),
    "q104_ann_lsh_multiprobe" -> Query(annLshMultiprobe, annLshMultiprobeSql),
    "q119_centroid_drift" -> Query(centroidDrift, centroidDriftSql),
    "q120_hybrid_dedup" -> Query(hybridDedup, hybridDedupSql),
    "q132_semantic_dedup" -> Query(semanticDedup, semanticDedupSql),
    "q138_knn_graph" -> Query(knnGraph, knnGraphSql),
    "q145_pagerank" -> Query(pagerank, pagerankSql),
    "q149_contrastive_pairs" -> Query(contrastivePairs, contrastivePairsSql),
    "q152_nn_descent" -> Query(nnDescent, nnDescentSql),
    "q168_graph_beam_ann" -> Query(graphBeamAnn, graphBeamAnnSql),
    "q174_hard_negatives" -> Query(hardNegatives, hardNegativesSql),
    "q176_embedding_outliers" -> Query(embeddingOutliers, embeddingOutliersSql),
    "q177_label_propagation" -> Query(labelPropagation, labelPropagationSql),
    "q181_rank_fusion" -> Query(rankFusion, rankFusionSql),
    "q182_semantic_decon" -> Query(semanticDecon, semanticDeconSql),
    "q187_matryoshka_recall" -> Query(matryoshkaRecall, matryoshkaRecallSql)
  )
}

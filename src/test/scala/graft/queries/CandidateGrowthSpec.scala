package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale-law check for the LSH candidate generators: when a corpus of
  * bounded-size near-dup clusters DOUBLES, the candidate-pair count
  * must grow ~linearly, not quadratically. This is the property that
  * separates the wide-key geometry (12-bit simhash blocks, 12-bit
  * signature bands — thousands of values per key) from narrow keys
  * (4-bit blocks, 4-plane buckets), whose candidates are O(N²) with a
  * small constant: correct at test scale, melting at 100x.
  *
  * The fixtures are clusters of 3 near-identical members plus
  * independent word-soup/random-vector content, so true near-dup
  * pairs grow linearly in N by construction. A quadratic candidate
  * generator shows a ~4x pair count on a doubled corpus; the wide-key
  * geometry stays well under 3x (linear cluster term + a random
  * collision term suppressed by the 4096-value key domain).
  */
class CandidateGrowthSpec extends SparkSpec {

  /** Deterministic word-soup corpus: `n` docs in clusters of 3 — the
    * two later members of each cluster append one extra token to the
    * cluster base, so intra-cluster pairs are near-dups at tiny
    * Hamming distance while distinct clusters are unrelated. */
  private def docCorpus(n: Int): String = {
    val rnd = new scala.util.Random(42)
    def word() = (1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val bases = (0 until (n + 2) / 3).map(c => (1 to 40).map(_ => word()).mkString(" "))
    val rows = (0 until n).map { i =>
      val base = bases(i / 3)
      val text = if (i % 3 == 0) base else s"$base xtr${i % 3}"
      (i.toLong, text)
    }
    import spark.implicits._
    val dir = tempDir("growth_docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Deterministic embedding corpus: `n` vectors in clusters of 3 —
    * cluster members are a shared base vector plus small noise, so
    * intra-cluster cosines are ~1 while distinct clusters are
    * near-orthogonal random directions. */
  private def vecCorpus(n: Int): String = {
    val rnd = new scala.util.Random(7)
    val dim = 64
    val bases = (0 until (n + 2) / 3)
      .map(_ => Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until n).map { i =>
      val b = bases(i / 3)
      val noise = new scala.util.Random(1000 + i)
      val v = b.map(x => x + 0.05f * noise.nextGaussian().toFloat)
      (i.toLong, v.toSeq, s"l${i % 5}")
    }
    import spark.implicits._
    val dir = tempDir("growth_vecs").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("simhash candidate pairs grow ~linearly when the corpus doubles") {
    val small = Dedup.simhashCandidates(spark, docCorpus(200)).count()
    val large = Dedup.simhashCandidates(spark, docCorpus(400)).count()
    // Each corpus contains >= n/3 true near-dup cluster pairs.
    assert(small >= 200 / 3, s"small corpus candidates too few: $small")
    val ratio = large.toDouble / small
    assert(ratio < 3.0,
      s"candidate growth $small -> $large (x$ratio) is super-linear; " +
        "quadratic geometry doubles to ~x4")
  }

  test("embedding LSH candidate pairs grow ~linearly when the corpus doubles") {
    def cands(n: Int): Long =
      Similarity.embeddingNearDup(spark, vecCorpus(n)).head().getLong(0)
    val small = cands(200)
    val large = cands(400)
    assert(small >= 200 / 3, s"small corpus candidates too few: $small")
    val ratio = large.toDouble / small
    assert(ratio < 3.0,
      s"candidate growth $small -> $large (x$ratio) is super-linear; " +
        "quadratic geometry doubles to ~x4")
  }

  /** Span-dedup corpus: clusters of 3 where the FIRST TWO docs share a
    * cluster-specific verbatim 16-token span (inside distinct random
    * context) and the third is fully random — so exactly 2n/3 docs are
    * span-affected by construction, and any extra affected doc means a
    * false dual-hash collision branded unrelated docs as sharing text. */
  private def spanCorpus(n: Int): String = {
    val rnd = new scala.util.Random(99)
    def word() = (1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def words(k: Int) = (1 to k).map(_ => word()).mkString(" ")
    val spans = (0 until (n + 2) / 3).map(_ => words(16))
    val rows = (0 until n).map { i =>
      val text =
        if (i % 3 < 2) s"${words(4)} ${spans(i / 3)} ${words(4)}"
        else words(24)
      (i.toLong, text)
    }
    import spark.implicits._
    val dir = tempDir("growth_spans").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("span-dedup affected set is EXACT and grows linearly on corpus doubling") {
    def affected(n: Int): Long =
      Curation.spanDedup(spark, spanCorpus(n))
        .agg(sum("n_affected")).head().getLong(0)
    // exactness: precisely the 2-per-cluster sharers, zero false
    // collisions (the dual ~2^44 span hashes at work), at both scales —
    // which also pins the growth law: 2n/3 -> 4n/3, exactly linear.
    assert(affected(150) === 100L)
    assert(affected(300) === 200L)
  }

  test("cc round count is stable when the pair set doubles") {
    import spark.implicits._
    // nc disjoint triangles: component diameter stays 1 as the pair
    // set doubles, so the star-collapse round count must NOT grow with
    // corpus size (rounds track diameter, not N — the property that
    // keeps the q88 iterative cost flat at 100 TB).
    def rounds(nc: Int): Int = {
      val edges = (0 until nc).flatMap { c =>
        val b = c * 10L
        Seq((b, b + 1), (b + 1, b + 2), (b + 2, b))
      }
      Curation.ccWithRounds(edges.toDF("u", "v"))._2
    }
    val r1 = rounds(40)
    val r2 = rounds(80)
    assert(r2 <= r1,
      s"round count grew with corpus size: $r1 -> $r2 on doubled pairs")
  }
}

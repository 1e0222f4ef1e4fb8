package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operators on a constructed corpus with known structure.
  * (The driver's DuckDB oracle checks the harness corpus; these pin
  * the semantics on inputs where the right answer is obvious.) */
class DedupSpec extends SparkSpec {

  /** Write a tiny documents.parquet into a scratch dir usable as a
    * `sfDir` by the query functions. */
  private def corpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("dedup_spec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base =
    "the quick brown fox jumps over the lazy dog again and again today"

  test("exact dedup groups identical token sets; keeper = min doc_id") {
    // doc 2 = doc 0 shuffled (same token SET) -> same fingerprint group
    val dir = corpus(Seq(
      0L -> base,
      1L -> "completely different words entirely here about spark engines",
      2L -> base.split(' ').reverse.mkString(" "),
      3L -> (base + " extra")))
    val out = Dedup.exactDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // groups: {0,2} size 2 keeper 0; {1} and {3} size 1 keepers 1+3
    assert(out === Seq((1L, 2L, 4L), (2L, 1L, 0L)))
  }

  test("minhash LSH finds near-identical pair, skips unrelated docs") {
    val near = base + " bonus" // one extra shingle -> jaccard ~0.85
    val dir = corpus(Seq(
      0L -> base,
      1L -> near,
      2L -> "zebra xylophone quartz vortex jumble knight puzzle wizard gnome fjord"))
    val out = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((0L, 1L)))
  }

  test("identical docs have jaccard 1.0 through the LSH path") {
    val dir = corpus(Seq(0L -> base, 1L -> base))
    val out = Dedup.minhashLsh(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getDouble(2) === 1.0)
  }

  test("lsh tuning curve: anchor config has full recall, candidates and " +
      "recall are monotone in rows-per-band, identical docs survive every banding") {
    // 3 identical docs (identical signatures -> candidates under EVERY
    // banding) + 2 unrelated docs
    val dir = corpus(Seq(
      0L -> base, 1L -> base, 2L -> base,
      3L -> "zebra xylophone quartz vortex jumble knight puzzle wizard gnome fjord",
      4L -> "granite harbor lantern meadow nimbus orchard prairie quarry russet sable"))
    val out = Dedup.lshTuning(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.map(x => (x._1, x._2)).toSeq ===
      Seq((8, 1), (4, 2), (2, 4), (1, 8)))
    // the r=1 anchor measures recall against ITS OWN verified pairs
    assert(out.head._6 === 1000000L, out.mkString(", "))
    // identical docs agree on every signature position -> the 3 planted
    // pairs are candidates AND hits under every banding
    for (row <- out) assert(row._4 >= 3L, row.toString)
    // coarser bandings can only shrink candidates and recall
    for (Seq(fine, coarse) <- out.toSeq.sliding(2)) {
      assert(coarse._3 <= fine._3, s"candidates grew: $fine -> $coarse")
      assert(coarse._6 <= fine._6, s"recall grew: $fine -> $coarse")
    }
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val dir = corpus(Seq(
      0L -> base,
      1L -> base,
      2L -> "zebra xylophone quartz vortex jumble knight puzzle wizard gnome fjord"))
    val out = Dedup.simhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out === Seq((0L, 1L, 0)))
  }

  test("ngram jaccard mines candidates from minhash bands, digests per lang") {
    val dir = corpus(Seq(0L -> base, 1L -> base, 2L -> (base + " tail")))
    val out = Dedup.ngramJaccard(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "en")
    assert(out.head.getLong(1) >= 1) // at least the identical pair
  }

  test("source overlap counts shared fingerprints per ordered source pair") {
    import spark.implicits._
    val dir = tempDir("dedup_spec").toString
    // "dup one" lives in src0/src1/src2; "dup two" in src0/src1 (twice
    // in src1 — distinct must collapse it); unique text in src3.
    Seq(
      (0L, "dup one", "src0"), (1L, "dup one", "src1"),
      (2L, "dup one", "src2"), (3L, "dup two", "src0"),
      (4L, "dup two", "src1"), (5L, "dup two", "src1"),
      (6L, "unique text", "src3"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.sourceOverlap(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out === Map(
      ("src0", "src1") -> 2L, ("src0", "src2") -> 1L,
      ("src1", "src2") -> 1L))
  }
}

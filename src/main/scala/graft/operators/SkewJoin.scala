package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Auto-skew-protected equi-join: the q24 manual salting pattern
  * driven by the q151 skew profile instead of a guess, the way a
  * 100 TB pipeline self-protects against a hot key melting one
  * reducer.
  *
  * Mechanics: profile the big side's key distribution (one groupBy —
  * the same shuffle the unprotected join would do), flag keys holding
  * more than `heavyFactor`× the mean per-key load (q151's exact
  * integer cross-multiply `cnt * n_keys > heavyFactor * n_rows` — no
  * float mean to disagree on), then salt ONLY the flagged keys:
  *
  *   - big side: flagged rows draw a deterministic salt in
  *     [0, salts) from a content hash; unflagged rows take salt 0;
  *   - small side: flagged keys replicate across all `salts` values
  *     (explode); unflagged keys keep ONE replica (salt 0) — the
  *     plain-join path, with no replication cost.
  *
  * The result is provably identical to the unsalted join: every big
  * row meets exactly one small-side replica. With NO flagged keys the
  * join is returned entirely unsalted (no salt columns, no Generate
  * in the plan — asserted in SkewJoinSpec).
  *
  * Scale posture: the flagged-key table is driver-collected and
  * broadcast — bounded by construction (a key only flags above
  * `heavyFactor`× the mean, so at most n_keys/heavyFactor keys can
  * flag) and additionally capped at `maxHeavy` heaviest (a cap hit
  * means the "skew" is really a uniform-ish distribution that AQE
  * handles; protecting the top slice is still correct). The profiling
  * pass is the operator's cost — a deployment that already ran the
  * q151 profiler passes its key list via [[saltedForKeys]] and skips
  * the scan. AQE's skew-join split remains the first-line fix; this
  * operator is the explicit form for extreme single-key skew, non-AQE
  * engines, or when the skew is known ahead of planning — MEASURED in
  * `graft.Dev skew` (BENCH_NOTES.md r9 table): AQE wins moderate
  * skew for free; at 90% single-key skew the split stops helping and
  * salting wins even with the profile pass, while the known-keys form
  * runs ~2.6× faster than AQE at either skew level.
  */
object SkewJoin {

  /** Profile `big`'s key, then [[saltedForKeys]] with the flagged set.
    * Returns the joined frame (both sides' columns, salt dropped). */
  def autoSalted(big: DataFrame, bigKey: String, small: DataFrame,
      smallKey: String, salts: Int = 8, heavyFactor: Int = 2,
      maxHeavy: Int = 10000): DataFrame = {
    require(salts >= 2, s"salts must be >= 2, got $salts")
    val counts = big.groupBy(col(bigKey)).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    // cross-multiply in decimal(38,0): both factors are longs, so the
    // products reach ~8.5e37 at extreme cardinalities — a long×long
    // compare would wrap silently under the non-ANSI session and
    // mis-flag (or worse, UN-flag) exactly at the 100 TB scales this
    // operator exists for; decimal(38) holds the full product exactly
    val heavy = counts.crossJoin(broadcast(tot))
      .filter(
        col("cnt").cast("decimal(38,0)") * col("n_keys").cast("decimal(38,0)")
          > lit(heavyFactor).cast("decimal(38,0)")
            * col("n_rows").cast("decimal(38,0)"))
      .orderBy(col("cnt").desc)
      .limit(maxHeavy)
      .select(col(bigKey))
      .collect()
      .map(_.get(0))
      .toSeq
    saltedForKeys(big, bigKey, small, smallKey, heavy, salts)
  }

  /** The salting join itself, for a KNOWN flagged-key list (e.g. the
    * q151 profiler's output, so the profile scan isn't paid twice).
    * Empty list → the plain unsalted join, identical plan to
    * `big.join(small, ...)`. */
  def saltedForKeys(big: DataFrame, bigKey: String, small: DataFrame,
      smallKey: String, heavyKeys: Seq[Any], salts: Int = 8): DataFrame = {
    val joinCond: (DataFrame, DataFrame) => Column =
      (b, s) => b(bigKey) === s(smallKey)
    if (heavyKeys.isEmpty) {
      val j = big.join(small, joinCond(big, small))
      return j
    }
    val spark = big.sparkSession
    // broadcast tag table instead of a giant IN-list: keeps the probe
    // a codegen'd broadcast-hash lookup at any flagged-set size. The
    // tag column keeps the key's NATIVE type (a cast-both-to-string
    // match would silently miss timestamp/date keys: JVM toString and
    // Spark's cast-to-string render them differently, degrading the
    // join to unsalted — correct but unprotected). Null keys never
    // match an inner equi-join, so they need no tag row.
    import scala.jdk.CollectionConverters._
    val keyType = big.schema(bigKey).dataType
    val heavyDf = broadcast(spark.createDataFrame(
      heavyKeys.filter(_ != null)
        .map(k => org.apache.spark.sql.Row(k)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__hk", keyType))))
      .withColumn("__heavy", lit(true)))
    val b = big
      .join(heavyDf, col(bigKey) === col("__hk"), "left")
      .withColumn("__salt",
        // content-hash salt: deterministic (survives task retries),
        // spread by the full row so a hot key fans over all salts
        when(col("__heavy"),
          pmod(hash(struct(big.columns.map(col).toIndexedSeq: _*)),
            lit(salts)))
          .otherwise(lit(0)))
      .drop("__hk", "__heavy")
    val s = small
      .join(heavyDf, col(smallKey) === col("__hk"), "left")
      .withColumn("__salt",
        explode(when(col("__heavy"), sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hk", "__heavy")
    b.join(s, joinCond(b, s) && b("__salt") === s("__salt"))
      .drop("__salt")
  }
}

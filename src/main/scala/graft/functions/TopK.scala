package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One scored candidate inside a per-group top-k: ordering is
  * (cos DESC, vec_id ASC) — identical to the row_number windows it
  * replaces, so results are hash-stable. */
case class TopKEntry(cos: Double, vec_id: Long)

/** Bounded-heap top-k aggregate: keeps at most ~2k entries per
  * aggregation buffer and returns the k best, sorted.
  *
  * This is the scale-safe replacement for
  * `Window.partitionBy(qid).orderBy(cos desc)` + `row_number <= k`:
  * the window form shuffles EVERY scored row into one partition per
  * group and fully sorts it there — at a 1e9-row corpus that is a
  * 1e9-row single-partition sort per query. As an aggregate, Spark
  * runs it with map-side partial aggregation (ScalaAggregator is a
  * Catalyst TypedImperativeAggregate under the hood, executed by
  * ObjectHashAggregate), so each map task reduces its slice to <= 2k
  * entries per group BEFORE the shuffle; the final merge sees only
  * ~2k * numPartitions rows per group, never the full scored set.
  *
  * The buffer is trimmed lazily (sort only when it doubles past k),
  * so per-row cost is amortized O(1) append + O(k log k) every k rows.
  *
  * Identical entries — same (cos, vec_id) — are collapsed at every
  * trim (SELECT DISTINCT semantics within the group). This lets
  * callers whose candidate streams carry structural duplicates (e.g.
  * an LSH pair matching in several bands arrives once per band) rank
  * directly without a separate `.distinct()` pass — which would be a
  * full extra shuffle of the candidate set — and is a no-op for
  * callers whose entries are already unique.
  */
class TopKAgg(k: Int)
    extends Aggregator[TopKEntry, Seq[TopKEntry], Seq[TopKEntry]] {

  /** cos comparison with Spark's SQL ordering semantics (NaN largest,
    * ±0.0 equal — `nanSafeCompareDoubles`): raw `>`/`==` on doubles is
    * not a total order under NaN (both directions false), which would
    * make `sortWith` placement arrival-order-dependent exactly where
    * the window ranking this aggregate replaces was deterministic. */
  private def cmpCos(x: Double, y: Double): Int =
    if (x.isNaN && y.isNaN) 0
    else if (x.isNaN) 1
    else if (y.isNaN) -1
    else if (x > y) 1
    else if (x < y) -1
    else 0

  private def better(a: TopKEntry, b: TopKEntry): Boolean = {
    val c = cmpCos(a.cos, b.cos)
    c > 0 || (c == 0 && a.vec_id < b.vec_id)
  }

  private def trim(s: Seq[TopKEntry]): Seq[TopKEntry] =
    // distinctBy on raw bits, not distinct: case-class equality uses
    // primitive ==, under which NaN != NaN — band-duplicate entries
    // with NaN cos would never collapse.
    s.distinctBy(e => (e.vec_id, java.lang.Double.doubleToLongBits(e.cos)))
      .sortWith(better).take(k)

  override def zero: Seq[TopKEntry] = Vector.empty

  override def reduce(b: Seq[TopKEntry], a: TopKEntry): Seq[TopKEntry] = {
    val nb = b :+ a
    if (nb.size >= 2 * k) trim(nb) else nb
  }

  override def merge(x: Seq[TopKEntry], y: Seq[TopKEntry]): Seq[TopKEntry] =
    trim(x ++ y)

  override def finish(r: Seq[TopKEntry]): Seq[TopKEntry] = trim(r)

  override def bufferEncoder: Encoder[Seq[TopKEntry]] =
    ExpressionEncoder[Seq[TopKEntry]]()
  override def outputEncoder: Encoder[Seq[TopKEntry]] =
    ExpressionEncoder[Seq[TopKEntry]]()
}

object TopK {
  /** `top_k(k)(cos, vec_id)` -> `array<struct<cos, vec_id>>` of the k
    * best rows per group, best first. Rank = array position + 1. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAgg(k), Encoders.product[TopKEntry])
    (cos: Column, id: Column) => fn(cos, id)
  }

  /** `top_terms(k)(score, term)` -> `array<struct<score, term>>` of
    * the k best rows per group, best first (score DESC, term ASC). */
  def topTerms(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopTermsAgg(k), Encoders.product[TermEntry])
    (score: Column, term: Column) => fn(score, term)
  }
}

/** One scored term inside a per-group top-k: ordering is
  * (score DESC, term ASC) — the string-keyed sibling of
  * [[TopKEntry]], for rankings whose identity is a token rather
  * than a numeric id (TF-IDF top terms, label leaders). */
case class TermEntry(score: Double, term: String)

/** Bounded-heap top-k over (score, term) — identical two-phase
  * geometry and NaN discipline as [[TopKAgg]] (map-side partial
  * aggregation keeps <= 2k entries per buffer; nothing ever sorts a
  * full group), with the tiebreak on the term STRING so the oracle's
  * `ORDER BY score DESC, term ASC` window reproduces the exact rows.
  * Terms are UNIQUE in the result: a term fed with several scores
  * keeps only its best (score DESC, then the entry ordering) — so a
  * caller passing un-pre-aggregated (score, term) rows gets one slot
  * per term, never the same term twice. */
class TopTermsAgg(k: Int)
    extends Aggregator[TermEntry, Seq[TermEntry], Seq[TermEntry]] {

  private def cmpScore(x: Double, y: Double): Int =
    if (x.isNaN && y.isNaN) 0
    else if (x.isNaN) 1
    else if (y.isNaN) -1
    else if (x > y) 1
    else if (x < y) -1
    else 0

  /** term comparison mirroring SQL `ASC NULLS FIRST`: a null term
    * wins a score tie (sorts first), so rankings stay row-identical to
    * a window ordered by the default ASC NULLS FIRST even on nullable
    * string columns. Raw `<` would NPE on null. */
  private def cmpTerm(x: String, y: String): Int =
    if (x == null && y == null) 0
    else if (x == null) -1
    else if (y == null) 1
    else x.compareTo(y)

  private def better(a: TermEntry, b: TermEntry): Boolean = {
    val c = cmpScore(a.score, b.score)
    c > 0 || (c == 0 && cmpTerm(a.term, b.term) < 0)
  }

  private def trim(s: Seq[TermEntry]): Seq[TermEntry] =
    // dedup by TERM keeping the best entry, so duplicate terms can
    // never occupy two of the k slots (term-unique result contract)
    s.groupBy(_.term).valuesIterator
      .map(_.reduceLeft((a, b) => if (better(a, b)) a else b))
      .toSeq.sortWith(better).take(k)

  override def zero: Seq[TermEntry] = Vector.empty

  override def reduce(b: Seq[TermEntry], a: TermEntry): Seq[TermEntry] = {
    val nb = b :+ a
    if (nb.size >= 2 * k) trim(nb) else nb
  }

  override def merge(x: Seq[TermEntry], y: Seq[TermEntry]): Seq[TermEntry] =
    trim(x ++ y)

  override def finish(r: Seq[TermEntry]): Seq[TermEntry] = trim(r)

  override def bufferEncoder: Encoder[Seq[TermEntry]] =
    ExpressionEncoder[Seq[TermEntry]]()
  override def outputEncoder: Encoder[Seq[TermEntry]] =
    ExpressionEncoder[Seq[TermEntry]]()
}

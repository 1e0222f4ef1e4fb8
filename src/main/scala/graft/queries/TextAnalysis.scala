package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting (BASELINE.json north star).
  *
  * Everything is built from codegen'd `functions._` / higher-order
  * array functions — no UDFs — so at 100 TB these run inside the
  * scan-project stage, embarrassingly parallel, zero shuffles until
  * the final small aggregation.
  */
object TextAnalysis {
  import Tables._

  /** Whitespace tokenizer + per-language corpus stats. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        round(avg("n_tokens"), 6).as("avg_tokens"),
        sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  val tokenStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS sum_tokens,
      |  round(avg(len(string_split_regex(trim(text), '\s+'))), 6)
      |    AS avg_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** BPE-ish regex tokenizer (letter runs / digit runs / single
    * punctuation), the token-counting shape an LLM-data pipeline
    * needs before a real tokenizer. */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("source"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      .orderBy("source")
  }

  val tokenBpeSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
      |    AS sum_tok
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Tokenizer fertility by language — the multilingual-tokenizer
    * health metric (subword tokens per whitespace word, and UTF-8
    * bytes per subword token): a language whose fertility is far
    * above the corpus mean is being over-segmented by the tokenizer,
    * which inflates its effective sequence length and training cost.
    * Uses the same BPE-ish regex segmenter as q54 so the two metrics
    * share one tokenization contract.
    *
    * Scale shape: a pure narrow projection (two `regexp_extract_all`
    * / `split` counts and an `octet_length`, all codegen'd in the
    * scan stage) followed by one per-language aggregate — token
    * arrays are never materialized past the count, nothing shuffles
    * except |langs| partial-agg rows. At 100 TB this is a single
    * corpus scan, embarrassingly parallel. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n_words"),
        size(expr(
          "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("n_subtoks"),
        expr("octet_length(text)").as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("sum_words"),
        sum("n_subtoks").as("sum_subtoks"),
        sum("n_bytes").as("sum_bytes"),
        round(sum(col("n_subtoks")).cast("double") / sum(col("n_words")), 6)
          .as("fertility"),
        round(sum(col("n_bytes")).cast("double") / sum(col("n_subtoks")), 6)
          .as("bytes_per_subtok"))
      .orderBy("lang")
  }

  val tokenFertilitySql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS sum_words,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
      |    AS sum_subtoks,
      |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
      |  round(CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
      |        / sum(len(string_split_regex(trim(text), '\s+'))), 6)
      |    AS fertility,
      |  round(CAST(sum(strlen(text)) AS DOUBLE)
      |        / sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))), 6)
      |    AS bytes_per_subtok
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  private val Stopwords = Seq("the", "a", "of", "and", "is", "in", "to")
  private def sqlList(ws: Seq[String]) = ws.mkString("('", "', '", "')")

  /** Per-document quality scoring: token count, mean word length,
    * stopword ratio → composite score, digested per language. The
    * scoring itself is a pure narrow projection (the classic
    * quality-gate pass before expensive downstream stages); the
    * digest keeps verify output small instead of dumping one row per
    * document through a global sort. */
  /** Per-document composite quality score (the q51 scoring pass,
    * shared with the q107 median gate): a pure narrow projection. */
  private[queries] def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop",
        size(expr(s"filter(toks, t -> t IN ${sqlList(Stopwords)})")))
      .withColumn("chars_nows",
        length(regexp_replace(col("text"), "\\s+", "")))
      .withColumn("quality",
        round(
          least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.5 +
            (col("n_stop") / col("n_tokens")) * 0.5, 4))

  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    scoredDocs(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= 0.5, 1).otherwise(0)).as("n_keep"),
        round(sum(col("quality")), 4).as("sum_quality"),
        round(sum(col("chars_nows") / col("n_tokens")), 4).as("sum_awl"),
        round(sum(col("n_stop") / col("n_tokens")), 4).as("sum_stop_ratio"))
      .orderBy("lang")
  }

  /** The q51 scoring pass as shared CTEs (ending in
    * q(doc_id, lang, n_tokens, n_stop, chars_nows, quality)) — one
    * definition for the q51 digest and the q107 gate, so the two
    * oracles cannot drift apart. */
  private[queries] val scoredDocsSqlCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(trim(text), '\\s+') AS toks,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS chars_nows
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, len(toks) AS n_tokens,
       |    len(list_filter(toks, t -> t IN ${sqlList(Stopwords)})) AS n_stop,
       |    chars_nows
       |  FROM t),
       |q AS (
       |  SELECT doc_id, lang, n_tokens, n_stop, chars_nows,
       |    round(least(n_tokens / 100.0, 1.0) * 0.5
       |          + (n_stop / CAST(n_tokens AS DOUBLE)) * 0.5, 4) AS quality
       |  FROM m)""".stripMargin

  val qualityScoreSql: String =
    s"""WITH $scoredDocsSqlCtes
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  round(sum(quality), 4) AS sum_quality,
       |  round(sum(chars_nows / CAST(n_tokens AS DOUBLE)), 4) AS sum_awl,
       |  round(sum(n_stop / CAST(n_tokens AS DOUBLE)), 4) AS sum_stop_ratio
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  /** q107: statistic-conditioned quality gate — keep each language's
    * documents at or above the language's MEDIAN quality score, the
    * CCNet-style "keep the best slice per group" pass (fixed
    * thresholds like q51's 0.5 misfire when quality distributions
    * differ per language; conditioning on a group statistic
    * self-calibrates).
    *
    * Scale shape: the per-group statistic is a tiny table (one row
    * per language) computed with an exact `percentile` here —
    * `approx_percentile` is the 100 TB dial, same digest, documented
    * error bound (q69's treatment) — then BROADCAST back, so the gate
    * itself is a scan-stage predicate on the corpus: score, compare,
    * aggregate. Scores are rounded to 4dp BEFORE the median, so the
    * interpolated midpoint is deterministic across engines. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(spark, dir)
      .select(col("doc_id"), col("lang"), col("quality"))
    val med = scored.groupBy(col("lang"))
      .agg(expr("percentile(quality, 0.5D)").as("med"))
    scored.join(broadcast(med), Seq("lang"))
      .withColumn("keep", (col("quality") >= col("med")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        sum(col("keep") * col("doc_id")).as("sum_kept_ids"),
        round(sum(when(col("keep") === 1L, col("quality")).otherwise(0.0)), 4)
          .as("sum_kept_quality"))
      .orderBy("lang")
  }

  val qualityGateSql: String =
    s"""WITH $scoredDocsSqlCtes,
       |med AS (SELECT lang, median(quality) AS med FROM q GROUP BY 1)
       |SELECT q.lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN quality >= med THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN quality >= med THEN doc_id ELSE 0 END) AS BIGINT)
       |    AS sum_kept_ids,
       |  round(sum(CASE WHEN quality >= med THEN quality ELSE 0 END), 4)
       |    AS sum_kept_quality
       |FROM q JOIN med ON q.lang = med.lang
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** Language-ID heuristic: stopword-marker hit counts per language,
    * argmax with a fixed priority order on ties. (The harness corpus
    * is synthetic word-soup, so predictions are uniform — the query
    * checks the OPERATOR, determinism included, not model quality.)
    *
    * Single cheap pass over the token array: one `filter` keeping only
    * marker tokens — the 25-marker IN-list exceeds Spark's
    * `inSetConversionThreshold`, so membership is ONE hash-set probe
    * per token (vs five 5-element IN walks before) — then a fold over
    * the rare hits resolves each to its language index. Ties resolve
    * to the first language in [[LangMarkers]] order via
    * `array_position` (first occurrence of the max), identical to the
    * previous per-column argmax. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val mk = LangMarkers.zipWithIndex.flatMap { case ((_, ws), i) =>
      ws.flatMap(w => Seq(s"'$w'", i.toString))
    }.mkString("map(", ", ", ")")
    val langs = LangMarkers.map { case (l, _) => s"'$l'" }
      .mkString("array(", ", ", ")")
    val allMarkers = sqlList(LangMarkers.flatMap(_._2))
    documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("scores", expr(
        s"""aggregate(filter(toks, t -> t IN $allMarkers),
           |  array_repeat(0, ${LangMarkers.size}),
           |  (acc, t) -> transform(acc, (v, i) ->
           |    IF(i = element_at($mk, t), v + 1, v)))""".stripMargin))
      .withColumn("predicted",
        expr(s"element_at($langs, cast(array_position(scores, array_max(scores)) as int))"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  val langIdSql: String = {
    val scoreCols = LangMarkers.map { case (l, ws) =>
      s"len(list_filter(toks, t -> t IN ${sqlList(ws)})) AS s_$l"
    }.mkString(",\n    ")
    val maxExpr = LangMarkers.map { case (l, _) => s"s_$l" }
      .mkString("greatest(", ", ", ")")
    val pred = LangMarkers.map { case (l, _) =>
      s"WHEN s_$l = mx THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (
       |  SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |s AS (SELECT lang,
       |    $scoreCols
       |  FROM t),
       |p AS (SELECT lang, $maxExpr AS mx, * FROM s),
       |pr AS (SELECT lang, CASE $pred END AS predicted FROM p)
       |SELECT lang, predicted, count(*) AS n
       |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val MixChunkTokens = 16

  /** q167: mixed-language document detection — the curation gate a
    * WHOLE-document lang-ID (q52) cannot provide: a document that
    * switches language mid-text still gets one confident doc-level
    * label and then pollutes a monolingual training slice. Chunk each
    * document into [[MixChunkTokens]]-token windows, run the SAME
    * marker-voting classifier per chunk (chunks with zero marker hits
    * vote 'und' and abstain), take the majority language over the
    * identified chunks, and flag documents whose minority share
    * exceeds 20% (integer-ppm cross-multiply, no float threshold).
    *
    * Scale shape: everything is ONE scan-stage nested-lambda pass per
    * document (chunk starts via `sequence`, per-chunk score vectors,
    * vote fold) — no explode, no per-chunk shuffle; the only exchange
    * is the per-lang digest rollup. Digest per true lang: docs, mixed
    * docs, identified/abstained chunk totals, xor of mixed doc ids. */
  def mixedLang(spark: SparkSession, dir: String): DataFrame = {
    val mk = LangMarkers.zipWithIndex.flatMap { case ((_, ws), i) =>
      ws.flatMap(w => Seq(s"'$w'", (i + 1).toString))
    }.mkString("map(", ", ", ")")
    val allMarkers = sqlList(LangMarkers.flatMap(_._2))
    val nl = LangMarkers.size
    val c = MixChunkTokens
    documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("preds", expr(
        // per chunk: marker votes per language -> argmax index, 0=und
        s"""transform(sequence(0, cast((size(toks) - 1) div $c as int)),
           |  k -> aggregate(
           |    filter(slice(toks, k * $c + 1, $c), t -> t IN $allMarkers),
           |    array_repeat(0, $nl),
           |    (acc, t) -> transform(acc, (v, i) ->
           |      IF(i + 1 = element_at($mk, t), v + 1, v)),
           |    acc -> IF(array_max(acc) = 0, 0,
           |      cast(array_position(acc, array_max(acc)) as int))))"""
          .stripMargin))
      .withColumn("votes", expr(
        s"""transform(sequence(1, $nl),
           |  L -> size(filter(preds, p -> p = L)))""".stripMargin))
      .withColumn("n_chunks", size(col("preds")))
      .withColumn("n_ident", expr("size(filter(preds, p -> p != 0))"))
      .withColumn("n_major", expr("array_max(votes)"))
      .withColumn("mixed",
        // minority share > 20%: (ident - major) * 5 > ident, integer
        expr("n_ident > 0 AND (n_ident - n_major) * 5 > n_ident"))
      .withColumn("h", expr(Exprs.hash60("cast(doc_id as string)")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mixed"), 1L).otherwise(0L)).as("n_mixed"),
        sum(col("n_chunks")).cast("long").as("sum_chunks"),
        sum(col("n_ident")).cast("long").as("sum_identified"),
        coalesce(expr("bit_xor(CASE WHEN mixed THEN h END)"), lit(0L))
          .as("mixed_digest"))
      .orderBy("lang")
  }

  val mixedLangSql: String = {
    val nl = LangMarkers.size
    val c = MixChunkTokens
    val scoreList = LangMarkers.map { case (_, ws) =>
      s"len(list_filter(ch, t -> t IN ${sqlList(ws)}))"
    }.mkString("[", ",\n         ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang,
       |    list_transform(
       |      list_transform(range(0, (len(toks) - 1) // $c + 1),
       |        k -> list_slice(toks, k * $c + 1, k * $c + $c)),
       |      ch -> CASE WHEN list_max($scoreList) = 0 THEN 0
       |        ELSE list_position($scoreList,
       |               list_max($scoreList)) END) AS preds
       |  FROM t),
       |v AS (
       |  SELECT doc_id, lang, len(preds) AS n_chunks,
       |    len(list_filter(preds, x -> x != 0)) AS n_ident,
       |    list_max(list_transform(range(1, $nl + 1),
       |      L -> len(list_filter(preds, x -> x = L)))) AS n_major
       |  FROM p),
       |f AS (
       |  SELECT doc_id, lang, n_chunks, n_ident,
       |    n_ident > 0 AND (n_ident - n_major) * 5 > n_ident AS mixed
       |  FROM v)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       |  CAST(sum(n_chunks) AS BIGINT) AS sum_chunks,
       |  CAST(sum(n_ident) AS BIGINT) AS sum_identified,
       |  coalesce(bit_xor(CASE WHEN mixed THEN
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |    END), 0) AS mixed_digest
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Canonical document fingerprint: md5 of the sorted distinct token
    * set — an order/multiplicity-insensitive content hash (the
    * shuffle-free half of fingerprint dedup; [[Dedup.exactDedup]] is
    * the groupBy(fp) other half). Digested by fingerprint prefix: 16
    * small groups, each carrying count + distinct-count + min/max fp,
    * so every fingerprint value still influences the output without a
    * full-cardinality dump. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("doc_id"),
        md5(expr(
          "array_join(array_sort(array_distinct(split(lower(trim(text)), '\\\\s+'))), ' ')"))
          .as("fp"))
      .groupBy(substring(col("fp"), 1, 1).as("prefix"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("fp")).as("n_distinct"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .orderBy("prefix")
  }

  val fingerprintSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
      |  FROM documents)
      |SELECT substr(fp, 1, 1) AS prefix, count(*) AS n,
      |  count(DISTINCT fp) AS n_distinct,
      |  min(fp) AS min_fp, max(fp) AS max_fp
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rolling-hash document fingerprint (Rabin-Karp / winnowing
    * family): polynomial hashes of every 8-char window, document
    * fingerprint = the MINIMUM window hash — stable under small edits
    * away from the minimizing window, unlike a whole-text hash. All
    * arithmetic is (acc*131 + code) mod 1e9+7 in both engines, so the
    * oracle mirrors every hash value. Digested per lang. */
  def rollingHash(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    documents(spark, dir)
      .withColumn("s", lower(trim(col("text"))))
      .filter(length(col("s")) >= W)
      // native codegen'd kernel — the nested higher-order-lambda form
      // (array_min(transform(..., i -> aggregate(...)))) evaluates
      // interpreted at ~O(n*W) boxed steps per doc (11.5 s at sf0.1);
      // the fused loop is value-identical (RollingMinHashSpec) and
      // the DuckDB oracle still spells out the lambda arithmetic.
      .withColumn("fp", expr(s"rolling_min_hash(s, $W)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .orderBy("lang")
  }

  val rollingHashSql: String =
    """WITH d AS (
      |  SELECT lang, lower(trim(text)) AS s FROM documents
      |  WHERE length(lower(trim(text))) >= 8),
      |f AS (
      |  SELECT lang,
      |    list_min(list_transform(range(1, length(s) - 6),
      |      i -> list_reduce(
      |             list_prepend(0::BIGINT,
      |               list_transform(range(0, 8),
      |                 j -> ascii(substr(s, i + j, 1))::BIGINT)),
      |             (acc, c) -> (acc * 131 + c) % 1000000007))) AS fp
      |  FROM d)
      |SELECT lang, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct,
      |  min(fp) AS min_fp, max(fp) AS max_fp
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Corpus word count via the generator surface (explode = the
    * UDTF-shaped operator, SURVEY §2.8): token frequency top-20 with a
    * total tie order. explode fans each document into its tokens
    * BEFORE the two-phase count — the shuffle carries (token, partial
    * count), never raw text, and the final top-k is
    * TakeOrderedAndProject (per-partition heaps, no full sort). */
  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)
  }

  val wordCountSql: String =
    """SELECT tok, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |      FROM documents)
      |GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT 20""".stripMargin

  /** Deterministic train/val/test split (80/10/10) by CONTENT-HASH
    * bucket — the reproducible form of dataset splitting at 100 TB:
    * assignment depends only on doc_id, so re-runs, added files, and
    * different partitionings never reshuffle a document across splits
    * (Bernoulli `sample()` can't promise any of that). The md5-prefix
    * hash is the engine-shared one, so the oracle mirrors every
    * assignment value-for-value. Digested per (lang, split). */
  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .withColumn("bucket", expr(
        s"${Exprs.hash60("cast(doc_id as string)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "split")
  }

  val hashSplitSql: String =
    """WITH a AS (
      |  SELECT lang, doc_id, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      |      AS bucket
      |  FROM documents),
      |s AS (
      |  SELECT lang, doc_id, n_chars,
      |    CASE WHEN bucket < 80 THEN 'train'
      |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM a)
      |SELECT lang, split, count(*) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Within-document repetition stats — the Gopher/MassiveText-style
    * quality signal (duplicate n-gram fraction + most-common-token
    * fraction) a curation pass filters on. All per-doc terms are
    * INTEGER counts computed with higher-order array functions (zero
    * shuffles until the per-language rollup), and each ratio is ONE
    * division of two summed counts — no per-doc double rounding to
    * drift between engines. The top-token count is
    * O(distinct × tokens) per document: pure embarrassingly-parallel
    * compute in the scan stage, chosen over an explode + (doc, token)
    * groupBy that would shuffle one row per TOKEN of a 100 TB corpus. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    // O(distinct x tokens) per-doc compute dwarfs one exchange of the
    // text bytes — spread the single-row-group scan (guide §2.5)
    spread(documents(spark, dir), "doc_id")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("toks")))
      // n-2 3-grams from n tokens; the size < 3 branch matters because
      // Spark's sequence(0, -1) DESCENDS (yields [0, -1]) rather than
      // returning empty like DuckDB's half-open range(0, 0).
      .withColumn("grams", expr(
        "if(size(toks) < 3, cast(array() as array<string>), " +
          "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))"))
      .withColumn("n_grams", size(col("grams")))
      .withColumn("n_dup_grams",
        col("n_grams") - size(array_distinct(col("grams"))))
      .withColumn("max_tok_cnt", expr(
        "array_max(transform(array_distinct(toks), " +
          "t -> size(filter(toks, x -> x = t))))"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("sum_grams"),
        sum(col("n_dup_grams")).as("sum_dup_grams"),
        round(sum(col("n_dup_grams")) / sum(col("n_grams")), 6)
          .as("dup_gram_ratio"),
        round(sum(col("max_tok_cnt")) / sum(col("n_tokens")), 6)
          .as("top_token_frac"))
      .orderBy("lang")
  }

  val repetitionStatsSql: String =
    """WITH t AS (
      |  SELECT lang, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT lang, len(toks) AS n_tokens,
      |    list_transform(range(0, greatest(len(toks) - 2, 0)),
      |      i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])
      |      AS grams,
      |    list_max(list_transform(list_distinct(toks),
      |      t -> len(list_filter(toks, x -> x = t)))) AS max_tok_cnt
      |  FROM t),
      |d AS (
      |  SELECT lang, n_tokens, max_tok_cnt, len(grams) AS n_grams,
      |    len(grams) - len(list_distinct(grams)) AS n_dup_grams
      |  FROM g)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_grams) AS BIGINT) AS sum_grams,
      |  CAST(sum(n_dup_grams) AS BIGINT) AS sum_dup_grams,
      |  round(CAST(sum(n_dup_grams) AS DOUBLE) / sum(n_grams), 6)
      |    AS dup_gram_ratio,
      |  round(CAST(sum(max_tok_cnt) AS DOUBLE) / sum(n_tokens), 6)
      |    AS top_token_frac
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything else: emails and phone-shaped numbers replaced by typed
    * placeholder tokens, redaction counted per class. PII is INJECTED
    * deterministically per doc_id (the harness corpus has none), so
    * the redactor runs against known ground truth and the oracle
    * checks the full redacted-text length arithmetic, not just counts.
    * Patterns stay in the regex subset Java and RE2 interpret
    * identically (character classes + bounded repeats, no
    * lookaround). */
  // Patterns go through the Column API only (regexp_count /
  // regexp_replace with a literal Column) — never an expr() SQL
  // string, whose literal parser would eat the `\.` escape. Exposed
  // private[queries] with the column builders so TextAnalysisSpec
  // asserts on the PRODUCTION redaction, not a copy.
  private[queries] val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private[queries] val PhoneRe = "[0-9]{3}-[0-9]{4}"

  /** doc_id-keyed PII injection (the harness corpus has none). */
  private[queries] def piiDirty: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or "),
      (col("doc_id") % 800 + 100).cast("string"), lit("-"),
      (col("doc_id") % 9000 + 1000).cast("string"))

  private[queries] def piiClean(dirty: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(dirty, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .withColumn("dirty", piiDirty)
      .withColumn("n_emails", regexp_count(col("dirty"), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(col("dirty"), lit(PhoneRe)))
      .withColumn("clean", piiClean(col("dirty")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("sum_emails"),
        sum(col("n_phones")).as("sum_phones"),
        sum(length(col("dirty"))).as("sum_dirty_chars"),
        sum(length(col("clean"))).as("sum_clean_chars"))
      .orderBy("lang")
  }

  val piiRedactSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com or '
      |      || CAST(doc_id % 800 + 100 AS VARCHAR) || '-'
      |      || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS dirty
      |  FROM documents),
      |r AS (
      |  SELECT lang, dirty,
      |    len(regexp_extract_all(dirty, '[a-z0-9]+@[a-z]+\.[a-z]+'))
      |      AS n_emails,
      |    len(regexp_extract_all(dirty, '[0-9]{3}-[0-9]{4}')) AS n_phones,
      |    regexp_replace(regexp_replace(dirty,
      |      '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
      |  FROM d)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_emails) AS BIGINT) AS sum_emails,
      |  CAST(sum(n_phones) AS BIGINT) AS sum_phones,
      |  CAST(sum(length(dirty)) AS BIGINT) AS sum_dirty_chars,
      |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_chars
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  private val LmVocabSize = 500

  /** Unigram language-model quality score — the CCNet-style filter
    * shape: a corpus-derived top-[[LmVocabSize]] vocabulary (cutoff
    * deterministic: count desc, token asc), then per-document
    * bits-per-token under the unigram distribution with a 0.5-count
    * OOV penalty, digested per language.
    *
    * The scale shape matters more than the model: the vocabulary is
    * ONE explode + groupBy shuffle (the unavoidable corpus statistic)
    * reduced to a 1-row map via `map_from_entries` and BROADCAST back,
    * so scoring is a per-document array fold inside the scan stage —
    * no per-token join, no per-token shuffle, no driver collect. The
    * per-lang rollup is the only other exchange. Per-doc bits are
    * rounded to 4 decimals before summing so cross-engine log/sum
    * ulp drift cannot reach the digest. */
  /** The trained corpus unigram-LM state (top-[[LmVocabSize]] vocab
    * map + corpus token total, ONE row) — memoized per (session, dir)
    * like the IVF codebook: a production pipeline trains the LM once
    * and scores many batches, and without the memo every invocation
    * re-runs the corpus-wide explode+groupBy that dominates. Shared
    * by q87 (scoring) and q166 (the DSIR denominator). Column names
    * are `vm`/`n_total`. */
  private def lmState(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "lm_vocab") {
      val docs = documents(spark, dir)
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      val vocab = docs.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(LmVocabSize)
      vocab.agg(map_from_entries(
          collect_list(struct(col("tok"), col("cnt")))).as("vm"))
        .crossJoin(docs.select(sum(size(col("toks"))).as("n_total")))
    }

  def unigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val lm = lmState(spark, dir)
    docs.crossJoin(broadcast(lm))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("bits", round(expr(
        "aggregate(toks, 0D, (a, t) -> a + -log2(" +
          "coalesce(cast(element_at(vm, t) as double), 0.5D) / n_total))"),
        4))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("bits")), 4).as("sum_bits"),
        round(sum(col("bits")) / sum(col("n_toks")), 4)
          .as("avg_bits_per_tok"))
      .orderBy("lang")
  }

  val unigramLmSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |u AS (SELECT unnest(toks) AS tok FROM t),
       |c AS (SELECT tok, count(*) AS cnt FROM u GROUP BY 1),
       |v AS (SELECT tok, cnt FROM c
       |      ORDER BY cnt DESC, tok ASC LIMIT $LmVocabSize),
       |m AS (SELECT map(list(tok ORDER BY tok), list(cnt ORDER BY tok))
       |        AS vm FROM v),
       |n AS (SELECT count(*) AS n_total FROM u),
       |s AS (
       |  SELECT lang, len(toks) AS n_toks,
       |    round(list_sum(list_transform(toks,
       |      tk -> -log2(coalesce(
       |        CAST(list_extract(map_extract(vm, tk), 1) AS DOUBLE), 0.5)
       |        / n_total))), 4) AS bits
       |  FROM t, m, n)
       |SELECT lang, count(*) AS n_docs,
       |  round(sum(bits), 4) AS sum_bits,
       |  round(sum(bits) / sum(n_toks), 4) AS avg_bits_per_tok
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q166 DSIR-style importance resampling
  // ---------------------------------------------------------------

  /** q166: DSIR-style importance resampling (Xie et al. 2023,
    * arXiv:2302.03169) — select corpus documents toward a TARGET
    * domain's distribution using importance weights from two cheap
    * unigram LMs, the published shape modern pretraining sets use to
    * upweight quality/domain data without training a classifier:
    *
    *   - target LM: trained on the q51 quality >= 0.5 slice (the
    *     "domain we want more of"), same top-[[LmVocabSize]] vocab +
    *     0.5-count OOV discipline as q87, memoized;
    *   - corpus LM: the SHARED memoized q87 state ([[lmState]]);
    *   - per doc: mean per-token log2 likelihood RATIO
    *     (log p_t − log p_c, the DSIR importance weight in log
    *     space), rounded 4dp per doc (the q87 cross-engine rule);
    *   - resample: keep with probability proportional to the weight,
    *     normalized by the corpus max — made DETERMINISTIC the q90
    *     way: keep iff hash(doc_id) ppm < round(2^(spt−max_spt)·1e6)
    *     (reproducible across runs AND engines; a boundary flip would
    *     need pow to land within ~1e-16 of a ppm rounding edge).
    *
    * Scale shape: both LM states are 1-row broadcasts; scoring is a
    * scan-stage array fold (no per-token join); the max is one 1-row
    * aggregate broadcast back; the keep decision is a scan-stage
    * predicate. Digest per lang: docs, kept count, rounded score sum,
    * xor of kept ids. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = {
    // the per-token log-ratio fold is the cost, not the text bytes —
    // spread the single-row-group scan (guide §2.5)
    val docs = spread(documents(spark, dir), "doc_id")
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val lmC = lmState(spark, dir)
    val lmT = memo(spark, dir, "lm_vocab_target") {
      val tdocs = scoredDocs(spark, dir)
        .filter(col("quality") >= 0.5)
        .withColumn("ltoks", split(lower(trim(col("text"))), "\\s+"))
      val vocab = tdocs.select(explode(col("ltoks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("tcnt"))
        .orderBy(col("tcnt").desc, col("tok").asc).limit(LmVocabSize)
      vocab.agg(map_from_entries(
          collect_list(struct(col("tok"), col("tcnt")))).as("tvm"))
        .crossJoin(tdocs.select(sum(size(col("ltoks"))).as("t_total")))
    }
    val scored = docs.crossJoin(broadcast(lmC)).crossJoin(broadcast(lmT))
      .withColumn("spt", round(expr(
        """aggregate(toks, 0D, (a, t) -> a
          |  + log2(coalesce(cast(element_at(tvm, t) as double), 0.5D)
          |         / t_total)
          |  - log2(coalesce(cast(element_at(vm, t) as double), 0.5D)
          |         / n_total)) / size(toks)""".stripMargin), 4))
      .select(col("doc_id"), col("lang"), col("spt"))
      // scored feeds BOTH the max aggregate and the keep decision;
      // without materialization the per-token scoring fold re-executes
      // for each consumer — one whole extra corpus scoring pass
      // (guide §1.2: don't compute things twice)
      .localCheckpoint(false)
    val maxSpt = scored.agg(max(col("spt")).as("max_spt"))
    scored.crossJoin(broadcast(maxSpt))
      .withColumn("keep_ppm", expr(
        "cast(round(pow(2.0D, spt - max_spt) * 1000000, 0) as bigint)"))
      .withColumn("keep", expr(
        s"${Exprs.hash60("cast(doc_id as string)")} % 1000000") <
        col("keep_ppm"))
      .withColumn("h", expr(Exprs.hash60("cast(doc_id as string)")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(col("spt")), 4).as("sum_score"),
        coalesce(expr("bit_xor(CASE WHEN keep THEN h END)"), lit(0L))
          .as("kept_digest"))
      .orderBy("lang")
  }

  val dsirResampleSql: String = {
    def h(c: String) =
      s"('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT"
    s"""WITH $scoredDocsSqlCtes,
       |ld AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |cu AS (SELECT unnest(toks) AS tok FROM ld),
       |cc AS (SELECT tok, count(*) AS cnt FROM cu GROUP BY 1),
       |cv AS (SELECT tok, cnt FROM cc
       |       ORDER BY cnt DESC, tok ASC LIMIT $LmVocabSize),
       |cm AS (SELECT map(list(tok ORDER BY tok), list(cnt ORDER BY tok))
       |         AS vm FROM cv),
       |cn AS (SELECT count(*) AS n_total FROM cu),
       |td AS (SELECT ld.doc_id, ld.toks FROM ld
       |       JOIN q ON ld.doc_id = q.doc_id WHERE q.quality >= 0.5),
       |tu AS (SELECT unnest(toks) AS tok FROM td),
       |tc AS (SELECT tok, count(*) AS tcnt FROM tu GROUP BY 1),
       |tv AS (SELECT tok, tcnt FROM tc
       |       ORDER BY tcnt DESC, tok ASC LIMIT $LmVocabSize),
       |tm AS (SELECT map(list(tok ORDER BY tok), list(tcnt ORDER BY tok))
       |         AS tvm FROM tv),
       |tn AS (SELECT count(*) AS t_total FROM tu),
       |sc AS (
       |  SELECT doc_id, lang,
       |    round(list_sum(list_transform(toks,
       |      tk -> log2(coalesce(
       |              CAST(list_extract(map_extract(tvm, tk), 1) AS DOUBLE),
       |              0.5) / t_total)
       |          - log2(coalesce(
       |              CAST(list_extract(map_extract(vm, tk), 1) AS DOUBLE),
       |              0.5) / n_total))) / len(toks), 4) AS spt
       |  FROM ld, cm, cn, tm, tn),
       |mx AS (SELECT max(spt) AS max_spt FROM sc),
       |k AS (
       |  SELECT doc_id, lang, spt,
       |    ${h("doc_id")} % 1000000 <
       |      CAST(round(pow(2.0, spt - max_spt) * 1000000, 0) AS BIGINT)
       |      AS keep
       |  FROM sc, mx)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(sum(spt), 4) AS sum_score,
       |  coalesce(bit_xor(CASE WHEN keep THEN ${h("doc_id")} END), 0)
       |    AS kept_digest
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // q99 BPE merge training
  // ---------------------------------------------------------------

  private val BpeMerges = 8
  private val SymL = "\u0001" // symbol-open sentinel (never in text)
  private val SymR = "\u0002" // symbol-close sentinel

  /** Codepoint-safe initial symbol encoding of the word column: one
    * sentinel-bracketed symbol per Unicode CODEPOINT. `split(w, "")`
    * would split on UTF-16 code units, halving non-BMP characters
    * (emoji, astral CJK) into surrogate halves on the Spark side only
    * — DuckDB's `string_split(w, '')` splits on codepoints, so the
    * regex form (java.util.regex advances by codepoint; `(?s).`
    * matches any single codepoint) is the parity-correct seed. */
  private def encInit(colName: String): Column =
    concat(lit(SymL),
      array_join(expr(s"regexp_extract_all($colName, '(?s).', 0)"),
        SymR + SymL),
      lit(SymR))

  /** Apply one learned merge (a, b) to a sentinel-encoded symbol
    * string: a plain string `replace` whose leftmost-non-overlapping
    * scan implements exactly the greedy left-to-right BPE merge (no
    * shared characters between adjacent occurrences, so runs like
    * `abab` merge fully in one pass, and mid-symbol false matches are
    * impossible). `lit`-argument form, not an interpolated `expr`, so
    * corpus symbols containing quotes can never corrupt the SQL. */
  private def applyMerge(enc: Column, a: String, b: String): Column =
    replace(enc, lit(SymL + a + SymR + SymL + b + SymR),
      lit(SymL + a + b + SymR))

  /** Adjacent-pair frequency table of a (freq, enc) vocab iterate,
    * frequencies carrying the corpus weight. */
  private def pairCounts(st: DataFrame): DataFrame =
    st.select(col("freq"),
        expr(s"split(substring(enc, 2, length(enc) - 2), '$SymR$SymL')")
          .as("ca"))
      .withColumn("cb", expr("slice(ca, 2, size(ca))"))
      .select(col("freq"), explode(expr(
        "filter(arrays_zip(ca, cb), p -> p.cb is not null)")).as("p"))
      .select(col("freq"), col("p.ca").as("a"), col("p.cb").as("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("cnt"))

  /** Word-frequency table over a document slice — the ONE
    * corpus-scale scan the trainer makes; memoized+persisted per
    * (slice key) so train and apply share it within a session. */
  private def bpeWordsFor(spark: SparkSession, dir: String, key: String,
      docPred: Column): DataFrame =
    memo(spark, dir, key) {
      documents(spark, dir).filter(docPred)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    }


  /** Train [[BpeMerges]] merges: each round aggregates adjacent-pair
    * frequencies over the VOCAB-sized iterate (the corpus weight rides
    * the `freq` column), collects the single argmax row — the
    * "broadcast the chosen pair" step, realized as a literal in the
    * next iterate's plan — and rewrites the encoding. Because the
    * chosen pair is a literal, each iterate is a chain of at most
    * [[BpeMerges]] string `replace`s over the persisted word table:
    * the plan stays tiny with NO per-round checkpoint (and therefore
    * no cached-block accumulation across bench sweeps — the r5 advice
    * item). Exhaustion (vocabulary fully merged before the budget)
    * ends training early: with no pair left, every later round is
    * necessarily empty too, matching the oracle's empty m_t CTEs.
    *
    * The learned merge table is the MODEL ARTIFACT (its size is the
    * merge hyperparameter, not data-dependent: 8 here, ~50k for a
    * real tokenizer). It lives in [[Tables.memo]] as a tiny local
    * DataFrame — the same per-(session, dir) store as the IVF
    * codebook, with the same session-end eviction — and consumers
    * collect it back to literals. */
  private[queries] def trainedMerges(
      spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    trainedMergesFor(spark, dir, "bpe_merges", lit(true))

  private def trainedMergesFor(spark: SparkSession, dir: String,
      key: String, docPred: Column): Seq[(Int, String, String, Long)] =
    memo(spark, dir, key) {
      var st = bpeWordsFor(spark, dir, s"${key}_words", docPred)
        .withColumn("enc", encInit("w"))
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var t = 1
      var exhausted = false
      while (t <= BpeMerges && !exhausted) {
        val top = pairCounts(st)
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val r = top(0)
          val (a, b) = (r.getString(0), r.getString(1))
          out += ((t, a, b, r.getLong(2)))
          st = st.withColumn("enc", applyMerge(col("enc"), a, b))
        }
        t += 1
      }
      import spark.implicits._
      out.result().toDF("rnk", "left_sym", "right_sym", "cnt")
    }.collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))

  /** q99: train [[BpeMerges]] BPE merges on the corpus — the trainer
    * half of the tokenizer story (q54 counts with a fixed BPE-ish
    * rule; this LEARNS the merge table, the artifact a real tokenizer
    * build produces; q100 APPLIES it). Output: the learned merges in
    * order, with their pair frequencies — deterministic via the
    * (count desc, pair asc) tie order.
    *
    * Scale shape: the classic trainer operates on the WORD-FREQUENCY
    * table, not the raw corpus — corpus-scale work is exactly ONE
    * token count; every merge iteration runs over the vocab-sized
    * (word, freq, symbols) table and the chosen pair crosses to the
    * driver as ONE row (see [[trainedMerges]]).
    *
    * Symbol sequences are encoded as sentinel-bracketed strings
    * (`<a><b><c>` with \\u0001/\\u0002 brackets); see [[applyMerge]]
    * for why merge application is a plain string replace. The string
    * form was chosen over an index-fold with a (out, skip) accumulator
    * because DuckDB 1.0 lambdas mis-evaluate captured columns in
    * chained CTEs — the string form needs NO lambdas in the oracle's
    * iteration, so both engines run the same trivially auditable
    * scan. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .toDF("rnk", "left_sym", "right_sym", "cnt").orderBy("rnk")
  }

  /** Ordering guard: [[trainedMerges]] collects from the memoized
    * table, which is a 1-partition local relation, so row order is
    * the insertion (rank) order — but consumers must not depend on
    * that silently; bpeApply folds in rank order explicitly. */
  private def byRank(ms: Seq[(Int, String, String, Long)]) =
    ms.sortBy(_._1)

  /** q100: APPLY the q99-trained merge table to the corpus — the
    * consuming half of the tokenizer story: tokenize every word
    * occurrence with the learned merges (in rank order, same sentinel
    * mechanics as training) and digest per-language token counts.
    *
    * Scale shape: the merge table is a broadcast-sized model artifact
    * (it rides into the plan as literals), so tokenization is a pure
    * SCAN-STAGE expression chain — explode, encode, [[BpeMerges]]
    * replaces, count sentinels — embarrassingly parallel with ZERO
    * joins and zero shuffles before the per-language rollup. Token
    * count per word = number of `SymL` sentinels in the final
    * encoding (length minus sentinel-stripped length), avoiding a
    * split+size array materialization per occurrence. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val enc = byRank(trainedMerges(spark, dir)).foldLeft(encInit("w")) {
      case (e, (_, a, b, _)) => applyMerge(e, a, b)
    }
    // spread (Tables.spread): the tokenize + [[BpeMerges]]-deep replace
    // chain is the whole query's cost and ran on the single-row-group
    // scan task (one 476ms single-task stage at sf0.1); ONE consumer,
    // so the exchange is paid once — unlike q112's two-branch shape,
    // where the same spread measured negative
    spread(documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")), "doc_id")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("n_tok",
        length(enc) - length(replace(enc, lit(SymL), lit(""))))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 4)
          .as("toks_per_word"))
      .orderBy("lang")
  }

  /** The training CTE chain (words → s0 → (pc_t, m_t, s_t)*) shared by
    * the q99/q100/q111 oracles: m_t is round t's chosen merge, s_t the
    * vocab encoding after applying it; `docPred` restricts the
    * training document slice. */
  private def bpeTrainCtes(docPred: String): Seq[String] = {
    val sep = "chr(2)||chr(1)"
    Seq(
      s"""words AS (
        |  SELECT tok AS w, count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
        |          AS tok
        |        FROM documents WHERE $docPred)
        |  WHERE tok <> '' GROUP BY 1)""".stripMargin,
      s"""s0 AS (SELECT w, freq,
         |  chr(1) || array_to_string(string_split(w, ''), $sep) || chr(2)
         |    AS enc
         |  FROM words)""".stripMargin) ++
      (1 to BpeMerges).flatMap { t =>
        Seq(
          s"""pc$t AS (
             |  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
             |  FROM (SELECT freq, unnest(list_zip(arr, arr[2:])) AS pr
             |        FROM (SELECT freq,
             |                string_split(substr(enc, 2, length(enc) - 2),
             |                             $sep) AS arr
             |              FROM s${t - 1}))
             |  WHERE pr[2] IS NOT NULL
             |  GROUP BY 1, 2)""".stripMargin,
          s"""m$t AS (SELECT a, b, cnt FROM pc$t
             |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""".stripMargin,
          s"""s$t AS (SELECT w, freq,
             |  coalesce(replace(enc, chr(1)||m.a||chr(2)||chr(1)||m.b||chr(2),
             |           chr(1)||m.a||m.b||chr(2)), enc) AS enc
             |  FROM s${t - 1} LEFT JOIN m$t m ON TRUE)""".stripMargin)
      }
  }

  val bpeTrainSql: String = {
    val union = (1 to BpeMerges)
      .map(t => s"SELECT $t AS rnk, a AS left_sym, b AS right_sym, cnt FROM m$t")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeTrainCtes("TRUE").mkString(",\n")}\n" +
      s"SELECT * FROM (\n$union) ORDER BY rnk"
  }

  /** q100 oracle: re-derive the merges with the training CTEs, then
    * apply them per word OCCURRENCE (a0 → a8, each the identical
    * LEFT-JOIN-ON-TRUE + replace step the trainer used on the vocab)
    * and digest token counts per language — token count = number of
    * chr(1) sentinels left in the final encoding. */
  val bpeApplySql: String = {
    val sep = "chr(2)||chr(1)"
    val applyCtes = Seq(
      """dw AS (
        |  SELECT doc_id, lang, tok AS w
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |        FROM documents)
        |  WHERE tok <> '')""".stripMargin,
      s"""a0 AS (SELECT doc_id, lang,
         |  chr(1) || array_to_string(string_split(w, ''), $sep) || chr(2)
         |    AS enc
         |  FROM dw)""".stripMargin) ++
      (1 to BpeMerges).map { t =>
        s"""a$t AS (SELECT doc_id, lang,
           |  coalesce(replace(enc, chr(1)||m.a||chr(2)||chr(1)||m.b||chr(2),
           |           chr(1)||m.a||m.b||chr(2)), enc) AS enc
           |  FROM a${t - 1} LEFT JOIN m$t m ON TRUE)""".stripMargin
      }
    s"""WITH ${(bpeTrainCtes("TRUE") ++ applyCtes).mkString(",\n")}
       |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
       |  CAST(sum(length(enc) - length(replace(enc, chr(1), ''))) AS BIGINT)
       |    AS n_tokens,
       |  round(CAST(sum(length(enc) - length(replace(enc, chr(1), '')))
       |          AS DOUBLE) / count(*), 4) AS toks_per_word
       |FROM a$BpeMerges GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Held-out slice predicates — the q89 decontamination convention:
    * doc_id % 97 == 0 is the eval slice. */
  private val TrainPredSql = "doc_id % 97 <> 0"
  private val EvalPredSql = "doc_id % 97 = 0"

  /** q111: tokenizer EVALUATION — merges are trained on the TRAIN
    * slice only and applied to the HELD-OUT slice (q89's doc_id % 97
    * convention), digesting per-language token counts and
    * chars-per-token compression. This is the measurement a tokenizer
    * build actually ships on: how well do merges learned on training
    * data generalize to unseen text (compression below 1 char/token
    * never happens; higher is better; eval compression lagging train
    * compression is the overfit signal). Same scan-stage apply shape
    * as q100 — the merge table is literals, zero joins. */
  def bpeEval(spark: SparkSession, dir: String): DataFrame = {
    val merges = byRank(trainedMergesFor(spark, dir, "bpe_merges_train",
      col("doc_id") % 97 =!= 0))
    val enc = merges.foldLeft(encInit("w")) {
      case (e, (_, a, b, _)) => applyMerge(e, a, b)
    }
    documents(spark, dir).filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("n_tok",
        length(enc) - length(replace(enc, lit(SymL), lit(""))))
      .withColumn("wlen", length(col("w")))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("wlen")).as("n_chars"),
        round(sum(col("wlen")).cast("double") / sum(col("n_tok")), 4)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  val bpeEvalSql: String = {
    val sep = "chr(2)||chr(1)"
    val applyCtes = Seq(
      s"""dw AS (
         |  SELECT doc_id, lang, tok AS w
         |  FROM (SELECT doc_id, lang,
         |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents WHERE $EvalPredSql)
         |  WHERE tok <> '')""".stripMargin,
      s"""a0 AS (SELECT doc_id, lang, length(w) AS wlen,
         |  chr(1) || array_to_string(string_split(w, ''), $sep) || chr(2)
         |    AS enc
         |  FROM dw)""".stripMargin) ++
      (1 to BpeMerges).map { t =>
        s"""a$t AS (SELECT doc_id, lang, wlen,
           |  coalesce(replace(enc, chr(1)||m.a||chr(2)||chr(1)||m.b||chr(2),
           |           chr(1)||m.a||m.b||chr(2)), enc) AS enc
           |  FROM a${t - 1} LEFT JOIN m$t m ON TRUE)""".stripMargin
      }
    s"""WITH ${(bpeTrainCtes(TrainPredSql) ++ applyCtes).mkString(",\n")},
       |f AS (SELECT doc_id, lang, wlen,
       |        length(enc) - length(replace(enc, chr(1), '')) AS n_tok
       |      FROM a$BpeMerges)
       |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(wlen) AS BIGINT) AS n_chars,
       |  round(CAST(sum(wlen) AS DOUBLE) / sum(n_tok), 4) AS chars_per_token
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // q127 inverted-index build / q128 conjunctive postings search
  // ---------------------------------------------------------------

  /** The postings table: term -> sorted distinct doc_id list — ONE
    * definition shared by the q127 build digest and the q128 search
    * (and memoized: an index is built once and queried many times).
    * One explode + one groupBy; the sort is per-posting-list, inside
    * the aggregate's own group. */
  private def postings(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "postings")(postingsOf(documents(spark, dir)))

  /** The index build over an arbitrary document set — factored so
    * q194's incremental maintenance tokenizes ONLY the delta. */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .groupBy(col("w"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))

  /** Shared DuckDB CTE ending in `post(w, docs)` = [[postings]]. */
  private val postingsSqlCte: String =
    """post AS (
      |  SELECT w, list_sort(list(DISTINCT doc_id)) AS docs
      |  FROM (SELECT doc_id, tok AS w
      |        FROM (SELECT doc_id,
      |                unnest(string_split_regex(lower(trim(text)), '\s+'))
      |                  AS tok
      |              FROM documents)
      |        WHERE tok <> '')
      |  GROUP BY w)""".stripMargin

  /** q127: inverted-index BUILD — the retrieval-side artifact an
    * embedding/RAG corpus ships next to its vectors: per term, the
    * sorted distinct posting list of documents containing it. The
    * digest buckets terms by log2(document frequency) and xors
    * posting-list content hashes, so list MEMBERSHIP and ORDER are
    * pinned cross-engine, not just sizes.
    *
    * Scale shape: one explode + distinct + one groupBy on the term
    * key — the exact geometry of a MapReduce index build; posting
    * lists sort inside their own group (bounded by document
    * frequency, never a corpus-wide sort). At 100 TB the long-tail
    * skew lives in the few head terms — which is why the digest
    * buckets by df: the head bucket's cost is visible, not averaged
    * away. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    postingsDigestOf(postings(spark, dir))
  }

  val invertedIndexSql: String =
    s"""WITH $postingsSqlCte,
       |b AS (
       |  SELECT w, docs, len(docs) AS df,
       |    CAST(floor(log2(len(docs))) AS BIGINT) AS bucket,
       |    ('0x' || substr(md5(w || ':' || array_to_string(docs, ',')),
       |     1, 15))::BIGINT AS h
       |  FROM post)
       |SELECT bucket, count(*) AS n_terms,
       |  CAST(sum(df) AS BIGINT) AS sum_postings,
       |  bit_xor(h) AS content_digest
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q194 incremental inverted-index maintenance (delta append)
  // ---------------------------------------------------------------

  /** q194: the retrieval-index member of the incremental-maintenance
    * family (q191 signatures + CC labels, q193 codebook, this for the
    * q127 postings artifact). On a delta arrival the index is NOT
    * rebuilt: only the DELTA documents are tokenized (the corpus-work
    * term), and each term's delta posting list is APPENDED to
    * yesterday's — because arrivals are append-only and doc_ids
    * monotone, every delta id exceeds every base id, so
    * `concat(base_list, delta_list)` of two sorted lists IS the
    * sorted merged list: the merge is a concatenation on a
    * co-partitioned term-keyed full-outer join of two INDEX-sized
    * tables, with no re-sort and no touch of the base corpus. At
    * 100 TB that is the difference between re-tokenizing the corpus
    * daily and tokenizing one day.
    *
    * Output: q127's digest (df-bucketed term counts + posting-list
    * content xor — membership AND order pinned) computed from the
    * incrementally merged index, plus per bucket the count of
    * FIRST-SEEN terms (posting list entirely delta — the vocabulary
    * growth a crawl monitors). The oracle computes the same from a
    * FULL rebuild: the content digest hash-matching is the
    * merged == rebuilt proof, exactly the q191 pattern. */
  def incrementalPostings(spark: SparkSession, dir: String): DataFrame = {
    incrementalPostingsFrom(spark, dir, basePostings(spark, dir))
  }

  /** Yesterday's artifact: the index over the base corpus — exposed
    * for the cold-restart publish (q206). */
  private[queries] def basePostings(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "postings_base") {
      postingsOf(documents(spark, dir)
        .filter(col("doc_id") <= Curation.deltaThreshold(spark, dir)))
    }

  /** The (w, docs, is_new) index merge every postings-append arm
    * shares: base index ⊕ postings of `deltaDocs` — ids are monotone,
    * so concat of the base list and the delta list IS the full sorted
    * list. */
  private[queries] def mergedPostingsIndex(basePost: DataFrame,
      deltaDocs: DataFrame): DataFrame =
    basePost.select(col("w"), col("docs").as("bdocs"))
      .join(postingsOf(deltaDocs).select(col("w"), col("docs").as("ddocs")),
        Seq("w"), "full")
      .select(col("w"),
        expr("""concat(coalesce(bdocs, cast(array() as array<bigint>)),
                       coalesce(ddocs, cast(array() as array<bigint>)))""")
          .as("docs"),
        col("bdocs").isNull.cast("long").as("is_new"))

  /** The q194 merge+digest from an EXPLICIT base index — the
    * cold-restart seam (q206): a fresh session passes the postings
    * read back from the [[graft.io.ArtifactStore]]; the delta
    * tokenization and term-keyed merge below touch no session memo. */
  private[queries] def incrementalPostingsFrom(spark: SparkSession,
      dir: String, basePost: DataFrame): DataFrame = {
    val thr = Curation.deltaThreshold(spark, dir)
    // today's work: tokenize the delta alone
    val merged = mergedPostingsIndex(basePost,
      documents(spark, dir).filter(col("doc_id") > thr))
    merged
      .withColumn("df", size(col("docs")))
      .withColumn("bucket", floor(log2(col("df"))).cast("long"))
      .withColumn("h", expr(Exprs.hash60(
        "concat(w, ':', array_join(transform(docs, d -> cast(d as string)), ','))")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("df")).cast("long").as("sum_postings"),
        expr("bit_xor(h)").as("content_digest"),
        sum(col("is_new")).as("n_new_terms"))
      .orderBy("bucket")
  }

  val incrementalPostingsSql: String =
    s"""WITH $postingsSqlCte,
       |mx AS (SELECT max(doc_id) * 7 // 8 AS thr FROM documents),
       |b AS (
       |  SELECT w, docs, len(docs) AS df,
       |    CAST(floor(log2(len(docs))) AS BIGINT) AS bucket,
       |    ('0x' || substr(md5(w || ':' || array_to_string(docs, ',')),
       |     1, 15))::BIGINT AS h,
       |    CASE WHEN docs[1] > thr THEN 1 ELSE 0 END AS is_new
       |  FROM post, mx)
       |SELECT bucket, count(*) AS n_terms,
       |  CAST(sum(df) AS BIGINT) AS sum_postings,
       |  bit_xor(h) AS content_digest,
       |  CAST(sum(is_new) AS BIGINT) AS n_new_terms
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** The foreachBatch body of the STREAMED postings arm (q216),
    * exposed for the multi-file and crash-replay specs: tokenize the
    * arriving batch alone, term-key full-outer merge against the
    * newest committed store version, publish the merged index as the
    * next version (manifest-committed — a crash between write and
    * commit leaves the previous version serving), prune to the
    * serving+grace pair. Unlike q194's batch merge, the streamed
    * merge is `sort_array(array_distinct(concat(...)))`: a REPLAYED
    * batch (crash after commit, before checkpoint advance) re-merges
    * to bit-identical content instead of appending duplicate ids, and
    * an out-of-order arrival cannot corrupt list order — the per-term
    * re-sort this buys is bounded by document frequency, the same
    * bound the build itself has. */
  private[graft] val StreamPostingsArtifact = "postings_stream"

  private[graft] def applyPostingsBatch(spark: SparkSession,
      batch: DataFrame, root: String): Unit = {
    val deltaPost = postingsOf(batch.select(col("doc_id"), col("text")))
    graft.io.ArtifactStore.advance(spark, root, StreamPostingsArtifact) {
      case None => Some(deltaPost)
      case Some(base) => Some(base.select(col("w"), col("docs").as("bdocs"))
        .join(deltaPost.select(col("w"), col("docs").as("ddocs")),
          Seq("w"), "full")
        .select(col("w"), expr(
          """sort_array(array_distinct(concat(
            |  coalesce(bdocs, cast(array() as array<bigint>)),
            |  coalesce(ddocs, cast(array() as array<bigint>)))))"""
            .stripMargin).as("docs")))
    }
  }

  /** q127's df-bucketed content digest over an arbitrary (w, docs)
    * index — factored so the streamed arm (q216) emits the identical
    * surface from its store-served index and shares q127's oracle. */
  private[queries] def postingsDigestOf(index: DataFrame): DataFrame =
    index
      .withColumn("df", size(col("docs")))
      .withColumn("bucket", floor(log2(col("df"))).cast("long"))
      .withColumn("h", expr(Exprs.hash60(
        "concat(w, ':', array_join(transform(docs, d -> cast(d as string)), ','))")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("df")).cast("long").as("sum_postings"),
        expr("bit_xor(h)").as("content_digest"))
      .orderBy("bucket")

  /** Artifact-size scalar for q197's publish_store oracle: the rows
    * (distinct terms) the published base index must attest. */
  private[queries] lazy val basePostingsCountSql: String =
    """SELECT CAST(count(DISTINCT w) AS BIGINT) FROM (
      |  SELECT doc_id, tok AS w
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok <> '') tw,
      |  (SELECT max(doc_id) * 7 // 8 AS thr FROM documents) t
      |WHERE tw.doc_id <= t.thr""".stripMargin

  // ---------------------------------------------------------------
  // q201 postings retraction (delete-side incremental maintenance)
  // ---------------------------------------------------------------

  /** The retraction itself, factored for the spec's list-level
    * equality check: every posting list filtered to ids <= thr,
    * emptied terms dropped, plus the pre-retraction list size. */
  private[queries] def retractedPostings(
      spark: SparkSession, dir: String, thr: Long): DataFrame =
    postings(spark, dir)
      .withColumn("dfull", size(col("docs")))
      .withColumn("docs", expr(s"filter(docs, d -> d <= ${thr}L)"))
      .filter(size(col("docs")) > 0)

  /** q201: postings RETRACTION — the deletion half of the q194
    * incremental index maintenance, the q196 symmetry for the
    * retrieval artifact: the reference's S7 idempotent load
    * re-delivers a date partition by delete-then-reload
    * (main.py:1535), so before re-appending, the partition's prior
    * contribution must leave the index. Retracting the delta id range
    * is a per-list filter — ids are monotone, so `d <= thr` removes
    * exactly the partition — applied index-side only: the base corpus
    * is never touched, and terms whose lists empty (delta-only
    * vocabulary) drop from the index entirely.
    *
    * Output: the q127 digest of the retracted index plus per bucket
    * `n_shrunk`, the count of terms that survived but lost members
    * (= terms spanning base AND delta — the re-delivery blast
    * radius; q194's `n_new_terms` is the mirror stat on append). The
    * oracle REBUILDS the base index independently from base docs
    * alone — hash match proves retract(append(index, delta), delta)
    * == index, which makes retract-then-reappend re-delivery
    * idempotent by composition with q194's merged == rebuilt proof.
    *
    * Scale shape: one pass over the INDEX (index-sized, not
    * corpus-sized), embarrassingly parallel per term; the filter is a
    * codegen'd array op inside the scan stage. */
  def postingsRetraction(spark: SparkSession, dir: String): DataFrame = {
    val thr = Curation.deltaThreshold(spark, dir)
    retractionSummary(retractedPostings(spark, dir, thr))
  }

  /** The q201 output surface over any (w, retained docs, dfull)
    * frame — factored so the cold arm's store-reconstituted index
    * answers the identical digest. */
  private def retractionSummary(retr: DataFrame): DataFrame =
    retr
      .withColumn("shrunk",
        (size(col("docs")) < col("dfull")).cast("long"))
      .withColumn("df", size(col("docs")))
      .withColumn("bucket", floor(log2(col("df"))).cast("long"))
      .withColumn("h", expr(Exprs.hash60(
        "concat(w, ':', array_join(transform(docs, d -> cast(d as string)), ','))")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("df")).cast("long").as("sum_postings"),
        expr("bit_xor(h)").as("content_digest"),
        sum(col("shrunk")).as("n_shrunk"))
      .orderBy("bucket")

  /** The retraction drill with the base index read COLD (the q221
    * composed daily run's phase 7): the full index is reconstituted
    * as base ⊕ delta first — ids are monotone, so concat of the base
    * list and the delta list IS the full sorted list (the q194 merge
    * law) — and the delta range is then retracted per list. Same
    * output surface and oracle as [[postingsRetraction]], which
    * filters the warm memoized full index instead; cost is index ⊕
    * delta sized either way. */
  private[queries] def postingsRetractionFrom(spark: SparkSession,
      dir: String, basePost: DataFrame): DataFrame = {
    val thr = Curation.deltaThreshold(spark, dir)
    val full = mergedPostingsIndex(basePost,
      documents(spark, dir).filter(col("doc_id") > thr))
    retractionSummary(full
      .select(col("w"), col("docs"))
      .withColumn("dfull", size(col("docs")))
      .withColumn("docs", expr(s"filter(docs, d -> d <= ${thr}L)"))
      .filter(size(col("docs")) > 0))
  }

  /** Independent BASE-ONLY rebuild (not a filter of the full index):
    * the oracle derives the lists from base documents alone, so the
    * hash match is a cross-derivation proof. `n_shrunk` mirrors as
    * "base term also seen in a delta doc". */
  val postingsRetractionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok AS w
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok <> ''),
      |mx AS (SELECT max(doc_id) * 7 // 8 AS thr FROM documents),
      |base AS (
      |  SELECT w, list_sort(list(DISTINCT doc_id)) AS docs
      |  FROM toks, mx WHERE doc_id <= thr GROUP BY w),
      |deltaw AS (SELECT DISTINCT w FROM toks, mx WHERE doc_id > thr),
      |s AS (
      |  SELECT base.w, len(docs) AS df,
      |    CAST(floor(log2(len(docs))) AS BIGINT) AS bucket,
      |    ('0x' || substr(md5(base.w || ':' || array_to_string(docs, ',')),
      |     1, 15))::BIGINT AS h,
      |    CASE WHEN deltaw.w IS NOT NULL THEN 1 ELSE 0 END AS shrunk
      |  FROM base LEFT JOIN deltaw ON base.w = deltaw.w)
      |SELECT bucket, count(*) AS n_terms,
      |  CAST(sum(df) AS BIGINT) AS sum_postings,
      |  bit_xor(h) AS content_digest,
      |  CAST(sum(shrunk) AS BIGINT) AS n_shrunk
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** Fixed conjunctive queries for q128 — head terms of the harness
    * corpus vocabulary, so every query has deep posting lists (and
    * deep intersections) at every SF. */
  private val SearchQueries: Seq[(String, String, String)] = Seq(
    ("q1", "join", "hash"), ("q2", "row", "batch"),
    ("q3", "scan", "filter"), ("q4", "column", "merge"),
    ("q5", "small", "order"))

  /** q128: conjunctive search OVER the q127 index — AND-of-terms
    * retrieval as posting-list intersection, the operation the index
    * exists for. Each query joins its two terms' posting lists and
    * intersects them with the native merge-walk kernel
    * (`sorted_intersect_count` — the lists are sorted-distinct by
    * construction, the kernel's documented precondition); the digest
    * is the hit count plus the smallest hit id (cardinality + a
    * pinned member).
    *
    * Scale shape: the query list is a literal broadcast; each lookup
    * is an equi-join on the term key against the memoized postings
    * table — index-sized, not corpus-sized — and the per-pair
    * intersection is the allocation-free codegen'd kernel. */
  def postingsSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = postings(spark, dir)
    val qs = SearchQueries.toDF("qid", "ta", "tb")
    qs.join(p.select(col("w").as("ta"), col("docs").as("da")), Seq("ta"))
      .join(p.select(col("w").as("tb"), col("docs").as("db")), Seq("tb"))
      .withColumn("n_hits", expr("sorted_intersect_count(da, db)"))
      // merge-walk, NOT array_min(filter(da, d -> array_contains(db,
      // d))): that composition is O(|da|·|db|) per query pair — a wall
      // at x64 where head posting lists are 64x longer (the round-13
      // x64 sweep ground to a halt exactly here); the sorted lists'
      // first merge match IS the intersection minimum
      .withColumn("min_hit", expr("sorted_intersect_min(da, db)"))
      .select(col("qid"), col("ta"), col("tb"),
        col("n_hits").cast("long").as("n_hits"), col("min_hit"))
      .orderBy("qid")
  }

  val postingsSearchSql: String = {
    val qrows = SearchQueries.map { case (q, a, b) =>
      s"('$q', '$a', '$b')"
    }.mkString(", ")
    s"""WITH $postingsSqlCte,
       |qs(qid, ta, tb) AS (VALUES $qrows)
       |SELECT qid, ta, tb,
       |  CAST(len(list_intersect(pa.docs, pb.docs)) AS BIGINT) AS n_hits,
       |  list_min(list_intersect(pa.docs, pb.docs)) AS min_hit
       |FROM qs JOIN post pa ON qs.ta = pa.w
       |        JOIN post pb ON qs.tb = pb.w
       |ORDER BY qid""".stripMargin
  }

  // ---------------------------------------------------------------
  // q129 BM25 ranked retrieval
  // ---------------------------------------------------------------

  private val Bm25TopK = 5

  /** q129: BM25 ranked retrieval — the scoring half of the retrieval
    * story whose index half is q127/q128: Okapi BM25 (k1=1.2, b=0.75,
    * Lucene's non-negative idf `ln(1 + (N - df + 0.5)/(df + 0.5))`)
    * over the [[SearchQueries]] term pairs, top-[[Bm25TopK]] documents
    * per query. Boolean intersection (q128) answers "which docs";
    * BM25 answers "in what order" — the half a RAG pipeline actually
    * serves.
    *
    * Scale shape: document length rides the scan-stage explode as a
    * carried column, so tf(doc, term, dl) is ONE corpus aggregate
    * with no dl join-back; the 10-row query-term list broadcasts into
    * the tf stream (the corpus side never shuffles for it) and only
    * matching rows — bounded by the query terms' document frequency —
    * reach the per-(query, doc) aggregate; df for exactly the query
    * terms is a second tiny aggregate off the matched rows. Corpus
    * scalars (N, avgdl) are a 1-row broadcast. Ranking is the
    * bounded-heap [[graft.functions.TopKAgg]] — map-side partial
    * aggregation, never a window sort. Per-term scores round to 4dp
    * before summing and the sum re-rounds (the q87/q112 convention)
    * so cross-engine ln/division drift cannot move a rank; rounded
    * ties break on doc_id ASC identically in the aggregate and the
    * oracle's window. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tokenization is per-row-expensive and runs in two legs (corpus
    // scalars + the tf stream) — spread the single-row-group scan
    // (guide §2.5)
    val docs = spread(documents(spark, dir), "doc_id")
      .withColumn("toks",
        filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= ""))
    val stats = docs.agg(
      count(lit(1)).as("n_total"),
      (sum(size(col("toks"))).cast("double") /
        sum(when(size(col("toks")) > 0, 1L).otherwise(0L))).as("avgdl"))
    val qs = SearchQueries.flatMap { case (q, a, b) => Seq((q, a), (q, b)) }
      .toDF("qid", "w")
    // broadcast-join the 10-row query-term list BELOW the tf
    // aggregate (guide §2.3 "aggregate before you shuffle" dual:
    // FILTER before you shuffle): the tf exchange then carries only
    // the probe terms' occurrences — bounded by their document
    // frequency — instead of one row per TOKEN of the corpus.
    // Grouping by (qid, doc, dl, w) after the join yields exactly the
    // rows the old tf-then-join produced (qid rides the group key).
    val hits = docs
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("w"))
      .join(broadcast(qs), "w")
      .groupBy(col("qid"), col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = hits.select(col("w"), col("doc_id")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    bm25Rank(hits, dfTab, stats)
  }

  /** Shared BM25 scoring tail: per-(qid, doc) tf hit stream + per-term
    * df table + 1-row corpus scalars -> ranked top-[[Bm25TopK]] per
    * query. Factored so q129 (full recompute) and q199 (incrementally
    * merged stats) score through the SAME expression tree — rank
    * equality between them is then a statement about the STATS, not
    * about two hand-kept scoring codepaths staying in sync. */
  private def bm25Rank(hits: DataFrame, dfTab: DataFrame,
      stats: DataFrame): DataFrame =
    hits.join(broadcast(dfTab), "w")
      .crossJoin(broadcast(stats))
      .withColumn("s", round(
        log(lit(1.0) + (col("n_total") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 4))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("s")), 4).as("score"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(Bm25TopK)(
        col("score"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.vec_id").as("doc_id"), col("col.cos").as("score"))
      .orderBy("qid", "rnk")

  // ---------------------------------------------------------------
  // q199 incremental BM25 scoring-stats maintenance
  // ---------------------------------------------------------------

  /** q199: incremental maintenance of BM25's SCORING artifacts — the
    * last shared index artifact to get a delta path (q191 signatures +
    * CC labels, q193 codebook, q194 postings, q198 graph; this for the
    * ranking stats q129 serves with). Every artifact is EXACTLY
    * mergeable integer algebra, so unlike the approximate q198 graph
    * the proof is full equality:
    *
    *   - corpus scalars: N, sum(dl) and the nonempty-doc count are
    *     longs — base + delta sums are exact, and avgdl divides ONCE,
    *     after the merge (merging two avgdl floats would not be exact);
    *   - per-term df: doc_ids are monotone so base and delta doc sets
    *     are disjoint — df = df_base + df_delta;
    *   - the probe terms' tf-postings: append, the q194 shape (a
    *     production index stores tf alongside each posting; the
    *     memoized base slice stands in for reading yesterday's lists
    *     for the probe terms).
    *
    * A delta arrival therefore tokenizes ONLY the delta — at 100 TB
    * the difference between re-tokenizing the corpus daily and
    * tokenizing one day — and the merged stats are IDENTICAL to the
    * full recompute's, so the served ranking is too: the oracle is
    * q129's full-rebuild SQL verbatim, and the hash match is the
    * incremental == rebuild proof at the level a user sees, the ranks
    * ([[bm25Rank]] is the single scoring tail both paths share).
    *
    * The delta tokenization runs in THREE delta-sized lineage legs
    * (the scalars aggregate, `deltaHits`' df leg, `deltaHits`' union
    * leg); a production daily run materializes today's tokenization
    * once, but at harness scale a scratch write costs more than the
    * recompute (the measured q191 negative result, BENCH_NOTES). */
  def incrementalBm25(spark: SparkSession, dir: String): DataFrame = {
    incrementalBm25From(spark, dir,
      baseBm25Scalars(spark, dir), baseBm25Hits(spark, dir))
  }

  private def bm25QTerms: Seq[String] =
    SearchQueries.flatMap { case (_, a, b) => Seq(a, b) }.distinct

  private def bm25Toked(spark: SparkSession, dir: String,
      pred: Column): DataFrame =
    documents(spark, dir).filter(pred)
      .withColumn("toks",
        filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= ""))

  private def bm25ScalarsOf(d: DataFrame): DataFrame = d.agg(
    count(lit(1)).as("n_docs"),
    coalesce(sum(size(col("toks"))), lit(0L)).cast("long").as("sum_dl"),
    coalesce(sum(when(size(col("toks")) > 0, 1L).otherwise(0L)),
      lit(0L)).as("n_ne"))

  private def bm25HitsOf(d: DataFrame): DataFrame = d
    .select(col("doc_id"), size(col("toks")).as("dl"),
      explode(col("toks")).as("w"))
    .filter(col("w").isin(bm25QTerms: _*))
    .groupBy(col("doc_id"), col("dl"), col("w"))
    .agg(count(lit(1)).as("tf"))

  /** Yesterday's ranking-stat artifacts (corpus scalars + probe-term
    * tf-postings over the base corpus) — exposed for the cold-restart
    * publish (q210). */
  private[queries] def baseBm25Scalars(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "bm25_scalars_base") {
      bm25ScalarsOf(bm25Toked(spark, dir,
        col("doc_id") <= Curation.deltaThreshold(spark, dir)))
    }

  private[queries] def baseBm25Hits(
      spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "bm25_hits_base") {
      bm25HitsOf(bm25Toked(spark, dir,
        col("doc_id") <= Curation.deltaThreshold(spark, dir)))
    }

  /** The q199 merge+rank from EXPLICIT base artifacts — the
    * cold-restart seam (q210): a fresh session passes the scalar and
    * tf-postings tables read back from the [[graft.io.ArtifactStore]];
    * the delta tokenization and exact integer merges below touch no
    * session memo. */
  private[queries] def incrementalBm25From(spark: SparkSession,
      dir: String, baseScalars: DataFrame, baseHits: DataFrame): DataFrame = {
    import spark.implicits._
    val thr = Curation.deltaThreshold(spark, dir)
    // today's work: tokenize the DELTA alone
    val deltaToked = bm25Toked(spark, dir, col("doc_id") > thr)
    val deltaHits = bm25HitsOf(deltaToked)
    // exact integer merges
    val mergedScalars = baseScalars
      .select(col("n_docs").as("nb"), col("sum_dl").as("sb"),
        col("n_ne").as("eb"))
      .crossJoin(broadcast(bm25ScalarsOf(deltaToked)
        .select(col("n_docs").as("nd"), col("sum_dl").as("sd"),
          col("n_ne").as("ed"))))
      .select((col("nb") + col("nd")).as("n_total"),
        ((col("sb") + col("sd")).cast("double") /
          (col("eb") + col("ed"))).as("avgdl"))
    val mergedDf = baseHits.groupBy(col("w")).agg(count(lit(1)).as("dfb"))
      .join(deltaHits.groupBy(col("w")).agg(count(lit(1)).as("dfd")),
        Seq("w"), "full")
      .select(col("w"),
        (coalesce(col("dfb"), lit(0L)) + coalesce(col("dfd"), lit(0L)))
          .as("df"))
    val qs = SearchQueries.flatMap { case (q, a, b) => Seq((q, a), (q, b)) }
      .toDF("qid", "w")
    val mergedHits = baseHits.unionByName(deltaHits)
      .join(broadcast(qs), "w")
    bm25Rank(mergedHits, mergedDf, mergedScalars)
  }

  // ---------------------------------------------------------------
  // q217 streamed BM25 stats (the ranking-stats row's streamed cell)
  // ---------------------------------------------------------------

  private[graft] val StreamDoclensArtifact = "bm25_doclens_stream"
  private[graft] val StreamHitsArtifact = "bm25_hits_stream"

  /** The foreachBatch body of the STREAMED BM25 arm (q217). The
    * streamed artifacts are DOC-KEYED — per-doc lengths and per-(doc,
    * term) probe tf rows — NOT the pre-aggregated scalars q199
    * merges: additive scalar merges double-count a crash-replayed
    * batch, while doc-keyed rows merge by dropDuplicates on their
    * key, so a replay is bit-identical by construction (the q216
    * idempotence discipline; the replayed rows are equal, so which
    * duplicate survives is immaterial). Scalars derive at read time
    * by ONE artifact-sized aggregate — the 100 TB trade is storing
    * one row per doc (the corpus's own cardinality, same as the
    * labels artifact) to make the stream replay-safe. */
  private[graft] def applyBm25Batch(spark: SparkSession,
      batch: DataFrame, root: String): Unit = {
    val toked = batch.select(col("doc_id"), col("text"))
      .withColumn("toks",
        filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= ""))
    val dls = toked.select(col("doc_id"), size(col("toks")).as("dl"))
    val hits = bm25HitsOf(toked)
    for ((name, delta, keys) <- Seq(
        (StreamDoclensArtifact, dls, Seq("doc_id")),
        (StreamHitsArtifact, hits, Seq("doc_id", "w"))))
      graft.io.ArtifactStore.advance(spark, root, name)(prev => Some(
        prev.fold(delta)(_.unionByName(delta).dropDuplicates(keys))))
  }

  /** The q129 ranking served from the STREAMED store artifacts —
    * factored for q217 and its specs: scalars and df derive from the
    * doc-keyed artifacts in one artifact-sized aggregate each, then
    * the shared [[bm25Rank]] scoring tail runs unchanged. */
  private[graft] def bm25FromStreamStore(spark: SparkSession,
      root: String): DataFrame = {
    import spark.implicits._
    val dls = graft.io.ArtifactStore
      .read(spark, root, StreamDoclensArtifact)
    val hits = graft.io.ArtifactStore
      .read(spark, root, StreamHitsArtifact)
    val stats = dls.agg(count(lit(1)).as("n_total"),
      (sum(col("dl")).cast("double") /
        sum(when(col("dl") > 0, 1L).otherwise(0L))).as("avgdl"))
    val dfTab = hits.select(col("w"), col("doc_id")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val qs = SearchQueries.flatMap { case (q, a, b) => Seq((q, a), (q, b)) }
      .toDF("qid", "w")
    bm25Rank(hits.join(broadcast(qs), "w"), dfTab, stats)
  }

  /** Artifact-size scalars for q197's publish_store oracle: the rows
    * the published BM25 stat artifacts must attest. The scalar table
    * is ONE row by construction (a global aggregate); the tf-postings
    * row count is the distinct (doc, dl, term) groups over base docs
    * restricted to the probe terms. */
  private[queries] lazy val baseBm25ScalarsCountSql: String =
    "SELECT CAST(1 AS BIGINT)"

  private[queries] lazy val baseBm25HitsCountSql: String = {
    val terms = bm25QTerms.map(t => s"'$t'").mkString(", ")
    s"""SELECT CAST(count(*) AS BIGINT) FROM (
       |  SELECT doc_id, dl, w FROM (
       |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS w FROM (
       |      SELECT doc_id,
       |        list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                    t -> t <> '') AS toks
       |      FROM documents,
       |        (SELECT max(doc_id) * 7 // 8 AS thr FROM documents) t
       |      WHERE doc_id <= thr))
       |  WHERE w IN ($terms) GROUP BY 1, 2, 3)""".stripMargin
  }

  val bm25Sql: String = {
    val qrows = SearchQueries.flatMap { case (q, a, b) =>
      Seq(s"('$q', '$a')", s"('$q', '$b')")
    }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                t -> t <> '') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_total,
       |    CAST(sum(len(toks)) AS DOUBLE) /
       |      sum(CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END) AS avgdl
       |  FROM d),
       |tf AS (
       |  SELECT doc_id, dl, w, count(*) AS tf
       |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS w FROM d)
       |  GROUP BY 1, 2, 3),
       |qs(qid, w) AS (VALUES $qrows),
       |hits AS (SELECT qid, tf.w, doc_id, dl, tf
       |         FROM tf JOIN qs ON tf.w = qs.w),
       |dfv AS (SELECT w, count(DISTINCT doc_id) AS df
       |        FROM hits GROUP BY 1),
       |scored AS (
       |  SELECT qid, doc_id,
       |    round(ln(1.0 + (n_total - df + 0.5) / (df + 0.5)) *
       |      (tf * 2.2) /
       |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS s
       |  FROM hits JOIN dfv ON hits.w = dfv.w CROSS JOIN stats),
       |tot AS (SELECT qid, doc_id, round(sum(s), 4) AS score
       |        FROM scored GROUP BY 1, 2),
       |r AS (SELECT qid, doc_id, score,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY score DESC, doc_id ASC) AS rnk
       |      FROM tot)
       |SELECT qid, rnk, doc_id, score
       |FROM r WHERE rnk <= $Bm25TopK ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  // q117 bigram LM bits-per-token (stupid backoff)
  // ---------------------------------------------------------------

  /** q117: bigram language-model scoring — the next step up the CCNet
    * quality ladder from q87's unigram: per-document cross-entropy
    * under a corpus-trained bigram model with stupid backoff (Brants
    * et al. 2007 — unnormalized `0.4 * unigram` when the bigram is
    * unseen), digested per language. Perplexity under an n-gram LM is
    * the classic pretraining-corpus quality filter; the bigram takes
    * it from word frequency to local coherence (word-salad docs score
    * high even when every word is common).
    *
    * Scale shape: the model (top-[[LmVocabSize]] bigram-bits and
    * backoff-bits tables + the default, all tiny) is trained with
    * corpus-wide aggregates and memoized per (session, dir); scoring
    * explodes each document's adjacent pairs in the scan stage and
    * resolves bits through two BROADCAST hash joins — O(1) codegen'd
    * lookups — then two-phase aggregates per doc and per language.
    * Bits round to 4dp per document (the q87 convention) so
    * cross-engine log/sum drift stays inside the rounding. */
  /** The per-document bigram-LM scored frame (doc_id, lang, n_bg,
    * bits) — memoized + persisted and shared by q117 (corpus-level
    * digest) and q171 (CCNet perplexity buckets): the scored corpus is
    * the artifact a CCNet-style pipeline writes once and filters from
    * many times. Body is q117's scoring chain verbatim; see
    * [[bigramLm]] for the model-shape rationale. */
  private def bigramDocBits(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "lm_bigram_docbits") {
      bigramDocBitsBody(spark, dir)
    }

  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    bigramDocBits(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bg")).as("n_bigrams"),
        round(sum(col("bits")), 4).as("sum_bits"),
        round(sum(col("bits")) / sum(col("n_bg")), 4)
          .as("avg_bits_per_bigram"))
      .orderBy("lang")
  }

  private def bigramDocBitsBody(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    // The model is three memoized BITS tables, not count maps:
    // -log2 is computed once per model ENTRY at training time
    // (identical double arithmetic to computing it per pair, so the
    // oracle — which spells out the per-pair logs — is unchanged),
    // and scoring is exploded pairs through two BROADCAST HASH JOINS.
    // Two earlier forms were measured and rejected under the honest
    // noop-write bench: count maps scored per pair with log2 in an
    // interpreted fold (8.1 s at sf0.1), and prebaked-bits maps still
    // paid Spark's element_at-on-MapData LINEAR key scan per lookup
    // (5.6 s). Hash-join lookups are O(1) and codegen'd: 0.4 s.
    val bgOf = "zip_with(slice(toks, 1, size(toks) - 1)," +
      " slice(toks, 2, size(toks) - 1), (p, c) -> concat(p, ' ', c))"
    val uniT = memo(spark, dir, "lm_bigram_uni") {
      docs.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(LmVocabSize)
    }
    val nTot = memo(spark, dir, "lm_bigram_n") {
      docs.select(sum(size(col("toks"))).as("n_total"))
    }
    // bigram bits exist only when the prev token is in the unigram
    // vocab (the backoff CASE's AND); p = first token of the key
    val bmT = memo(spark, dir, "lm_bigram_bm") {
      docs.select(explode(expr(bgOf)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bg").asc).limit(LmVocabSize)
        .withColumn("p", expr("split(bg, ' ')[0]"))
        .join(uniT.select(col("tok").as("p"), col("cnt").as("pcnt")),
          Seq("p"))
        .select(col("bg"),
          (-log2(col("cnt").cast("double") / col("pcnt"))).as("bg_bits"))
    }
    val wmT = memo(spark, dir, "lm_bigram_wm") {
      uniT.crossJoin(nTot)
        .select(col("tok").as("c"),
          (-log2(lit(0.4) * col("cnt").cast("double") / col("n_total")))
            .as("w_bits"))
    }
    val defB = nTot.select(
      (-log2(lit(0.4) * 0.5 / col("n_total"))).as("defbits"))
    val perDoc = docs
      .select(col("doc_id"), explode(expr(bgOf)).as("bg"))
      .withColumn("c", expr("split(bg, ' ')[1]"))
      .join(broadcast(bmT), Seq("bg"), "left")
      .join(broadcast(wmT), Seq("c"), "left")
      .crossJoin(broadcast(defB))
      .select(col("doc_id"),
        coalesce(col("bg_bits"), col("w_bits"), col("defbits")).as("b"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("b")), 4).as("bits"))
    docs.select(col("doc_id"), col("lang"),
        greatest(size(col("toks")) - 1, lit(0)).as("n_bg"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("bits", coalesce(col("bits"), lit(0.0)))
      .select(col("doc_id"), col("lang"), col("n_bg"), col("bits"))
  }

  /** DuckDB mirror of [[bigramDocBits]] (CTE chain ending in `d` =
    * (doc_id, lang, n_bg, bits)) — ONE definition shared by the q117
    * and q171 oracles. */
  private val duckBigramDocCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |u AS (SELECT unnest(toks) AS tok FROM t),
       |uc AS (SELECT tok, count(*) AS cnt FROM u GROUP BY 1),
       |vm AS (SELECT map(list(tok ORDER BY tok), list(cnt ORDER BY tok))
       |         AS vm
       |       FROM (SELECT tok, cnt FROM uc
       |             ORDER BY cnt DESC, tok ASC LIMIT $LmVocabSize)),
       |bgx AS (
       |  SELECT doc_id, toks[g.i] || ' ' || toks[g.i + 1] AS bg
       |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
       |bc AS (SELECT bg, count(*) AS cnt FROM bgx GROUP BY 1),
       |bm AS (SELECT map(list(bg ORDER BY bg), list(cnt ORDER BY bg))
       |         AS bm
       |       FROM (SELECT bg, cnt FROM bc
       |             ORDER BY cnt DESC, bg ASC LIMIT $LmVocabSize)),
       |n AS (SELECT count(*) AS n_total FROM u),
       |db AS (
       |  SELECT doc_id, lang, toks[g.i] AS p, toks[g.i + 1] AS c
       |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
       |sb AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN list_extract(map_extract(bm, p || ' ' || c), 1)
       |              IS NOT NULL
       |          AND list_extract(map_extract(vm, p), 1) IS NOT NULL
       |      THEN -log2(CAST(list_extract(map_extract(bm, p || ' ' || c), 1)
       |                      AS DOUBLE)
       |                 / list_extract(map_extract(vm, p), 1))
       |      ELSE -log2(0.4 * coalesce(
       |             CAST(list_extract(map_extract(vm, c), 1) AS DOUBLE), 0.5)
       |             / n_total) END AS bits
       |  FROM db, vm, bm, n),
       |d AS (
       |  SELECT t.doc_id, t.lang, greatest(len(toks) - 1, 0) AS n_bg,
       |    coalesce(s.bits, 0) AS bits
       |  FROM t LEFT JOIN
       |    (SELECT doc_id, round(sum(bits), 4) AS bits
       |     FROM sb GROUP BY 1) s
       |    ON t.doc_id = s.doc_id)""".stripMargin

  val bigramLmSql: String =
    s"""WITH $duckBigramDocCtes
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
       |  round(sum(bits), 4) AS sum_bits,
       |  round(sum(bits) / sum(n_bg), 4) AS avg_bits_per_bigram
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q171 CCNet-style perplexity bucket filter
  // ---------------------------------------------------------------

  /** q171: the CCNet quality filter (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC'20) — score every document by language-model
    * bits-per-bigram, split each LANGUAGE at its perplexity terciles,
    * and keep head+middle: the published shape behind most public
    * web-crawl corpora (CCNet itself, RedPajama, FineWeb lineage),
    * where "low perplexity under an in-domain LM" is the quality
    * proxy and the per-language split stops the filter from simply
    * preferring whichever language the LM likes.
    *
    * Scale shape: per-doc scores come from the MEMOIZED
    * [[bigramDocBits]] frame (broadcast-hash LM lookups, q117's
    * plan); the tercile cut points are computed by the
    * DISTRIBUTED-exact quantile machinery
    * ([[Relational.exactQuantiles]] — ranked window + candidate-rank
    * filter, constant memory, the q28 discipline), broadcast back
    * (languages-sized), and bucketing is a scan-stage comparison.
    * Production CCNet computes cuts from a sample; the exact form
    * here is one extra spill-safe sorted pass and gives the oracle
    * bit-exact cut points. Docs with no bigram (n_bg = 0) carry no
    * LM evidence and are excluded from bucketing, like CCNet's
    * too-short paragraphs. Both bpt and the cuts round to 4 decimals
    * before comparison so the bucket boundary is cross-engine
    * deterministic. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = bigramDocBits(spark, dir)
      .filter(col("n_bg") >= 1)
      .withColumn("bpt", round(col("bits") / col("n_bg"), 4))
    val cuts = Relational.exactQuantiles(scored, "lang", "bpt",
      Seq(1.0 / 3 -> "c33", 2.0 / 3 -> "c66"))
      .select(col("lang"), round(col("c33"), 4).as("c33"),
        round(col("c66"), 4).as("c66"))
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(col("bpt") <= col("c33"), "head")
          .when(col("bpt") <= col("c66"), "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bg")).as("n_bigrams"),
        round(sum(col("bits")), 4).as("sum_bits"))
      .withColumn("kept", col("bucket") =!= "tail")
      .orderBy("lang", "bucket")
  }

  val ccnetBucketsSql: String =
    s"""WITH $duckBigramDocCtes,
       |scored AS (
       |  SELECT doc_id, lang, n_bg, bits,
       |    round(bits / n_bg, 4) AS bpt
       |  FROM d WHERE n_bg >= 1),
       |cuts AS (
       |  SELECT lang, round(quantile_cont(bpt, 1.0/3), 4) AS c33,
       |    round(quantile_cont(bpt, 2.0/3), 4) AS c66
       |  FROM scored GROUP BY 1),
       |b AS (
       |  SELECT s.lang,
       |    CASE WHEN bpt <= c33 THEN 'head'
       |         WHEN bpt <= c66 THEN 'middle'
       |         ELSE 'tail' END AS bucket,
       |    n_bg, bits
       |  FROM scored s JOIN cuts ON s.lang = cuts.lang)
       |SELECT lang, bucket, count(*) AS n_docs,
       |  CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
       |  round(sum(bits), 4) AS sum_bits,
       |  bucket != 'tail' AS kept
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q112 TF-IDF top terms per language
  // ---------------------------------------------------------------

  private val TfidfK = 3

  /** q112: TF-IDF keyword extraction — the classic relevance weighting
    * every corpus-exploration / topic-labeling pass runs: per-document
    * term frequency × smoothed inverse document frequency, then the
    * [[TfidfK]] highest-scoring terms per language.
    *
    * Scale shape: tf is one (doc, word)-keyed aggregate; the document
    * frequency table derives from tf by a second aggregate and joins
    * back as an UNHINTED equi-join on `w` — at 100 TB the vocabulary's
    * long tail is billions of rows, so hard-pinning a broadcast here
    * would die exactly when the corpus gets interesting; left to
    * Catalyst, it broadcasts only while stats say the vocab fits
    * (true at test SF) and degrades to a shuffle join at scale. The
    * plan scans documents twice (tf branch, df branch — column
    * pruning gives the branches different aggregates, so no exchange
    * reuse): two narrow columnar passes are the deliberate trade
    * against persisting a corpus-sized tf table between them. The
    * final per-language ranking is the bounded-heap
    * [[graft.functions.TopTermsAgg]] — map-side partial aggregation,
    * no per-group window sort (the q106 discipline). Scores are
    * rounded to 4dp per (doc, word) BEFORE summing (the q87
    * convention) so cross-engine ln/sum drift cannot move a rank. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    // NOT spread (measured negative, r16): the tokenize explode runs
    // single-task on the one-row-group scan (2x ~360ms branches at
    // sf0.1), but a Tables.spread here is paid TWICE — the tf and df
    // branches prune the scan differently, so neither the spread
    // exchange nor the tokenize is shared — and the text-payload
    // double exchange measured 0.96s -> ~1.2s warm. The per-row work
    // is too light to buy back two exchanges of its input bytes.
    val words = docs.select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val tf = words.groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_total"))
    tf.join(dfTab, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") *
        log((lit(1.0) + col("n_total")) / (lit(1.0) + col("df"))), 4))
      .groupBy(col("lang"), col("w"))
      .agg(round(sum(col("score")), 4).as("score_sum"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopK.topTerms(TfidfK)(
        col("score_sum"), col("w")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.term").as("term"), col("col.score").as("score"))
      .orderBy("lang", "rnk")
  }

  val tfidfSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, lang, tok AS w
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |        FROM documents)
       |  WHERE tok <> ''),
       |tf AS (SELECT doc_id, lang, w, count(*) AS tf
       |       FROM words GROUP BY 1, 2, 3),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM documents),
       |scored AS (
       |  SELECT lang, tf.w,
       |    round(tf * ln((1.0 + n_total) / (1.0 + df)), 4) AS score
       |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
       |agg AS (SELECT lang, w, round(sum(score), 4) AS score_sum
       |        FROM scored GROUP BY 1, 2),
       |r AS (SELECT lang, w, score_sum,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY score_sum DESC, w ASC) AS rnk
       |      FROM agg)
       |SELECT lang, rnk, w AS term, score_sum AS score
       |FROM r WHERE rnk <= $TfidfK ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q137 vocabulary growth (Heaps' law) + incremental OOV
  // ---------------------------------------------------------------

  /** q137: vocabulary-growth curve and incremental OOV rate — the
    * measurement behind every tokenizer-sizing decision: as the
    * corpus grows, how fast does the type vocabulary grow (Heaps'
    * law V ~ k·N^beta), and what fraction of each new slice's TOKEN
    * instances are types never seen before? The corpus is split into
    * 10 deterministic hash-epochs of doc_ids (a reproducible random
    * arrival order — the same trick as the q73 split); epoch b's
    * "seen" set is epochs 0..b-1. A type's first epoch is just
    * min(epoch) over its occurrences, so the whole curve needs NO
    * iterative pass: one (token, epoch) count, one min per type, a
    * 10-row prefix sum.
    *
    * Scale shape: the corpus-sized work is the single explode +
    * (token, epoch) groupBy; the type table is vocabulary-sized; the
    * growth curve itself is 10 rows. The running-total window runs on
    * those 10 rows, never on data. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("epoch",
        (expr(Exprs.hash60("cast(doc_id as string)")) % 10).cast("int"))
    val nd = docs.groupBy(col("epoch")).agg(count(lit(1)).as("n_docs"))
    val tb = docs
      .select(col("epoch"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("tok"), col("epoch"))
      .agg(count(lit(1)).as("c"))
    val fb = tb.groupBy(col("tok")).agg(min(col("epoch")).as("fe"))
    val per = tb.join(fb, "tok")
      .groupBy(col("epoch"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("fe") === col("epoch"), col("c")).otherwise(0L))
          .as("oov_tokens"),
        sum(when(col("fe") === col("epoch"), 1L).otherwise(0L))
          .as("new_types"))
    val w = Window.orderBy("epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nd.join(per, "epoch")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("oov_rate", round(
        col("oov_tokens").cast("double") / col("n_tokens"), 6))
      .select(col("epoch"), col("n_docs"), col("n_tokens"),
        col("cum_tokens"), col("new_types"), col("cum_types"),
        col("oov_tokens"), col("oov_rate"))
      .orderBy("epoch")
  }

  val vocabGrowthSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 10 AS INTEGER) AS epoch
      |  FROM documents),
      |nd AS (SELECT epoch, count(*) AS n_docs FROM d GROUP BY 1),
      |tb AS (
      |  SELECT tok, epoch, count(*) AS c
      |  FROM (SELECT epoch,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM d)
      |  GROUP BY 1, 2),
      |fb AS (SELECT tok, min(epoch) AS fe FROM tb GROUP BY 1),
      |per AS (
      |  SELECT epoch,
      |    CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN fe = epoch THEN c ELSE 0 END) AS BIGINT)
      |      AS oov_tokens,
      |    CAST(sum(CASE WHEN fe = epoch THEN 1 ELSE 0 END) AS BIGINT)
      |      AS new_types
      |  FROM tb JOIN fb USING (tok) GROUP BY 1)
      |SELECT nd.epoch, nd.n_docs, per.n_tokens,
      |  CAST(sum(per.n_tokens) OVER (ORDER BY nd.epoch
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
      |  per.new_types,
      |  CAST(sum(per.new_types) OVER (ORDER BY nd.epoch
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
      |  per.oov_tokens,
      |  round(CAST(per.oov_tokens AS DOUBLE) / per.n_tokens, 6) AS oov_rate
      |FROM nd JOIN per USING (epoch)
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q146 Zipf frequency spectrum + octave-slope fit
  // ---------------------------------------------------------------

  /** q146: token frequency spectrum with a Zipf-exponent estimate —
    * how many types occur ~2^b times, and how fast that count decays
    * per frequency doubling. The spectrum is THE corpus statistic
    * behind vocabulary sizing and min-frequency cutoffs (how many
    * types does `min_count = 4` drop? read bucket 1–2). The decay
    * slope is fit with the q144 integer least-squares over octave
    * coordinates (x = bit-length of frequency, y = bit-length of the
    * type count) — integer bit lengths, never float log2, so both
    * engines fit the identical points; a true Zipf corpus gives a
    * slope near -1 (octave binning is coarse by design and documented
    * as such).
    *
    * Scale shape: one explode + (token) groupBy for the frequency
    * table (vocabulary-sized), one groupBy over THAT for the
    * spectrum (≤ 64 rows), and the fit is a 1-row aggregate of the
    * spectrum cross-joined back. The corpus is touched once; no
    * rank window over the vocabulary at all. */
  def zipfSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val freqs = documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val spec = freqs
      .groupBy(length(bin(col("f"))).cast("long").as("fb"))
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("sum_tokens"))
    val fit = spec
      .select(col("fb").as("x"),
        length(bin(col("n_types"))).cast("long").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6))
          .as("octave_slope"))
    spec.crossJoin(broadcast(fit)).orderBy("fb")
  }

  val zipfSpectrumSql: String =
    """WITH f AS (
      |  SELECT tok, count(*) AS f
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |          AS tok
      |        FROM documents)
      |  GROUP BY 1),
      |spec AS (
      |  SELECT CAST(length(bin(f)) AS BIGINT) AS fb,
      |    count(*) AS n_types, CAST(sum(f) AS BIGINT) AS sum_tokens
      |  FROM f GROUP BY 1),
      |pts AS (
      |  SELECT fb AS x, CAST(length(bin(n_types)) AS BIGINT) AS y
      |  FROM spec),
      |fit AS (
      |  SELECT CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) = 0
      |    THEN NULL
      |    ELSE round(
      |      CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
      |        (count(*) * sum(x * x) - sum(x) * sum(x)), 6)
      |    END AS octave_slope
      |  FROM pts)
      |SELECT spec.fb, spec.n_types, spec.sum_tokens, fit.octave_slope
      |FROM spec, fit ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q175 Naive Bayes language classifier (train / apply / confusion)
  // ---------------------------------------------------------------

  /** q175: a multinomial Naive Bayes language classifier trained and
    * applied entirely as DataFrame ops — the supervised-classification
    * family (fasttext-style cheap doc classifiers: language, quality,
    * domain) the curation stack routes documents with. Train on the
    * q73 hash-split train buckets (md5(doc_id) % 10 < 8), score the
    * held-out buckets, emit the confusion matrix — the measured
    * generalization, not resubstitution accuracy.
    *
    * Model: per-language token log2-probabilities with Laplace
    * smoothing, lp = log2((c+1)/(n_lang+V)) over the TRAIN vocabulary
    * V; OOV backs off to log2(1/(n_lang+V)); priors log2(docs_l/docs).
    * Every model value is rounded to 6dp at TRAINING time, so scoring
    * sums identical doubles on both engines; per-(doc, lang) scores
    * round to 4dp before the argmax and ties break toward the
    * lexicographically LARGER language (array_max on (score, lang)
    * structs — the oracle's row_number mirrors both keys).
    *
    * Scale shape: the model is ONE explode + (lang, tok) groupBy
    * (vocabulary-bounded), pivoted to a tok-keyed row with one lp
    * column per language and BROADCAST — scoring is exploded eval
    * tokens through a broadcast hash join (O(1) codegen'd lookups;
    * the q117 measurement showed map `element_at` pays a LINEAR
    * MapData scan per token), then a (doc, lang)-keyed sum with
    * map-side partials. The only driver collects are the language
    * inventory and its per-class scalars (priors/OOV) — bounded by
    * the number of LANGUAGES, not the corpus (the q163/BPE bounded-
    * collect discipline). */
  def nbLangClassifier(spark: SparkSession, dir: String): DataFrame = {
    // (spread measured NEGATIVE here, r16: five consumers each pay
    // the exchange, which costs more than the parallelism buys at
    // this pass count — unlike the single-consumer q85/q166 shapes)
    val d = documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("b",
        expr(s"${Exprs.hash60("cast(doc_id as string)")} % 10"))
    val train = d.filter(col("b") < 8)
    val ev = d.filter(col("b") >= 8)
    val tt = train.select(col("lang"), explode(col("toks")).as("tok"))
    // languages-sized and 1-row frames, each consumed twice (the
    // model join and the scalar collects) — materialize so the
    // train-side explode+aggregate doesn't re-run per consumer
    // (guide §1.2)
    val nTok = tt.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val vDf = tt.agg(countDistinct(col("tok")).as("v"))
      .localCheckpoint(false)
    val model = tt.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(nTok), "lang").crossJoin(broadcast(vDf))
      .withColumn("lp",
        round(log2((col("c") + lit(1.0)) / (col("n") + col("v"))), 6))
    // bounded collects: one row per LANGUAGE (oov/prior scalars)
    val oov = nTok.crossJoin(vDf)
      .withColumn("lp", round(log2(lit(1.0) / (col("n") + col("v"))), 6))
      .select(col("lang"), col("lp")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pri = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("ntr"))))
      .withColumn("lp", round(log2(col("nd") / col("ntr")), 6))
      .select(col("lang"), col("lp")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val langs = oov.keys.toSeq.sorted
    val wide = model.groupBy(col("tok")).pivot("lang", langs)
      .agg(first(col("lp")))
    val et = ev.select(col("doc_id"), col("lang"),
      explode(col("toks")).as("tok"))
    val sumCols = langs.map(l =>
      sum(coalesce(col(s"`$l`"), lit(oov(l)))).as(s"s_$l"))
    val sums = et.join(broadcast(wide), Seq("tok"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sumCols.head, sumCols.tail: _*)
    val cands = array(langs.map(l =>
      struct(round(col(s"s_$l") + lit(pri(l)), 4).as("s"),
        lit(l).as("lang"))): _*)
    sums.withColumn("cands", cands)
      .withColumn("pred", expr("array_max(cands).lang"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"bit_xor(${Exprs.hash60("cast(doc_id as string)")})")
          .as("id_digest"))
      .orderBy("lang", "pred")
  }

  val nbLangClassifierSql: String = {
    def h(c: String) =
      s"('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT"
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
       |    ${h("doc_id")} % 10 AS b
       |  FROM documents),
       |tr AS (SELECT * FROM d WHERE b < 8),
       |ev AS (SELECT * FROM d WHERE b >= 8),
       |tt AS (SELECT lang, unnest(toks) AS tok FROM tr),
       |vs AS (SELECT count(DISTINCT tok) AS v FROM tt),
       |nt AS (SELECT lang, count(*) AS n FROM tt GROUP BY 1),
       |m AS (
       |  SELECT ct.lang, ct.tok, round(log2((c + 1.0) / (n + v)), 6) AS lp
       |  FROM (SELECT lang, tok, count(*) AS c FROM tt GROUP BY 1, 2) ct
       |  JOIN nt ON ct.lang = nt.lang, vs),
       |oov AS (SELECT lang, round(log2(1.0 / (n + v)), 6) AS lp
       |        FROM nt, vs),
       |pri AS (SELECT lang,
       |          round(log2(count(*) / (SELECT count(*) FROM tr)), 6) AS lp
       |        FROM tr GROUP BY 1),
       |et AS (SELECT doc_id, ev.lang AS true_lang, unnest(toks) AS tok
       |       FROM ev),
       |sc AS (
       |  SELECT et.doc_id, et.true_lang, L.lang AS cand,
       |    sum(coalesce(m.lp, o.lp)) AS s0
       |  FROM et
       |  CROSS JOIN (SELECT DISTINCT lang FROM tr) L
       |  LEFT JOIN m ON m.lang = L.lang AND m.tok = et.tok
       |  JOIN oov o ON o.lang = L.lang
       |  GROUP BY 1, 2, 3),
       |sc2 AS (
       |  SELECT sc.doc_id, sc.true_lang, sc.cand,
       |    round(s0 + pri.lp, 4) AS s
       |  FROM sc JOIN pri ON pri.lang = sc.cand),
       |pk AS (
       |  SELECT doc_id, true_lang, cand AS pred,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY s DESC, cand DESC) AS rn
       |  FROM sc2)
       |SELECT true_lang AS lang, pred, count(*) AS n_docs,
       |  bit_xor(${h("doc_id")}) AS id_digest
       |FROM pk WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------
  // q185 pseudo-relevance-feedback dense rerank (sparse -> dense)
  // ---------------------------------------------------------------

  /** q185: PRF dense rerank — the two-stage retrieval bridge between
    * the sparse and dense families: BM25 (q129) retrieves the
    * candidates, the best-ranked candidate that HAS an embedding
    * becomes the pseudo-relevance feedback vector (classic PRF — the
    * query has no embedding of its own, so the top hit stands in),
    * and the remaining embeddable candidates re-rank by cosine to
    * it. The output carries both ranks side by side, so sparse/dense
    * disagreement — the signal that decides whether a dense second
    * stage is worth serving — is an oracled table.
    *
    * Scale shape: everything downstream of BM25 operates on the
    * ≤ top-5-per-query candidate table: one id-keyed join to attach
    * embeddings, a per-query min + broadcast of the feedback
    * vectors (queries-sized), and a rank window over ≤ 4 rows per
    * query. The corpus is touched only by BM25 itself. */
  def prfRerank(spark: SparkSession, dir: String): DataFrame = {
    val cands = bm25(spark, dir)
      .select(col("qid"), col("rnk").as("bm25_rnk"), col("doc_id"))
    val e = embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("sqrt(array_dot(v, v))"))
      .select(col("vec_id").as("doc_id"), col("v"), col("nrm"))
    // lazily checkpointed: three branches (the feedback-rank agg, the
    // feedback-vector join, the rerank itself) reference this frame,
    // and each re-derived the ENTIRE BM25 candidate build without it
    // (9 same-table scans in the executed plan, the worst in the
    // registry's r10 audit); the frame is ≤ 5 rows per query, so the
    // materialization is free
    val withV = cands.join(e, Seq("doc_id")).localCheckpoint(false)
    val fb = withV.groupBy(col("qid")).agg(min(col("bm25_rnk")).as("fb_rnk"))
    val fbVec = withV.join(fb, Seq("qid"))
      .filter(col("bm25_rnk") === col("fb_rnk"))
      .select(col("qid"), col("doc_id").as("fb_doc"),
        col("v").as("fv"), col("nrm").as("fn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    withV.join(broadcast(fbVec), Seq("qid"))
      .filter(col("doc_id") =!= col("fb_doc"))
      .withColumn("cos", round(
        expr("array_dot(fv, v)") / (col("fn") * col("nrm")), 4))
      .withColumn("dense_rnk", row_number().over(w))
      .select(col("qid"), col("dense_rnk"), col("doc_id"),
        col("bm25_rnk"), col("cos"))
      .orderBy("qid", "dense_rnk")
  }

  lazy val prfRerankSql: String =
    s"""WITH bm AS (
       |  SELECT qid, rnk AS bm25_rnk, doc_id FROM ($bm25Sql)),
       |e AS (SELECT vec_id AS doc_id, v, nrm
       |      FROM (${Similarity.duckVecs})),
       |wv AS (SELECT bm.qid, bm.bm25_rnk, bm.doc_id, e.v, e.nrm
       |       FROM bm JOIN e ON bm.doc_id = e.doc_id),
       |fb AS (SELECT qid, min(bm25_rnk) AS fb_rnk FROM wv GROUP BY 1),
       |fv AS (
       |  SELECT wv.qid, wv.doc_id AS fb_doc, wv.v AS fv, wv.nrm AS fn
       |  FROM wv JOIN fb ON wv.qid = fb.qid AND wv.bm25_rnk = fb.fb_rnk),
       |rr AS (
       |  SELECT wv.qid, wv.doc_id, wv.bm25_rnk,
       |    round(list_dot_product(fv.fv, wv.v) / (fv.fn * wv.nrm), 4)
       |      AS cos
       |  FROM wv JOIN fv ON wv.qid = fv.qid
       |  WHERE wv.doc_id != fv.fb_doc)
       |SELECT qid,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, doc_id ASC) AS dense_rnk,
       |  doc_id, bm25_rnk, cos
       |FROM rr ORDER BY qid, dense_rnk""".stripMargin

  // ---------------------------------------------------------------
  // q178 count-min sketch frequency estimation
  // ---------------------------------------------------------------

  private val CmsD = 4   // hash rows
  private val CmsW = 512 // columns per row

  /** q178: count-min sketch (Cormode & Muthukrishnan 2005) token
    * frequency estimation — the mergeable-sketch complement of q22's
    * HyperLogLog: HLL answers "how many distinct", CMS answers "how
    * often is THIS one", both in fixed memory. The sketch is a
    * [[CmsD]]×[[CmsW]] integer cell table; est(tok) = min over rows
    * of cell(r, h_r(tok)). The output checks the estimate against
    * exact counts for the deterministic top-20 probe set (q67's
    * count-desc/token-asc order) and emits the two CMS guarantees as
    * columns: `overcount` (est − exact, provably ≥ 0) and `bound_ok`
    * (overcount·w ≤ 3·N — the εN bound with e rounded up to the
    * integer 3, so the check is integer-exact on both engines).
    *
    * Scale shape: cell counts are SUMS, so the sketch is mergeable
    * across partitions, batches, and days — the map-side partial
    * aggregation IS the sketch merge, and the shuffle carries ≤ d×w
    * rows per task. Built here from the vocab-bounded count table
    * (one explode + groupBy — cheaper than hashing every occurrence
    * 4×, identical cells); estimation joins the 20-row probe set
    * against the BROADCAST ≤2048-row sketch. The md5-based h_r
    * mirrors in the oracle value-for-value. */
  private val cmsRcExpr = expr(
    s"""transform(sequence(0, ${CmsD - 1}), r -> named_struct(
       |  'r', r,
       |  'c', ${Exprs.hash60(
             "concat('cms', cast(r as string), ':', tok)")} % $CmsW))"""
      .stripMargin)

  /** The d×w cell table from a (tok, cnt) count table — factored out
    * so the merge law (sketch(A) + sketch(B) = sketch(A ∪ B), cell-
    * wise sum) is SPEC-ASSERTED, not just claimed. */
  private[queries] def cmsCellsFromCounts(cnts: DataFrame): DataFrame =
    cnts.select(col("cnt"), explode(cmsRcExpr).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(sum(col("cnt")).as("cell"))

  def cmsSketch(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val cnts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val nTot = toks.agg(count(lit(1)).as("n_total"))
    val cells = cmsCellsFromCounts(cnts)
    val probes = cnts.orderBy(col("cnt").desc, col("tok").asc).limit(20)
    probes.select(col("tok"), col("cnt"), explode(cmsRcExpr).as("rc"))
      .select(col("tok"), col("cnt"),
        col("rc.r").as("pr"), col("rc.c").as("pc"))
      .join(broadcast(cells),
        col("pr") === col("r") && col("pc") === col("c"))
      .groupBy(col("tok"), col("cnt"))
      .agg(min(col("cell")).as("est"))
      .crossJoin(broadcast(nTot))
      .select(col("tok"), col("cnt").as("exact_cnt"),
        col("est").as("est_cnt"),
        (col("est") - col("cnt")).as("overcount"),
        ((col("est") - col("cnt")) * CmsW <= col("n_total") * 3)
          .as("bound_ok"))
      .orderBy("tok")
  }

  val cmsSketchSql: String = {
    def h(r: String, tok: String) =
      s"('0x' || substr(md5('cms' || CAST($r AS VARCHAR) || ':' || $tok)," +
        s" 1, 15))::BIGINT % $CmsW"
    s"""WITH u AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |cn AS (SELECT tok, count(*) AS cnt FROM u GROUP BY 1),
       |nt AS (SELECT count(*) AS n_total FROM u),
       |cells AS (
       |  SELECT t.r, ${h("t.r", "cn.tok")} AS c,
       |    CAST(sum(cnt) AS BIGINT) AS cell
       |  FROM cn CROSS JOIN range(0, $CmsD) t(r)
       |  GROUP BY 1, 2),
       |p AS (SELECT tok, cnt FROM cn
       |      ORDER BY cnt DESC, tok ASC LIMIT 20),
       |e AS (
       |  SELECT p.tok, p.cnt, min(cells.cell) AS est
       |  FROM p CROSS JOIN range(0, $CmsD) t(r)
       |  JOIN cells ON cells.r = t.r AND cells.c = ${h("t.r", "p.tok")}
       |  GROUP BY 1, 2)
       |SELECT tok, cnt AS exact_cnt, est AS est_cnt,
       |  est - cnt AS overcount,
       |  (est - cnt) * $CmsW <= n_total * 3 AS bound_ok
       |FROM e, nt ORDER BY tok""".stripMargin
  }

  // ---------------------------------------------------------------
  // q179 RAG chunking (overlapping retrieval windows, stable ids)
  // ---------------------------------------------------------------

  private val ChunkW = 16 // window tokens
  private val ChunkS = 12 // stride (overlap = 4)

  /** q179: retrieval-corpus chunking — the RAG preparation pass that
    * splits every document into overlapping token windows (size
    * [[ChunkW]], stride [[ChunkS]]) with STABLE chunk identities
    * (hash of doc_id:start — re-runs, repartitions, and corpus growth
    * never renumber an existing chunk, the q73 determinism contract
    * at chunk grain). Digested per language: chunk counts, the
    * overlap-waste ratio the stride choice costs (duplicate-token
    * fraction of the chunk corpus, integer ppm), and a chunk-id xor
    * fingerprint the downstream index build can be reconciled
    * against.
    *
    * Scale shape: there is NO explode — chunk count, chunk-token sum,
    * and the per-doc chunk-id fold are all closed-form integer
    * expressions of the token count (last chunk = the remainder;
    * every earlier chunk is full), so the whole operator is one scan
    * stage plus the per-lang rollup. A pipeline that needs the chunk
    * ROWS materializes the same arithmetic through posexplode; the
    * stats-and-fingerprint pass here never pays that fan-out. */
  def ragChunking(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n"))
      // L = index of the last chunk = ceil(max(n - W, 0) / S)
      .withColumn("l", expr(
        s"cast(ceil(greatest(n - $ChunkW, 0) / $ChunkS.0) as bigint)"))
      .withColumn("n_chunks", col("l") + 1)
      .withColumn("chunk_toks",
        col("l") * ChunkW + (col("n") - col("l") * ChunkS))
      .withColumn("doc_digest", expr(
        s"""aggregate(sequence(0L, l), 0L, (acc, i) -> acc ^
           |  ${Exprs.hash60(
                "concat(cast(doc_id as string), ':', cast(i * " +
                  s"$ChunkS as string))")})""".stripMargin))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("chunk_toks")).as("sum_chunk_toks"),
        sum(col("n")).as("sum_doc_toks"),
        expr("""(sum(chunk_toks - n) * 1000000)
                div sum(chunk_toks)""").as("overlap_ppm"),
        expr("bit_xor(doc_digest)").as("chunk_digest"))
      .orderBy("lang")
  }

  val ragChunkingSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n,
       |    CAST(ceil(greatest(n - $ChunkW, 0) / $ChunkS.0) AS BIGINT) AS l
       |  FROM d),
       |e AS (
       |  SELECT lang, n, l, l + 1 AS n_chunks,
       |    l * $ChunkW + (n - l * $ChunkS) AS chunk_toks,
       |    list_reduce(
       |      list_prepend(0::BIGINT, list_transform(range(0, l + 1),
       |        i -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |          CAST(i * $ChunkS AS VARCHAR)), 1, 15))::BIGINT)),
       |      (a, b) -> xor(a, b)) AS doc_digest
       |  FROM c)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       |  CAST(sum(chunk_toks) AS BIGINT) AS sum_chunk_toks,
       |  CAST(sum(n) AS BIGINT) AS sum_doc_toks,
       |  CAST((sum(chunk_toks - n) * 1000000) // sum(chunk_toks) AS BIGINT)
       |    AS overlap_ppm,
       |  bit_xor(doc_digest) AS chunk_digest
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q180 chunk-level dedup (RAG index dedup at chunk grain)
  // ---------------------------------------------------------------

  /** q180: chunk-grain exact dedup — the pass a retrieval index runs
    * AFTER q179's chunking: boilerplate that survives document-grain
    * dedup (shared headers, templates, repeated passages) becomes
    * verbatim-duplicate CHUNKS, and every duplicate chunk is wasted
    * index space plus a degenerate nearest-neighbor. Chunks hash by
    * their token content (not position), so the same passage in two
    * documents collapses; per language the digest reports chunk
    * volume, distinct volume, the dedup savings in integer ppm, and
    * a distinct-chunk-hash fingerprint the pruned index build
    * reconciles against.
    *
    * Scale shape: this is q179's documented materialization path —
    * posexplode fans each document into its chunk rows (the
    * unavoidable fan-out once chunk CONTENT is needed), the content
    * hash is computed in the same scan stage, and the only exchange
    * is the (lang, hash)-keyed distinct count — the standard dedup
    * shuffle, never all-pairs. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("l", expr(
        s"cast(ceil(greatest(n - $ChunkW, 0) / $ChunkS.0) as bigint)"))
      .select(col("lang"), posexplode(expr(
        s"""transform(sequence(0L, l), i ->
           |  ${Exprs.hash60(
                s"concat_ws(' ', slice(toks, cast(i * $ChunkS + 1 as int), " +
                  s"cast(least($ChunkW, n - i * $ChunkS) as int)))")})"""
          .stripMargin)).as(Seq("pos", "chash")))
      .groupBy(col("lang"), col("chash"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        expr("""((sum(cnt) - count(1)) * 1000000)
                div sum(cnt)""").as("dup_ppm"),
        expr("bit_xor(chash)").as("distinct_digest"))
      .orderBy("lang")
  }

  val chunkDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT lang, toks, len(toks) AS n,
       |    CAST(ceil(greatest(len(toks) - $ChunkW, 0) / $ChunkS.0)
       |      AS BIGINT) AS l
       |  FROM d),
       |ch AS (
       |  SELECT lang,
       |    ('0x' || substr(md5(array_to_string(
       |      list_slice(toks, i * $ChunkS + 1,
       |        least(i * $ChunkS + $ChunkW, n)), ' ')), 1, 15))::BIGINT
       |      AS chash
       |  FROM c, unnest(range(0, l + 1)) t(i)),
       |g AS (SELECT lang, chash, count(*) AS cnt FROM ch GROUP BY 1, 2)
       |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_chunks,
       |  count(*) AS n_distinct,
       |  CAST(((sum(cnt) - count(*)) * 1000000) // sum(cnt) AS BIGINT)
       |    AS dup_ppm,
       |  bit_xor(chash) AS distinct_digest
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Map[String, Query] = Map(
    "q50_token_stats" -> Query(tokenStats, tokenStatsSql),
    "q51_quality_score" -> Query(qualityScore, qualityScoreSql),
    "q52_lang_id" -> Query(langId, langIdSql),
    "q167_mixed_lang" -> Query(mixedLang, mixedLangSql),
    "q53_fingerprint" -> Query(fingerprint, fingerprintSql),
    "q54_token_bpe" -> Query(tokenBpe, tokenBpeSql),
    "q172_token_fertility" -> Query(tokenFertility, tokenFertilitySql),
    "q59_rolling_hash" -> Query(rollingHash, rollingHashSql),
    "q67_word_count" -> Query(wordCount, wordCountSql),
    "q73_hash_split" -> Query(hashSplit, hashSplitSql),
    "q85_repetition_stats" -> Query(repetitionStats, repetitionStatsSql),
    "q86_pii_redact" -> Query(piiRedact, piiRedactSql),
    "q87_unigram_lm" -> Query(unigramLm, unigramLmSql),
    "q166_dsir_resample" -> Query(dsirResample, dsirResampleSql),
    "q99_bpe_train" -> Query(bpeTrain, bpeTrainSql),
    "q100_bpe_apply" -> Query(bpeApply, bpeApplySql),
    "q107_quality_gate" -> Query(qualityGate, qualityGateSql),
    "q111_bpe_eval" -> Query(bpeEval, bpeEvalSql),
    "q112_tfidf" -> Query(tfidf, tfidfSql),
    "q117_bigram_lm" -> Query(bigramLm, bigramLmSql),
    "q171_ccnet_buckets" -> Query(ccnetBuckets, ccnetBucketsSql),
    "q127_inverted_index" -> Query(invertedIndex, invertedIndexSql),
    "q194_incremental_postings" ->
      Query(incrementalPostings, incrementalPostingsSql),
    "q201_postings_retraction" ->
      Query(postingsRetraction, postingsRetractionSql),
    "q128_postings_search" -> Query(postingsSearch, postingsSearchSql),
    "q129_bm25" -> Query(bm25, bm25Sql),
    // the full-rebuild SQL verbatim IS the q199 oracle: hash match ==
    // the incremental-merge-equals-rebuild proof
    "q199_incremental_bm25" -> Query(incrementalBm25, bm25Sql),
    "q137_vocab_growth" -> Query(vocabGrowth, vocabGrowthSql),
    "q146_zipf_spectrum" -> Query(zipfSpectrum, zipfSpectrumSql),
    "q175_nb_lang_classifier" -> Query(nbLangClassifier, nbLangClassifierSql),
    "q178_cms_sketch" -> Query(cmsSketch, cmsSketchSql),
    "q179_rag_chunking" -> Query(ragChunking, ragChunkingSql),
    "q185_prf_rerank" -> Query(prfRerank, prfRerankSql),
    "q180_chunk_dedup" -> Query(chunkDedup, chunkDedupSql)
  )
}

package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline surface, over the
  * `documents` table. All column expressions are codegen-friendly built-ins
  * (no UDFs) and mirror the DuckDB oracle expression-for-expression.
  */
object TextFunctions {

  /** Normalized text: lowercase, collapse whitespace, trim. */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  private val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with")

  /** Token counting: whitespace tokens + BPE-ish regex tokens + chars.
    *
    * loadSerial, not load: this is a single narrow projection straight
    * into the final sort — a spread shuffle in front of it costs more
    * than the regex work it parallelizes (measured 0.40 vs 0.57 s at
    * sf0.1; see the policy note on [[Tables.spread]]). */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSerial(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpeishPattern), lit(0))).cast("long").as("bpe_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: length, punctuation/digit/stopword ratios, and a
    * deterministic combined score. Ratios are double divisions of exact
    * longs (identical operands on both engines). */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val words = split(lower(trim(col("text"))), "\\s+")
    val nWords = size(words).cast("double")
    val nChars = length(col("text")).cast("double")
    val nPunct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    val nDigit = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("double")
    val nStop = size(filter(words, w => w.isInCollection(stopwords))).cast("double")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_actual"),
      size(words).cast("long").as("n_words"),
      (nPunct / nChars).as("punct_ratio"),
      (nDigit / nChars).as("digit_ratio"),
      (nStop / nWords).as("stopword_ratio"),
      qualityScoreCol.as("quality_score"))
      .orderBy("doc_id")
  }

  private val langLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "a"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une"))

  /** n-gram/stopword-heuristic language ID: lexicon-hit argmax with a fixed
    * preference order (en > es > de > fr) for ties. */
  /** Unsorted per-doc language scores + prediction — shared by the
    * per-doc [[langId]] listing and the [[langConfusion]] rollup (which
    * must not inherit a corpus-wide doc_id sort it would only discard). */
  private def langScored(docs: DataFrame): DataFrame = {
    val words = split(lower(trim(col("text"))), "\\s+")
    val hits = langLexicons.map { case (lang, lex) =>
      lang -> size(filter(words, w => w.isInCollection(lex)))
    }
    val Seq(en, es, de, fr) = hits.map(_._2)
    val pred = when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
    docs.select(
      col("doc_id"),
      en.cast("long").as("en_hits"), es.cast("long").as("es_hits"),
      de.cast("long").as("de_hits"), fr.cast("long").as("fr_hits"),
      pred.as("pred_lang"),
      col("lang").as("labeled_lang"),
      (pred === col("lang")).as("agrees"))
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    langScored(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  /** Language-ID confusion matrix — the QA rollup of [[langId]]: per
    * (labeled, predicted) cell, document count and the cell's share of
    * its labeled-language row. The off-diagonal hot spots say WHICH
    * languages the n-gram heuristic confuses (and therefore which
    * corpus slices need a stronger model before the lang-conditioned
    * mix math can be trusted); the diagonal share is per-language
    * recall.
    *
    * Scale shape: one scan → a ≤|langs|² cell aggregation; the row
    * totals join over ≤|langs|² rows. The share is one division of
    * exact counts. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = langScored(Tables.load(spark, dir, "documents"))
      .groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy("labeled_lang").agg(sum(col("n_docs")).as("label_total"))
    cells.join(totals, "labeled_lang")
      .select(col("labeled_lang"), col("pred_lang"), col("n_docs"), col("label_total"),
        (col("n_docs").cast("double") / col("label_total").cast("double")).as("cell_share"))
      .orderBy("labeled_lang", "pred_lang")
  }

  val langConfusionSql: String =
    """WITH f AS (
      |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS words FROM documents),
      |h AS (
      |  SELECT lang,
      |         CAST(len(list_filter(words, w -> w IN ('the','and','of','to','is','in','a'))) AS BIGINT) AS en_hits,
      |         CAST(len(list_filter(words, w -> w IN ('el','la','de','y','es','en','un'))) AS BIGINT) AS es_hits,
      |         CAST(len(list_filter(words, w -> w IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS de_hits,
      |         CAST(len(list_filter(words, w -> w IN ('le','la','de','et','est','un','une'))) AS BIGINT) AS fr_hits
      |  FROM f),
      |p AS (
      |  SELECT lang AS labeled_lang,
      |         CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
      |              WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
      |              WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS pred_lang
      |  FROM h),
      |cells AS (
      |  SELECT labeled_lang, pred_lang, count(*) AS n_docs FROM p GROUP BY 1, 2),
      |totals AS (
      |  SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS label_total FROM cells GROUP BY 1)
      |SELECT c.labeled_lang, c.pred_lang, c.n_docs, t.label_total,
      |       CAST(c.n_docs AS DOUBLE) / CAST(t.label_total AS DOUBLE) AS cell_share
      |FROM cells c JOIN totals t USING (labeled_lang)
      |ORDER BY c.labeled_lang, c.pred_lang""".stripMargin

  /** Document fingerprinting: full-text md5 + a rolling min-hash over
    * 16-char windows (stride 1) of the normalized text. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // Materialize the normalized text: inside a transform lambda an
    // unmaterialized expression would be re-evaluated per element (O(n²)
    // regex work per document).
    docs.withColumn("t", normText(col("text")))
      .select(
        col("doc_id"),
        md5(col("t")).as("full_md5"),
        array_min(transform(sequence(lit(1), greatest(length(col("t")) - 15, lit(1))),
          i => md5(col("t").substr(i, lit(16))))).as("min_window_md5"))
      .orderBy("doc_id")
  }

  /** Per-source corpus statistics — the slice a pipeline uses to decide
    * which sources to keep or down-weight. */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("n"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("w"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n")).as("total_chars"),
        sum(col("w")).as("total_words"))
      .withColumn("avg_chars", col("total_chars").cast("double") / col("n_docs"))
      .orderBy("source")

  /** End-to-end corpus filter: the composed keep/drop decision a training
    * pipeline applies — length bounds, quality floor, stopword-signal
    * floor, and exact-dup removal (keep the lowest doc_id per digest).
    * Output: per-source survivor counts plus drop-reason tallies. */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val words = split(lower(trim(col("text"))), "\\s+")
    val nWords = size(words).cast("double")
    val nChars = length(col("text")).cast("double")
    val nStop = size(filter(words, w => w.isInCollection(stopwords))).cast("double")
    val scored = docs.select(
      col("doc_id"), col("source"),
      nChars.as("n_chars_d"),
      (nStop / nWords).as("stop_ratio"),
      md5(normText(col("text"))).as("sig"))
    // min-over-sig window, not groupBy+self-join: the scored subtree
    // (scan + stopword filter + md5) used to plan twice; one exchange by
    // sig marks every doc against its canonical copy (bounded partitions:
    // a sig group is one duplicate class)
    scored
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("sig")))
      .select(col("source"),
        when(col("n_chars_d") < 50.0, "too_short")
          .when(col("n_chars_d") > 100000.0, "too_long")
          .when(col("stop_ratio") < 0.01, "low_signal")
          .when(col("doc_id") =!= col("keep_id"), "duplicate")
          .otherwise("keep").as("decision"))
      .groupBy("source", "decision")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "decision")
  }

  /** Deterministic train/val/test split: assignment is a pure function of
    * the content digest (stable under re-runs, shuffles, and resharding —
    * exactly what a reproducible training pipeline needs). 90/5/5 by
    * digest bucket. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  val trainSplitSql: String =
    """WITH b AS (
      |  SELECT doc_id, source,
      |         CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |SELECT source,
      |       CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
      |       count(*) AS n_docs
      |FROM b GROUP BY source, split ORDER BY source, split""".stripMargin

  /** Per-doc quality score only — the ranking key [[qualityBins]] bins on.
    * Same formula as [[quality]]'s quality_score column. */
  /** The one quality-score formula — every consumer (deciles, curriculum,
    * corpus filter, domain mix, keep-best) must build from THIS column so
    * a formula change can never desynchronize them. */
  private[graft] def qualityScoreCol: Column = {
    val words = split(lower(trim(col("text"))), "\\s+")
    val nWords = size(words).cast("double")
    val nChars = length(col("text")).cast("double")
    val nPunct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    val nStop = size(filter(words, w => w.isInCollection(stopwords))).cast("double")
    (nStop / nWords) * lit(2.0) - (nPunct / nChars) * lit(0.5) +
      when(nWords >= 10.0, lit(1.0)).otherwise(lit(0.0))
  }

  private[graft] def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), qualityScoreCol.as("quality_score"))

  /** Quality-score decile binning (exact ntile semantics) — the histogram
    * a pipeline uses to pick filter thresholds.
    *
    * Scale shape: a naive `ntile(10) OVER (ORDER BY ...)` funnels the whole
    * corpus through one task. Instead each row gets a deterministic range
    * bucket (a pure function of the sort key), each bucket ranks locally
    * (partitioned window), and the global rank is local rank + the prefix
    * sum of bucket counts — the prefix sum runs over ≤ |buckets|
    * pre-aggregated rows. Deciles reproduce SQL ntile bit-for-bit: the
    * first n%10 buckets get one extra row. */
  def qualityBins(spark: SparkSession, dir: String): DataFrame =
    qualityBinsOf(qualityScore(Tables.load(spark, dir, "documents")))

  /** Per-doc decile assignment (doc_id, quality_score, decile) — the
    * distributed exact-ntile core shared by [[qualityBins]] and
    * [[curriculum]]: range-partition on the sort key, rank locally, add
    * the prefix-sum of partition counts (a window over ≤ |partitions|
    * pre-aggregated rows, never the corpus). */
  private[graft] def qualityDecilesOf(scored: DataFrame): DataFrame = {
    // deterministic range bucketing — a PURE per-row function of the sort
    // key — instead of repartitionByRange: sampled range boundaries live
    // inside the exchange, so the count branch and the ranking branch
    // would only agree if the optimizer reuses one exchange for both
    // (spark.sql.exchange.reuse — an optional rewrite correctness must
    // not hinge on). A pure bucket function cannot disagree between
    // branches under any optimizer configuration. Scores live in
    // [−0.5, 3.05] (2·stop − 0.5·punct + length bonus), so ×16 yields
    // ≈57 buckets; a degenerate corpus (all-equal scores) collapses to
    // fewer active buckets — the same failure class as a range
    // partitioner fed constant keys.
    // NaN scores (empty text → 0/0 ratio) must land in the TOP bucket:
    // both engines' ORDER BY and SQL ntile sort NaN greatest, and
    // floor(NaN) would otherwise silently drop them into bucket 0
    // pin: the scored table feeds BOTH the per-bucket count branch and
    // the local-rank branch — without materialize-once, the regex-heavy
    // quality score is computed twice over the whole corpus (measured:
    // the ×50 smoke spent 17.6 s here, ~2× the single-pass cost)
    val ranged = Tables.pin(scored.withColumn("part",
      when(isnan(col("quality_score")), lit(Long.MaxValue))
        .otherwise(floor((col("quality_score") + lit(0.5)) * 16.0).cast("long"))))
    // per-range-partition counts → prefix-sum offsets + grand total, all
    // over ≤ `parts` rows (one tiny task, never the corpus)
    val tiny = org.apache.spark.sql.expressions.Window.orderBy("part")
    val offsets = ranged.groupBy("part").agg(count(lit(1)).as("cnt"))
      .select(
        col("part"),
        coalesce(sum(col("cnt")).over(
          tiny.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)).as("off"),
        sum(col("cnt")).over(tiny.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)).as("n"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy(col("quality_score"), col("doc_id"))
    ranged
      .withColumn("lr", row_number().over(local).cast("long"))
      .join(broadcast(offsets), "part")
      .withColumn("rank", col("off") + col("lr"))
      // SQL ntile: base = n div 10 rows per bucket, buckets 1..(n%10) get
      // one extra; CASE evaluates lazily so `div` never sees base = 0
      .withColumn("decile",
        when(col("rank") <= (col("n") % 10) * (expr("n div 10") + 1L),
          expr("(rank - 1) div (n div 10 + 1)") + 1L)
          .otherwise(col("n") % 10 + expr("(rank - (n % 10) * (n div 10 + 1) - 1) div (n div 10)") + 1L)
          .cast("long"))
  }

  private def qualityBinsOf(scored: DataFrame): DataFrame =
    qualityDecilesOf(scored)
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("quality_score")).as("min_score"),
        max(col("quality_score")).as("max_score"))
      .orderBy("decile")

  /** Term document-frequency table: for the corpus's most common terms
    * (≥3 chars), in how many documents each appears and its share of the
    * corpus — the statistic behind IDF weighting and stopword discovery.
    * array_distinct runs per-row (terms dedupe map-side before the
    * explode), so the shuffle carries (term, doc) pairs only once per
    * distinct term per doc. */
  def termDocFreq(spark: SparkSession, dir: String, topK: Int = 20): DataFrame =
    termDocFreqOf(Tables.load(spark, dir, "documents"), topK)

  private def termDocFreqOf(docs: DataFrame, topK: Int): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(explode(array_distinct(split(normText(col("text")), " "))).as("term"))
      .where(length(col("term")) >= 3)
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("df_ratio", col("df").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("df").desc, col("term"))
      .limit(topK)
  }

  /** Temperature-scaled source sampling (T = 2): the multilingual /
    * multi-domain mixing staple — sampling probability ∝ √(natural token
    * share), which up-weights under-represented sources without letting
    * any source dominate. T = 2 is the portable temperature: √ is
    * correctly rounded under IEEE-754 on both engines, where a general
    * share^(1/T) would ride libm's pow. The √-weights are quantized to
    * floor(w·2⁴⁰) and summed as exact integers (cross-row double sums
    * are partition-order dependent; quantized longs are not).
    *
    * Scale shape: one scan → per-source partial-agg shuffle; every later
    * step runs on the |sources|-row aggregate with broadcast scalar
    * totals. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val perSource = Tables.load(spark, dir, "documents")
      .select(col("source"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    // totals as windows over the |sources|-row aggregate: the previous
    // two crossJoin(broadcast(self.agg)) steps planned the scan+agg
    // subtree three times
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perSource
      .withColumn("corpus_tokens", sum(col("n_tokens")).over(wAll))
      .withColumn("natural_share",
        col("n_tokens").cast("double") / col("corpus_tokens").cast("double"))
      .withColumn("wq", floor(sqrt(col("natural_share")) * Q).cast("long"))
      .withColumn("wsum", sum(col("wq")).over(wAll))
      .withColumn("sampling_p", col("wq").cast("double") / col("wsum").cast("double"))
      .withColumn("boost", col("sampling_p") / col("natural_share"))
      .select("source", "n_docs", "n_tokens", "natural_share", "sampling_p", "boost")
      .orderBy("source")
  }

  val temperatureMixSql: String =
    """WITH per_source AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM per_source),
      |w AS (
      |  SELECT source, n_docs, n_tokens,
      |         CAST(n_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE) AS natural_share,
      |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE)) * 1099511627776.0) AS BIGINT) AS wq
      |  FROM per_source CROSS JOIN tot),
      |ws AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w)
      |SELECT source, n_docs, n_tokens, natural_share,
      |       CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) AS sampling_p,
      |       (CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)) / natural_share AS boost
      |FROM w CROSS JOIN ws ORDER BY source""".stripMargin

  /** BPE first-merge statistics — the tokenizer-training surface: the
    * most frequent adjacent character pairs inside words, which is
    * exactly the pair-count table byte-pair encoding consults for its
    * first merge (Sennrich et al. 2016). Re-running after each merge
    * replays the same query over the re-segmented corpus; this operator
    * is the distributed form of that inner loop's statistics pass.
    *
    * Scale shape: pair explode is per-row; one shuffle on the pair key
    * (alphabet²-bounded, map-side combined), top-k via
    * TakeOrderedAndProject. */
  def bpePairs(spark: SparkSession, dir: String, topK: Int = 20): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(split(normText(col("text")), " ")).as("word"))
      .where(length(col("word")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)

  def bpePairsSql(topK: Int = 20): String =
    s"""WITH w AS (
       |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
       |  FROM documents),
       |p AS (
       |  SELECT unnest([substr(word, i, 2) for i in range(1, greatest(length(word) - 1, 0) + 1)]) AS pair
       |  FROM w WHERE length(word) >= 2)
       |SELECT pair, count(*) AS n FROM p
       |GROUP BY pair ORDER BY n DESC, pair LIMIT $topK""".stripMargin

  /** Per-document bigram coherence — the second log-free LM-perplexity
    * proxy: the mean corpus conditional probability P(w₂|w₁) =
    * c(w₁w₂)/c(w₁·) over the document's adjacent word pairs. Coherent
    * text follows the corpus's transition structure (high mean);
    * shuffled/generated word soup does not. No logs: each probability is
    * a division of exact longs, quantized to floor(p·2⁴⁰) and summed as
    * exact BIGINTs so the per-doc mean is order-independent on any
    * engine and any partitioning (same trick as the IVF centroids).
    *
    * Scale shape: bigram positions explode per-row; the unigram/bigram
    * count tables are vocabulary-bounded (broadcast when they fit — AQE
    * decides), the position-table joins are co-partitioned on w1, and
    * the final rollup shuffles on doc_id. */
  def bigramCoherence(spark: SparkSession, dir: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
    val pairs = toks
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(col("w")) - 1, lit(1))),
        i => struct(element_at(col("w"), i).as("w1"), element_at(col("w"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .where(col("w2").isNotNull)
    // ONE pass over the bigram fan-out: aggregate to per-(doc, bigram-type)
    // counts first (map-side combined), then c12/c1 ride windows over
    // those deduped type rows — the previous join form planned the explode
    // THREE times (uni, bi, and the join base). Per-instance q telescopes
    // to cdoc·q(type) because q is a pure function of the type (the floor
    // lands identically). Hot-key caution: a window by w1 single-tasks the
    // hottest unigram's TYPE rows — but so did the old w1 join; same skew
    // class, one less subtree, two fewer shuffles.
    // repartition on w1 (r19, guide §2.4): hash(w1) satisfies the
    // (doc, w1, w2) rollup AND both count windows (subset rule), so the
    // three separate exchanges collapse into this one. Same hot-w1 skew
    // class as before — the (w1) window already single-tasked the hottest
    // unigram's type rows.
    val docTypes = pairs.repartition(col("w1"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cdoc"))
    docTypes
      .withColumn("c12", sum(col("cdoc")).over(Window.partitionBy("w1", "w2")))
      .withColumn("c1", sum(col("cdoc")).over(Window.partitionBy("w1")))
      .withColumn("q", floor(col("c12").cast("double") / col("c1").cast("double") * Q).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("cdoc")).as("n_bigrams"), sum(col("cdoc") * col("q")).as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("sq").cast("double") / Q) / col("n_bigrams").cast("double")).as("mean_bigram_p"))
      .orderBy("doc_id")
  }

  val bigramCoherenceSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM t),
      |u AS (SELECT w1, count(*) AS c1 FROM p GROUP BY w1),
      |b AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
      |j AS (
      |  SELECT doc_id,
      |         CAST(floor(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) * 1099511627776.0) AS BIGINT) AS q
      |  FROM p JOIN b USING (w1, w2) JOIN u USING (w1))
      |SELECT doc_id, count(*) AS n_bigrams,
      |       (CAST(sum(q) AS DOUBLE) / 1099511627776.0) / CAST(count(*) AS DOUBLE) AS mean_bigram_p
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-document vocabulary rarity — the log-free stand-in for the
    * LM-perplexity quality filter (CCNet-style): per doc, the count and
    * share of terms that are corpus-rare (df < n_docs/10, an integer
    * comparison — no float threshold), and the mean document frequency
    * of its terms (low mean-df = unusual vocabulary). Both engines
    * compute it from the same exact integer df table, so every ratio is
    * a division of exact longs.
    *
    * Scale shape: terms dedupe per-row before the explode; one shuffle
    * for the df table, a co-partitioned join back on the term key, one
    * shuffle for the per-doc rollup. The df table is vocabulary-sized —
    * at 100 TB it persists once and broadcasts if it fits. */
  def rarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val terms = docs
      .select(col("doc_id"), explode(array_distinct(split(normText(col("text")), " "))).as("term"))
    // df as a window over the single term fan-out (the groupBy+join form
    // planned the explode twice); nDocs is a cheap pruned count scan
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    terms
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        count(when(col("df") < floor(col("n_docs") / 10).cast("long"), 1)).as("n_rare"),
        sum(col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_terms"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_terms").cast("double")).as("rare_ratio"),
        (col("sum_df").cast("double") / col("n_terms").cast("double")).as("mean_df"))
      .orderBy("doc_id")
  }

  val raritySql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS term
      |  FROM documents),
      |df AS (SELECT term, count(*) AS df FROM t GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |         count(CASE WHEN df < n_docs // 10 THEN 1 END) AS n_rare,
      |         CAST(sum(df) AS BIGINT) AS sum_df
      |  FROM t JOIN df USING (term) CROSS JOIN n
      |  GROUP BY doc_id)
      |SELECT doc_id, n_terms, n_rare,
      |       CAST(n_rare AS DOUBLE) / CAST(n_terms AS DOUBLE) AS rare_ratio,
      |       CAST(sum_df AS DOUBLE) / CAST(n_terms AS DOUBLE) AS mean_df
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Per-document unigram surprisal in WHOLE BITS — the third (and
    * sharpest) log-free LM-perplexity proxy: each token's surprisal
    * −log₂ P(w) = log₂(N/c_w) is floored to the exact integer
    * k = ⌊log₂(N/c_w)⌋, computed with PURE integer comparisons
    * (largest k ∈ [0,40] with c_w·2ᵏ ≤ N — no libm, so the value is
    * bit-identical on any engine) and averaged per document. Documents
    * full of corpus-rare tokens score high (gibberish, OCR noise, other
    * languages); templated text scores low. The whole-bit floor costs
    * < 1 bit/token of resolution against true cross-entropy — plenty
    * for the quality-bucketing decision this feeds — and buys exactness
    * where a float Σln would depend on partitioning and libm.
    *
    * Scale shape: one (doc, term) partial-agg shuffle over the single
    * token fan-out, term totals as a window over those deduped type
    * rows, the corpus total from a no-explode documents scan as a 1-row
    * broadcast, and the per-doc rollup sums exact integers —
    * order-independent. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val pows = array((0 to 40).map(k => lit(1L << k)): _*)
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("term"))
      .where(length(col("term")) >= 1)
    // ONE pass over the token fan-out (was three: cnt, n, and the join
    // base): per-(doc, term) counts first, the vocabulary count as a
    // window over those deduped rows, and the corpus total from a
    // separate NO-EXPLODE scan (per-row array size — the scan is cheap,
    // the fan-out was the cost). Per-instance bits telescope to
    // cdoc·bits(type) since bits is a pure function of (c, N).
    // repartition on TERM before the (doc, term) rollup (r19, guide
    // §2.4): hash(term) satisfies the (doc_id, term) aggregation (subset
    // rule) AND the per-term df window below, so the plan's separate
    // (doc,term)-exchange and term-exchange collapse into this one.
    // Interleaved A/B at sf0.1: 1.84 → 1.45 s median.
    val docTypes = toks.repartition(col("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cdoc"))
    val n = Tables.load(spark, dir, "documents")
      .select(size(filter(split(normText(col("text")), " "),
        w => length(w) >= 1)).cast("long").as("k"))
      .agg(sum(col("k")).as("n_total"))
    docTypes
      .withColumn("c", sum(col("cdoc")).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      // overflow-free form of c·2ᵏ ≤ N: for positive integers it is
      // equivalent to 2ᵏ ≤ ⌊N/c⌋, and the division can never overflow
      // (c·p would once c reaches 2²³ at production corpus sizes —
      // Spark wraps silently while DuckDB raises, so the engines would
      // diverge exactly where exactness is claimed)
      .withColumn("maxp", expr("n_total DIV c"))
      .withColumn("bits",
        (size(filter(pows, p => p <= col("maxp"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("cdoc")).as("n_tokens"), sum(col("cdoc") * col("bits")).as("sum_bits"),
        max("bits").as("max_bits"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"), col("max_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double")).as("mean_bits"))
      .orderBy("doc_id")
  }

  val unigramSurprisalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |t AS (SELECT doc_id, term FROM toks WHERE length(term) >= 1),
      |c AS (SELECT term, count(*) AS c FROM t GROUP BY term),
      |n AS (SELECT count(*) AS n_total FROM t),
      |b AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(list_transform(generate_series(0, 40), k -> 1::BIGINT << k),
      |                              p -> p <= n.n_total // c.c)) - 1 AS BIGINT) AS bits
      |  FROM t JOIN c USING (term) CROSS JOIN n)
      |SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS sum_bits,
      |       CAST(max(bits) AS BIGINT) AS max_bits,
      |       CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_bits
      |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-source novelty: the share of word-trigram shingles that occur in
    * exactly one document corpus-wide. High-novelty sources contribute
    * fresh text; low-novelty ones are template/boilerplate-heavy — the
    * signal a pipeline uses to down-weight a source before training.
    *
    * Scale shape: shingles dedupe per-row (array_distinct) before the
    * explode, so count(*) per gram IS the document frequency. The df is
    * attached as a count over a window partitioned by the 8-byte gram
    * digest (shuffling digests, not ~25-char strings — ≈3× less volume;
    * both engines take the same md5 prefix so any collision is SHARED
    * and the counts agree bit-for-bit), which keeps the plan LINEAR:
    * building the fan-out twice — once for the per-source totals, once
    * for the df aggregation — would double the expensive shingle
    * pipeline, since Spark only reuses identical exchanges. After the
    * window, ONE per-source aggregation reads both numbers: the source's
    * fan-out rows are its shingle total, and its df-1 rows are its
    * uniques (a df-1 gram has exactly one holder). Same linearization as
    * [[dupGramShare]]; measured there at 1.7× warm. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    // spread: the shingle fan-out pipelines into the scan stage; see
    // Tables.spread (no-op at production split counts)
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val w = split(normText(col("text")), " ")
    docs
      .select(col("doc_id"), col("source"), w.as("w"))
      .withColumn("grams", array_distinct(transform(
        sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(3))))))
      .select(col("source"), explode(col("grams")).as("g"))
      .select(col("source"), conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
      .withColumn("gdf",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("gdf") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_ratio",
        col("n_unique").cast("double") / col("n_shingles").cast("double"))
      .orderBy("source")
  }

  val noveltySql: String =
    """WITH n AS (
      |  SELECT doc_id, source,
      |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source,
      |         list_distinct([array_to_string(w[i:i+2], ' ')
      |                        for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS grams
      |  FROM n),
      |per_source AS (
      |  SELECT source, CAST(sum(len(grams)) AS BIGINT) AS n_shingles
      |  FROM base GROUP BY source),
      |g0 AS (
      |  SELECT source,
      |         CAST('0x' || substr(md5(unnest(grams)), 1, 15) AS BIGINT) AS gh
      |  FROM base),
      |uniq AS (
      |  SELECT usource AS source, count(*) AS n_unique FROM (
      |    SELECT gh, count(*) AS gdf, min(source) AS usource FROM g0 GROUP BY gh)
      |  WHERE gdf = 1 GROUP BY usource)
      |SELECT p.source, p.n_shingles,
      |       coalesce(u.n_unique, 0) AS n_unique,
      |       CAST(coalesce(u.n_unique, 0) AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) AS novelty_ratio
      |FROM per_source p LEFT JOIN uniq u USING (source)
      |ORDER BY p.source""".stripMargin

  /** Tokenizer fertility per (source, lang) — the multilingual tokenizer
    * QA table: BPE-ish tokens per whitespace word ("fertility", Ács'
    * measure for how much a tokenizer fragments a language) and chars
    * per BPE token. Sources/languages with outlier fertility either
    * break the token-budget math ([[tokenBudget]] counts whitespace
    * tokens) or signal a script the tokenizer handles badly — both are
    * read before committing a mix.
    *
    * Determinism: the three volumes are exact integer sums; the two
    * ratios are single divisions of those sums. Scale shape: per-row
    * counting then ONE partial-aggregated shuffle on (source, lang);
    * the output is |sources×langs| rows. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("nc"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nw"),
        size(regexp_extract_all(col("text"), lit(bpeishPattern), lit(0))).cast("long").as("nb"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nw")).as("n_ws_tokens"),
        sum(col("nb")).as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
      .orderBy("source", "lang")

  val tokenizerFertilitySql: String =
    """WITH f AS (
      |  SELECT source, lang,
      |         CAST(length(text) AS BIGINT) AS nc,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw,
      |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS nb
      |  FROM documents)
      |SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(nc) AS BIGINT) AS n_chars,
      |       CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
      |       CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
      |       CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) AS fertility,
      |       CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE) AS chars_per_token
      |FROM f GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** Language token-coverage curve — the multilingual budgeting table
    * (which languages must the tokenizer and the mix handle before the
    * tail stops paying for itself): languages ranked by whitespace-token
    * volume, each with its share and the cumulative share down the rank
    * order. The planning read is "the top N rows cover X% of tokens";
    * rank ties break on the language code so the curve is deterministic.
    *
    * Scale shape: one scan, ONE per-lang aggregation (map-side partial),
    * then rank/cumulative windows over the ≤ |langs|-row aggregate — the
    * bounded-input exception the window audit allows. */
  def langCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").desc, col("lang"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.load(spark, dir, "documents")
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nw"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("total", sum(col("n_tokens")).over(tot))
      .withColumn("cum", sum(col("n_tokens")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("rank"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total").cast("double")).as("token_share"),
        (col("cum").cast("double") / col("total").cast("double")).as("cum_coverage"))
      .orderBy("rank")
  }

  val langCoverageSql: String =
    """WITH l AS (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang)
      |SELECT CAST(row_number() OVER (ORDER BY n_tokens DESC, lang) AS BIGINT) AS rank,
      |       lang, n_docs, n_tokens,
      |       CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share,
      |       CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, lang
      |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         / CAST(sum(n_tokens) OVER () AS DOUBLE) AS cum_coverage
      |FROM l ORDER BY rank""".stripMargin

  /** Per-document duplicated-gram share histogram — the RefinedWeb-style
    * per-DOC dup filter signal, complementing [[novelty]]'s per-SOURCE
    * view: for each document, the fraction of its distinct word-trigram
    * shingles that also occur in at least one other document (corpus
    * df ≥ 2), bucketed into deciles. Documents in the top bins are
    * boilerplate/template pages an aggressive near-dup pass would keep
    * (no single partner clears a Jaccard threshold) yet contribute
    * almost no novel text — the filter reads this histogram to pick a
    * drop threshold.
    *
    * Scale shape: a per-doc signal needs the gram df attributed BACK to
    * every holder (novelty's min-source trick cannot do that). Rather
    * than join the fan-out with its own groupBy — which makes Spark
    * compute the expensive gram fan-out (normalize → shingle → md5)
    * TWICE, once per join side, since common-subplan reuse only kicks in
    * for identical exchanges — the df is attached as a count over a
    * window partitioned by the 8-byte gram digest (≈3× less shuffle
    * volume than the gram strings; digest collisions agree with the
    * oracle by construction). The plan is then LINEAR: one fan-out
    * build, one gh shuffle+sort for the window, one partial-aggregated
    * doc_id shuffle, then ≤ 10 histogram rows. Window groups are
    * per-gram occurrence lists (bounded by document frequency) and
    * spill-safe in WindowExec. Measured at sf0.1: 9.2 s → ~4 s warm. */
  def dupGramShare(spark: SparkSession, dir: String): DataFrame = {
    // spread: same scan-stage serialization guard as [[novelty]]
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val w = split(normText(col("text")), " ")
    val base = docs.select(col("doc_id"), w.as("w"))
      .withColumn("grams", array_distinct(transform(
        sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(3))))))
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
    base
      .withColumn("gdf",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .select(
        least(floor(col("n_dup").cast("double") / col("n_grams").cast("double") * 10.0),
          lit(9L)).cast("long").as("dup_bin"),
        col("n_grams"), col("n_dup"))
      .groupBy("dup_bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_dup")).as("n_dup_grams"))
      .orderBy("dup_bin")
  }

  val dupGramShareSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
      |  FROM (
      |    SELECT doc_id,
      |           unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |                                 for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS g
      |    FROM n)),
      |df AS (SELECT gh, count(*) AS gdf FROM base GROUP BY gh),
      |per_doc AS (
      |  SELECT b.doc_id, count(*) AS n_grams,
      |         CAST(sum(CASE WHEN d.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM base b JOIN df d USING (gh) GROUP BY b.doc_id)
      |SELECT CAST(least(floor(CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) * 10.0), 9.0) AS BIGINT) AS dup_bin,
      |       count(*) AS n_docs,
      |       CAST(sum(n_grams) AS BIGINT) AS n_grams,
      |       CAST(sum(n_dup) AS BIGINT) AS n_dup_grams
      |FROM per_doc GROUP BY dup_bin ORDER BY dup_bin""".stripMargin

  /** Length-cut tuning curve — what each candidate minimum-length
    * filter would actually remove, per source: for min-length cuts of
    * {16, 32, 64, 128, 256} words, the documents AND tokens dropped
    * with their shares. The doc share overstates the damage (short docs
    * carry few tokens); the token share is the number that matters for
    * corpus size — the same doc-vs-token distinction the dedup
    * waterfall reports. Read before setting the corpus-filter length
    * gate ([[corpusFilter]] applies one; this prices all of them).
    *
    * Scale shape: ONE scan — the 5-point cut spine is a literal array
    * exploded per doc after the (cheap) token count; the rollup is a
    * ≤|sources|×5-key map-side-combined aggregation of exact integers. */
  def lengthCutCurve(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(split(normText(col("text")), " ")).cast("long").as("nw"))
      .select(col("source"), col("nw"),
        explode(array(lit(16L), lit(32L), lit(64L), lit(128L), lit(256L)))
          .as("min_len"))
      .groupBy("source", "min_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nw") < col("min_len"), 1L).otherwise(0L)).as("docs_removed"),
        sum(col("nw")).as("n_tokens"),
        sum(when(col("nw") < col("min_len"), col("nw")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("source"), col("min_len"), col("n_docs"), col("docs_removed"),
        (col("docs_removed").cast("double") / col("n_docs").cast("double"))
          .as("doc_share_removed"),
        col("n_tokens"), col("tokens_removed"),
        (col("tokens_removed").cast("double") / col("n_tokens").cast("double"))
          .as("token_share_removed"))
      .orderBy("source", "min_len")
  }

  val lengthCutCurveSql: String =
    """WITH cuts(min_len) AS (VALUES (16), (32), (64), (128), (256)),
      |d AS (
      |  SELECT source,
      |         CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS nw
      |  FROM documents)
      |SELECT source, CAST(min_len AS BIGINT) AS min_len,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN nw < min_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
      |       CAST(sum(CASE WHEN nw < min_len THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS doc_share_removed,
      |       CAST(sum(nw) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN nw < min_len THEN nw ELSE 0 END) AS BIGINT) AS tokens_removed,
      |       CAST(sum(CASE WHEN nw < min_len THEN nw ELSE 0 END) AS DOUBLE)
      |         / CAST(sum(nw) AS DOUBLE) AS token_share_removed
      |FROM d CROSS JOIN cuts
      |GROUP BY source, min_len ORDER BY source, min_len""".stripMargin

  /** Context-length fit — the truncation-waste side of the length
    * story ([[lengthCutCurve]] prices the SHORT tail; this prices the
    * LONG one): for candidate training context lengths {512, 2048,
    * 8192, 32768} tokens, how many documents exceed the window and how
    * many tokens fall off the end if each document is truncated to one
    * window. High waste at the chosen context argues for chunking
    * ([[chunkDocuments]]) or packing ([[packSequences]]) instead of
    * truncation — this table is the decision input.
    *
    * Scale shape: ONE scan — token count per doc, then the 4-point
    * context spine exploded per doc; the rollup is a ≤4-key map-side-
    * combined aggregation of exact integers. */
  def contextFit(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(size(split(normText(col("text")), " ")).cast("long").as("nw"))
      .select(col("nw"),
        explode(array(lit(512L), lit(2048L), lit(8192L), lit(32768L)))
          .as("context_len"))
      .groupBy("context_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nw") > col("context_len"), 1L).otherwise(0L)).as("docs_over"),
        sum(col("nw")).as("n_tokens"),
        sum(greatest(col("nw") - col("context_len"), lit(0L))).as("tokens_truncated"))
      .select(col("context_len"), col("n_docs"), col("docs_over"),
        (lit(1.0) - col("docs_over").cast("double") / col("n_docs").cast("double"))
          .as("doc_fit_share"),
        col("n_tokens"), col("tokens_truncated"),
        (col("tokens_truncated").cast("double") / col("n_tokens").cast("double"))
          .as("token_waste_share"))
      .orderBy("context_len")
  }

  val contextFitSql: String =
    """WITH ctx(context_len) AS (VALUES (512), (2048), (8192), (32768)),
      |d AS (
      |  SELECT CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS nw
      |  FROM documents)
      |SELECT CAST(context_len AS BIGINT) AS context_len,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN nw > context_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
      |       1.0 - CAST(sum(CASE WHEN nw > context_len THEN 1 ELSE 0 END) AS DOUBLE)
      |               / CAST(count(*) AS DOUBLE) AS doc_fit_share,
      |       CAST(sum(nw) AS BIGINT) AS n_tokens,
      |       CAST(sum(greatest(nw - context_len, 0)) AS BIGINT) AS tokens_truncated,
      |       CAST(sum(greatest(nw - context_len, 0)) AS DOUBLE)
      |         / CAST(sum(nw) AS DOUBLE) AS token_waste_share
      |FROM d CROSS JOIN ctx
      |GROUP BY context_len ORDER BY context_len""".stripMargin

  /** Per-source gram-redundancy curve — the compressibility proxy a
    * pretraining filter reads to catch boilerplate sources WITHOUT
    * running a compressor: for gram sizes n ∈ {1, 2, 4, 8}, the
    * distinct-over-total n-gram ratio (generalized type-token ratio)
    * and its complement. Natural prose keeps a high distinct share even
    * at n = 8; template/boilerplate corpora collapse (the same 8-grams
    * repeat), so `redundancy` rising steeply with n is the machine-
    * generated / scraped-nav signature — the corpus-level reading of
    * Gopher's repetition rules ([[gopherRules]] is the per-doc twin).
    *
    * Scale shape: ONE documents scan — the 4-point gram-size spine is a
    * literal array exploded against each doc, then one gram fan-out
    * whose shuffle carries 8-byte digests, not gram strings (collisions
    * shared with the oracle by construction); the rollup is a two-phase
    * distinct-count on ≤|sources|×4 keys. */
  def redundancyCurve(spark: SparkSession, dir: String): DataFrame = {
    // spread: same scan-stage serialization guard as [[novelty]]
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val base = docs
      .select(col("source"), split(normText(col("text")), " ").as("w"))
      .select(col("source"), col("w"),
        explode(array(lit(1), lit(2), lit(4), lit(8))).as("n"))
      .where(size(col("w")) >= col("n"))
      .select(col("source"), col("n"),
        explode(transform(
          sequence(lit(1), size(col("w")) - col("n") + 1),
          i => concat_ws(" ", slice(col("w"), i, col("n"))))).as("g"))
      .select(col("source"), col("n").cast("long").as("n"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
    base.groupBy("source", "n")
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("gh")).as("n_distinct"))
      .withColumn("ttr",
        col("n_distinct").cast("double") / col("n_grams").cast("double"))
      .withColumn("redundancy", lit(1.0) - col("ttr"))
      .orderBy("source", "n")
  }

  val redundancyCurveSql: String =
    """WITH nv(n) AS (VALUES (1), (2), (4), (8)),
      |d AS (
      |  SELECT source,
      |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |g AS (
      |  SELECT source, n,
      |         CAST('0x' || substr(md5(array_to_string(w[i:i+n-1], ' ')), 1, 15) AS BIGINT) AS gh
      |  FROM (
      |    SELECT source, n, w,
      |           unnest(generate_series(1, CAST(len(w) - n + 1 AS INTEGER))) AS i
      |    FROM d CROSS JOIN nv WHERE len(w) >= n))
      |SELECT source, CAST(n AS BIGINT) AS n,
      |       count(*) AS n_grams,
      |       count(DISTINCT gh) AS n_distinct,
      |       CAST(count(DISTINCT gh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ttr,
      |       1.0 - CAST(count(DISTINCT gh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS redundancy
      |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin

  /** Per-source character diversity: Simpson index 1 − Σ p² over the
    * source's character distribution, plus distinct-character counts.
    * Gibberish (flat distribution, index → 1) and template spam
    * (concentrated, index → 0) sit at the extremes — a filter signal
    * orthogonal to the stopword/punctuation ratios.
    *
    * Deliberately transcendental-free (no Shannon log): squares and
    * exact-long ratios are bit-portable across engines where libm `ln`
    * is not. The char explode combines map-side to ≤ |sources|×|alphabet|
    * rows before the shuffle; the fold runs over the collected per-source
    * distribution (bounded by alphabet size), index-ordered to match
    * DuckDB's list_reduce. */
  def charDiversity(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy("source", "ch")
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy("source")
      .agg(
        sum(col("cnt")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sort_array(collect_list(struct(col("ch"), col("cnt")))).as("dist"))
      .select(col("source"), col("n_chars"), col("n_distinct_chars"),
        (lit(1.0) - aggregate(
          transform(col("dist"), s =>
            (s.getField("cnt").cast("double") / col("n_chars").cast("double")) *
              (s.getField("cnt").cast("double") / col("n_chars").cast("double"))),
          lit(0.0), (acc, x) => acc + x)).as("simpson_diversity"))
      .orderBy("source")
  }

  val charDiversitySql: String =
    """WITH c AS (
      |  SELECT source, unnest([text[i] for i in range(1, length(text) + 1)]) AS ch
      |  FROM documents),
      |d AS (SELECT source, ch, count(*) AS cnt FROM c GROUP BY source, ch),
      |s AS (
      |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chars,
      |         count(*) AS n_distinct_chars,
      |         list(cnt ORDER BY ch) AS dist
      |  FROM d GROUP BY source)
      |SELECT source, n_chars, n_distinct_chars,
      |       1.0 - list_reduce(
      |               list_transform(dist, c ->
      |                 (CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE)) *
      |                 (CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE))),
      |               (a, b) -> a + b) AS simpson_diversity
      |FROM s ORDER BY source""".stripMargin

  /** Per-document repetition profile (Gopher-style repetition rules):
    * duplicate-word fraction, top-word share, and repeated-trigram
    * fraction — the signals that catch keyword-stuffed or looping text
    * that length/stopword ratios miss.
    *
    * Scale shape: trigram stats are pure array expressions (zero
    * shuffle); word stats explode to (doc_id, word) and aggregate —
    * both shuffles are keyed by doc_id so partitions stay doc-local and
    * the reduction is map-side-combined. All ratios are double divisions
    * of exact longs (bit-identical across engines). */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .withColumn("grams", transform(
        sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(3)))))
    val gramStats = base.select(col("doc_id"),
      size(col("grams")).cast("long").as("n_grams"),
      size(array_distinct(col("grams"))).cast("long").as("n_distinct_grams"))
    val wordStats = base.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("cnt")).as("top_word_cnt"))
    wordStats.join(gramStats, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"), col("top_word_cnt"),
        (col("top_word_cnt").cast("double") / col("n_words").cast("double")).as("top_word_share"),
        (lit(1.0) - col("n_distinct_words").cast("double") / col("n_words").cast("double")).as("dup_word_frac"),
        (lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams").cast("double")).as("dup_gram_frac"))
      .orderBy("doc_id")
  }

  val repetitionSql: String =
    """WITH n AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 1) + 1)] AS grams
      |  FROM n),
      |gs AS (
      |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |         CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams
      |  FROM g),
      |wc AS (
      |  SELECT doc_id, word, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(w) AS word FROM n) GROUP BY doc_id, word),
      |ws AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words, count(*) AS n_distinct_words,
      |         CAST(max(cnt) AS BIGINT) AS top_word_cnt
      |  FROM wc GROUP BY doc_id)
      |SELECT ws.doc_id, n_words, n_distinct_words, top_word_cnt,
      |       CAST(top_word_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_share,
      |       1.0 - CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
      |       1.0 - CAST(n_distinct_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_gram_frac
      |FROM ws JOIN gs USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Per-source distinctive terms by rational TF-IDF: term frequency
    * within the source × (n_sources / source-document-frequency), top-3
    * per source. The idf is deliberately the RATIONAL form (no log):
    * pure divisions and one multiply of exact longs are bit-portable
    * across engines where libm `ln` is not, and the per-source ranking
    * is identical either way (log is monotone).
    *
    * Scale shape: one explode → (source, term) partial-aggregated
    * shuffle, then EVERY derived statistic rides windows on those
    * already-aggregated rows — df as a count over the term partition,
    * source totals and ranking over the source partition (the two
    * source windows share one exchange; projections preserve the
    * partitioning). The previous form re-aggregated tf by term and
    * joined back, which planned the whole explode subtree TWICE (the
    * unshared `tf` fed both sides) — measured ~1.7× the frozen median
    * from exactly that duplication; windows on |sources×terms| rows
    * never touch the token fan-out again. */
  def tfidf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs
      .select(col("source"), explode(split(normText(col("text")), " ")).as("term"))
      .where(length(col("term")) >= 3 && !col("term").isInCollection(stopwords))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val bySource = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val byTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val nSources = docs.agg(countDistinct(col("source")).as("n_sources"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(byTerm))
      .withColumn("source_terms", sum(col("tf")).over(bySource))
      .crossJoin(broadcast(nSources))
      .withColumn("score",
        (col("tf").cast("double") / col("source_terms").cast("double")) *
          (col("n_sources").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .where(col("rank") <= topK)
      .select("source", "term", "tf", "df", "score", "rank")
      .orderBy("source", "rank")
  }

  def tfidfSql(topK: Int = 3): String =
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
       |  FROM documents),
       |f AS (
       |  SELECT source, term, count(*) AS tf
       |  FROM t
       |  WHERE length(term) >= 3 AND term NOT IN (${stopwords.map("'" + _ + "'").mkString(",")})
       |  GROUP BY source, term),
       |tot AS (
       |  SELECT source, term, tf,
       |         CAST(sum(tf) OVER (PARTITION BY source) AS BIGINT) AS source_terms
       |  FROM f),
       |d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
       |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
       |ranked AS (
       |  SELECT tot.source, tot.term, tot.tf, d.df,
       |         (CAST(tot.tf AS DOUBLE) / CAST(tot.source_terms AS DOUBLE)) *
       |           (CAST(ns.n_sources AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score
       |  FROM tot JOIN d USING (term) CROSS JOIN ns),
       |rk AS (
       |  SELECT source, term, tf, df, score,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS BIGINT) AS rank
       |  FROM ranked)
       |SELECT source, term, tf, df, score, rank FROM rk
       |WHERE rank <= $topK ORDER BY source, rank""".stripMargin

  val termDocFreqSql: String =
    """WITH n AS (SELECT count(*) AS n_docs FROM documents),
      |terms AS (
      |  SELECT unnest(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS term
      |  FROM documents),
      |df AS (
      |  SELECT term, count(*) AS df FROM terms WHERE length(term) >= 3 GROUP BY term)
      |SELECT term, df, n_docs, CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df_ratio
      |FROM df CROSS JOIN n
      |ORDER BY df DESC, term LIMIT 20""".stripMargin

  /** Term co-occurrence over the vocabulary head: document counts for
    * every pair of top-DF terms that appear in the same document — the
    * raw counts behind PMI / association mining. The vocabulary is capped
    * at the top-K DF terms FIRST, so the per-document pair fan-out is
    * bounded by K²/2 regardless of document length (the property that
    * keeps this runnable at corpus scale).
    *
    * A doc_id self-join over the head-term rows: each side is only a
    * broadcast-semi'd sliver of the corpus (≤ vocab rows per doc) and the
    * join runs hash-to-hash. An r15 rewrite that exploded each doc's
    * collect_set of head terms into its pairs (one subtree, one doc_id
    * shuffle) lost to this form in an r16 same-window A/B (7 interleaved
    * passes, sf0.1): set-explode median 1.342 s / min 1.215 vs self-join
    * median 1.077 s / min 0.995 — the collect_set array state per doc
    * costs more than the self-join's second pass over the head-term rows.
    * The trade flips only where the corpus SCAN dominates (the self-join
    * plans the scan+filter subtree twice): at true lake scale, materialize
    * the head-term table once and feed the join from it. */
  def cooccurrence(spark: SparkSession, dir: String, vocab: Int = 20, topK: Int = 30): DataFrame = {
    val top = termDocFreq(spark, dir, vocab).select(col("term"))
    val docTerms = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(normText(col("text")), " "))).as("term"))
      .where(length(col("term")) >= 3)
      .join(broadcast(top), "term")
    val a = docTerms.select(col("doc_id"), col("term").as("term_a"))
    val b = docTerms.select(col("doc_id"), col("term").as("term_b"))
    a.join(b, Seq("doc_id"))
      .where(col("term_a") < col("term_b"))
      .groupBy("term_a", "term_b")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("term_a"), col("term_b"))
      .limit(topK)
  }

  def cooccurrenceSql(vocab: Int = 20, topK: Int = 30): String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS term
       |  FROM documents),
       |filt AS (SELECT doc_id, term FROM terms WHERE length(term) >= 3),
       |top AS (
       |  SELECT term FROM (SELECT term, count(*) AS df FROM filt GROUP BY term)
       |  ORDER BY df DESC, term LIMIT $vocab),
       |dt AS (SELECT doc_id, term FROM filt JOIN top USING (term))
       |SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_docs
       |FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
       |GROUP BY term_a, term_b
       |ORDER BY n_docs DESC, term_a, term_b LIMIT $topK""".stripMargin

  /** Lake-write shard planning: size the output shard count from total
    * corpus bytes (256 KB target per shard at test scale; 256 MB in
    * production) and assign documents to shards by content digest —
    * balanced, reproducible, and independent of input partitioning. The
    * per-shard stats are what the writer uses to verify balance before
    * committing the layout. */
  def shardPlan(spark: SparkSession, dir: String, targetBytes: Long = 262144L): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("digest"))
    val total = docs.agg(sum(col("n_bytes")).as("total_bytes"))
      .select(col("total_bytes"),
        greatest(lit(1L), expr(s"(total_bytes + ${targetBytes - 1}) div $targetBytes")).as("n_shards"))
    docs.crossJoin(broadcast(total))
      .withColumn("shard", pmod(col("digest"), col("n_shards")))
      .groupBy("shard", "n_shards")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("shard_bytes"))
      .select("shard", "n_shards", "n_docs", "shard_bytes")
      .orderBy("shard")
  }

  def shardPlanSql(targetBytes: Long = 262144L): String =
    s"""WITH d AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |         CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS digest
       |  FROM documents),
       |t AS (
       |  SELECT CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       |         greatest(1, (CAST(sum(n_bytes) AS BIGINT) + ${targetBytes - 1}) // $targetBytes) AS n_shards
       |  FROM d)
       |SELECT digest % n_shards AS shard, n_shards,
       |       count(*) AS n_docs,
       |       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes
       |FROM d, t GROUP BY shard, n_shards ORDER BY shard""".stripMargin

  /** Corpus drift monitor: two snapshots (doc_id parity as the stand-in
    * for before/after a pipeline change) compared on their word-count
    * distributions — per-bucket shares and absolute share drift. The
    * per-bucket |Δshare| uses identical double operands on both engines;
    * a global TV distance is deliberately NOT computed (cross-row float
    * sum would be partition-order dependent). */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(
        (col("doc_id") % 2).as("snap"),
        least(lit(9L), (size(split(trim(col("text")), "\\s+")) / 20).cast("long")).as("bucket"))
    val perBucket = docs.groupBy("bucket")
      .agg(
        count(when(col("snap") === 0, 1)).as("n_t0"),
        count(when(col("snap") === 1, 1)).as("n_t1"))
    // totals as windows over the <=10-bucket rollup, not a second scan
    val wAll = Window.partitionBy(lit(1))
    perBucket
      .withColumn("tot0", sum(col("n_t0")).over(wAll))
      .withColumn("tot1", sum(col("n_t1")).over(wAll))
      .withColumn("share_t0", col("n_t0").cast("double") / col("tot0").cast("double"))
      .withColumn("share_t1", col("n_t1").cast("double") / col("tot1").cast("double"))
      .withColumn("abs_drift", abs(col("share_t0") - col("share_t1")))
      .select("bucket", "n_t0", "n_t1", "share_t0", "share_t1", "abs_drift")
      .orderBy("bucket")
  }

  val qualityDriftSql: String =
    """WITH b AS (
      |  SELECT doc_id % 2 AS snap,
      |         least(9, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) // 20) AS bucket
      |  FROM documents),
      |per_bucket AS (
      |  SELECT bucket,
      |         count(CASE WHEN snap = 0 THEN 1 END) AS n_t0,
      |         count(CASE WHEN snap = 1 THEN 1 END) AS n_t1
      |  FROM b GROUP BY bucket),
      |t AS (
      |  SELECT count(CASE WHEN snap = 0 THEN 1 END) AS tot0,
      |         count(CASE WHEN snap = 1 THEN 1 END) AS tot1
      |  FROM b)
      |SELECT bucket, n_t0, n_t1,
      |       CAST(n_t0 AS DOUBLE) / CAST(tot0 AS DOUBLE) AS share_t0,
      |       CAST(n_t1 AS DOUBLE) / CAST(tot1 AS DOUBLE) AS share_t1,
      |       abs(CAST(n_t0 AS DOUBLE) / CAST(tot0 AS DOUBLE)
      |         - CAST(n_t1 AS DOUBLE) / CAST(tot1 AS DOUBLE)) AS abs_drift
      |FROM per_bucket, t ORDER BY bucket""".stripMargin

  /** Sequence packing: documents packed into fixed token-budget bins
    * (2048 words here) in deterministic digest order within each source —
    * the batch-construction step before training. Pack id is the floor of
    * the exclusive running token sum over the budget, so packs fill
    * greedily in order; the window partitions by source (the shuffle
    * key), never globally. Output: per-pack fill statistics. */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 2048L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("digest", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(col("text")).as("digest"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      .withColumn("prior", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"prior div $budget"))
      .groupBy("source", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("pack_tokens"))
      .withColumn("fill_ratio",
        col("pack_tokens").cast("double") / budget.toDouble)
      .orderBy("source", "pack_id")
  }

  def packSequencesSql(budget: Long = 2048L): String =
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(text) AS digest,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens
       |  FROM documents),
       |runsum AS (
       |  SELECT doc_id, source, tokens,
       |         coalesce(CAST(sum(tokens) OVER (PARTITION BY source ORDER BY digest, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prior
       |  FROM d)
       |SELECT source, prior // $budget AS pack_id,
       |       count(*) AS n_docs,
       |       CAST(sum(tokens) AS BIGINT) AS pack_tokens,
       |       CAST(sum(tokens) AS DOUBLE) / $budget.0 AS fill_ratio
       |FROM runsum GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin

  /** Zipf-law naturalness check — log-free: natural language keeps
    * rank × frequency roughly constant over the vocabulary head
    * (Zipf's law with exponent ≈ 1), so the coefficient of variation of
    * r·f(r) over the top-100 terms separates organic text (low CV) from
    * templated/keyword-stuffed corpora (head terms wildly over- or
    * under-represented). Deliberately transcendental-free (no log-log
    * slope fit): r·f products are exact longs, the CV is
    * √(n·Σx²−(Σx)²)/Σx over those exact sums — bit-portable where a
    * libm-based regression is not.
    *
    * Scale shape: term counts are one vocab shuffle; the head is a
    * TakeOrdered 100 rows collected into ONE array row and re-exploded
    * for ranks — no global rank window over the vocabulary, and
    * everything after the top-k runs on 100 rows. */
  def zipfCheck(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val head = Tables.load(spark, dir, "documents")
      .select(explode(split(normText(col("text")), " ")).as("term"))
      .where(length(col("term")) >= 1)
      .groupBy("term").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term"))
      .limit(topK)
    head
      .agg(sort_array(collect_list(struct((-col("f")).as("nf"), col("term"), col("f"))))
        .as("hd"))
      .select(posexplode(col("hd")).as(Seq("pos", "e")))
      .select(((col("pos") + 1L) * col("e.f")).as("rf"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("rf")).as("s1"),
        sum(col("rf") * col("rf")).as("s2"),
        min(col("rf")).as("min_rf"),
        max(col("rf")).as("max_rf"))
      .select(
        col("n_terms"),
        (col("s1").cast("double") / col("n_terms").cast("double")).as("mean_rf"),
        col("min_rf"), col("max_rf"),
        (sqrt(col("n_terms").cast("double") * col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double"))
          / col("s1").cast("double")).as("cv_rf"))
  }

  def zipfCheckSql(topK: Int = 100): String =
    s"""WITH terms AS (
       |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
       |  FROM documents),
       |counts AS (
       |  SELECT term, count(*) AS f FROM terms WHERE length(term) >= 1
       |  GROUP BY term ORDER BY f DESC, term LIMIT $topK),
       |hd AS (SELECT list(struct_pack(nf := -f, term := term, f := f) ORDER BY -f, term) AS hd FROM counts),
       |ranked AS (
       |  SELECT (i) * e.f AS rf FROM (
       |    SELECT unnest(hd) AS e, unnest(generate_series(1, len(hd))) AS i FROM hd)),
       |agg AS (
       |  SELECT count(*) AS n_terms,
       |         CAST(sum(rf) AS BIGINT) AS s1,
       |         CAST(sum(rf * rf) AS BIGINT) AS s2,
       |         CAST(min(rf) AS BIGINT) AS min_rf,
       |         CAST(max(rf) AS BIGINT) AS max_rf
       |  FROM ranked)
       |SELECT n_terms,
       |       CAST(s1 AS DOUBLE) / CAST(n_terms AS DOUBLE) AS mean_rf,
       |       min_rf, max_rf,
       |       sqrt(CAST(n_terms AS DOUBLE) * CAST(s2 AS DOUBLE)
       |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(s1 AS DOUBLE) AS cv_rf
       |FROM agg""".stripMargin

  /** Packing-efficiency rollup of [[packSequences]] — the batch-assembly
    * QA row per source: pack count, packed token volume, and the
    * efficiency total_tokens/(n_packs·budget) (how much of the training
    * batch the packer actually fills), with the min/max per-pack fill as
    * the tail indicators. A source whose efficiency sags (long docs
    * straddling bins) either needs [[chunkDocuments]] upstream or a
    * bigger budget; this row is how that decision is priced.
    *
    * Scale shape: an aggregation over the pack table — |packs| rows,
    * already bounded by corpus_tokens/budget; the division runs on the
    * |sources|-row result. */
  def packEfficiency(spark: SparkSession, dir: String, budget: Long = 2048L): DataFrame =
    packSequences(spark, dir, budget)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("pack_tokens")).as("total_tokens"),
        min(col("fill_ratio")).as("min_fill"),
        max(col("fill_ratio")).as("max_fill"))
      .withColumn("efficiency",
        col("total_tokens").cast("double") /
          (col("n_packs") * lit(budget)).cast("double"))
      .orderBy("source")

  def packEfficiencySql(budget: Long = 2048L): String =
    s"""WITH packs AS (
       |${packSequencesSql(budget).linesIterator.map("  " + _).mkString("\n")}
       |)
       |SELECT source, count(*) AS n_packs,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       |       min(fill_ratio) AS min_fill,
       |       max(fill_ratio) AS max_fill,
       |       CAST(sum(pack_tokens) AS DOUBLE) / CAST(count(*) * $budget AS DOUBLE) AS efficiency
       |FROM packs GROUP BY source ORDER BY source""".stripMargin

  /** Per-language charset profile: letter / digit / punctuation / space
    * shares — the multilingual slice of quality scoring (script mix is
    * the first filter for mislabeled-language documents). Exact integer
    * class counts; ratios are double divisions of identical operands. */
  def charStats(spark: SparkSession, dir: String): DataFrame = {
    def classLen(pat: String) =
      sum(size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
    Tables.load(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        classLen("[A-Za-z]").as("n_letters"),
        classLen("[0-9]").as("n_digits"),
        classLen("[^A-Za-z0-9 ]").as("n_other"))
      .withColumn("letter_ratio",
        col("n_letters").cast("double") / col("n_chars").cast("double"))
      .withColumn("digit_ratio",
        col("n_digits").cast("double") / col("n_chars").cast("double"))
      .orderBy("lang")
  }

  val charStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]'))) AS BIGINT) AS n_letters,
      |       CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT) AS n_digits,
      |       CAST(sum(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))) AS BIGINT) AS n_other,
      |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]'))) AS DOUBLE)
      |         / CAST(sum(length(text)) AS DOUBLE) AS letter_ratio,
      |       CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS DOUBLE)
      |         / CAST(sum(length(text)) AS DOUBLE) AS digit_ratio
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Exact-duplicate rate per source: the per-source slice of the dataset
    * card's dup count — which sources ship redundant content and how much
    * of their token volume dedup would reclaim. One hash aggregation. */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), md5(normText(col("text"))).as("sig"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("sig")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("sig"))).as("n_dups"),
        sum(col("tokens")).as("total_tokens"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs").cast("double"))
      .orderBy("source")

  val dupRateBySourceSql: String =
    """WITH d AS (
      |  SELECT source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS sig,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |       count(DISTINCT sig) AS n_distinct,
      |       count(*) - count(DISTINCT sig) AS n_dups,
      |       CAST(sum(tokens) AS BIGINT) AS total_tokens,
      |       CAST(count(*) - count(DISTINCT sig) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Top word bigrams across the corpus. */
  def ngrams(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("w", split(normText(col("text")), " "))
    val w = col("w")
    val bigrams = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array())
    docs.select(explode(bigrams).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topK)
  }

  /** PII pre-screen per source: how many documents carry long digit runs
    * (phone/account-number shaped), @-marks (email-shaped), and the total
    * count of digit-run hits — the scan a governance pipeline runs to
    * decide where masking (see cdc_mask_policy) must apply before
    * training. Regex stays in the POSIX-classless subset that Java and
    * RE2-style engines treat identically. One scan, one aggregation. */
  def piiScan(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit("[0-9]{4,}"), lit(0))).cast("long").as("digit_runs"),
        col("text").contains("@").as("has_at"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("digit_runs") > 0, 1)).as("n_digit_docs"),
        count(when(col("has_at"), 1)).as("n_at_docs"),
        sum(col("digit_runs")).as("total_digit_runs"))
      .orderBy("source")

  /** PII redaction — the APPLY step downstream of [[piiScan]]'s
    * where-to-mask decision (and the free-text twin of the reference's
    * column-level masking, sink_config mask policies): email-shaped
    * spans are replaced first, then long digit runs, each with a typed
    * placeholder token, in that fixed order on both engines (emails
    * contain digits — the order is part of the contract). Output is the
    * per-document evidence a governance reviewer audits: hit counts per
    * category, the exact char delta, and the head of the redacted text.
    * Regexes stay in the Java∩RE2 subset ([[piiScan]]'s constraint).
    *
    * Scale shape: pure per-row string work inside one codegen stage —
    * zero shuffles before the output sort; redaction runs at scan
    * throughput on any corpus size. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOf(Tables.load(spark, dir, "documents"))

  /** [[piiRedact]]'s core transform over any (doc_id, text) frame —
    * split out so the redaction semantics are testable on corpora that
    * actually contain PII-shaped spans (the generated test corpus has
    * none; there the operator is an audited pass-through). */
  def piiRedactOf(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val digits = "[0-9]{4,}"
    docs
      .select(col("doc_id"),
        length(col("text")).cast("long").as("orig_chars"),
        size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long").as("n_email_hits"),
        regexp_replace(col("text"), email, "<EMAIL>").as("t1"))
      .select(col("doc_id"), col("orig_chars"), col("n_email_hits"),
        size(regexp_extract_all(col("t1"), lit(digits), lit(0))).cast("long").as("n_digit_hits"),
        regexp_replace(col("t1"), digits, "<NUM>").as("redacted"))
      .select(col("doc_id"), col("n_email_hits"), col("n_digit_hits"),
        col("orig_chars"),
        length(col("redacted")).cast("long").as("redacted_chars"),
        substring(col("redacted"), 1, 80).as("redacted_head"))
      .orderBy("doc_id")
  }

  val piiRedactSql: String =
    """WITH r1 AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS orig_chars,
      |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_email_hits,
      |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g') AS t1
      |  FROM documents),
      |r2 AS (
      |  SELECT doc_id, orig_chars, n_email_hits,
      |         CAST(len(regexp_extract_all(t1, '[0-9]{4,}')) AS BIGINT) AS n_digit_hits,
      |         regexp_replace(t1, '[0-9]{4,}', '<NUM>', 'g') AS redacted
      |  FROM r1)
      |SELECT doc_id, n_email_hits, n_digit_hits, orig_chars,
      |       CAST(length(redacted) AS BIGINT) AS redacted_chars,
      |       substr(redacted, 1, 80) AS redacted_head
      |FROM r2 ORDER BY doc_id""".stripMargin

  /** Context-window chunking: split each document into fixed-size word
    * windows (chunk 100, stride 75 — 25-word overlap), the sequence-prep
    * step before tokenization/packing. Pure per-row arithmetic + explode:
    * no shuffle at all until the output sort, so it streams at any scale;
    * chunk counts are integer math both engines share exactly. */
  def chunkDocuments(spark: SparkSession, dir: String,
                     chunk: Int = 100, stride: Int = 75): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
      .withColumn("n_chunks",
        expr(s"greatest(0L, n_words - $chunk + ${stride - 1}) div $stride") + 1L)
      .select(col("doc_id"), col("n_words"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_word"),
        least(lit(chunk.toLong), col("n_words") - col("chunk_idx") * stride).as("chunk_words"))
      .orderBy("doc_id", "chunk_idx")

  def chunkDocumentsSql(chunk: Int = 100, stride: Int = 75): String =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words
       |  FROM documents),
       |n AS (SELECT doc_id, n_words,
       |             greatest(0, n_words - $chunk + ${stride - 1}) // $stride + 1 AS n_chunks
       |      FROM w)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |       CAST(i AS BIGINT) * $stride AS start_word,
       |       least($chunk, n_words - CAST(i AS BIGINT) * $stride) AS chunk_words
       |FROM (SELECT doc_id, n_words, unnest(generate_series(0, n_chunks - 1)) AS i FROM n)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Deterministic stratified sampling: each source gets a digest-derived
    * keep-rate (25–74 %), each document a content-digest bucket; keep iff
    * bucket < rate. Reproducible under resharding (no RNG state), and the
    * per-source realized rate converges on the target — the mix-control
    * step a training pipeline uses to rebalance sources. One scan + one
    * aggregation. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long") % 50 + 25
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
    Tables.load(spark, dir, "documents")
      .select(col("source"), rate.as("rate_pct"), (bucket < rate).as("keep"))
      .groupBy("source", "rate_pct")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_kept"))
      .withColumn("realized_pct",
        col("n_kept").cast("double") * 100.0 / col("n_docs").cast("double"))
      .orderBy("source")
  }

  val sampleStratifiedSql: String =
    """WITH b AS (
      |  SELECT source,
      |         CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 50 + 25 AS rate_pct,
      |         CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |SELECT source, rate_pct, count(*) AS n_docs,
      |       count(CASE WHEN bucket < rate_pct THEN 1 END) AS n_kept,
      |       CAST(count(CASE WHEN bucket < rate_pct THEN 1 END) AS DOUBLE) * 100.0
      |         / CAST(count(*) AS DOUBLE) AS realized_pct
      |FROM b GROUP BY source, rate_pct ORDER BY source""".stripMargin

  /** Token-budget allocation: give every source an equal share of a fixed
    * corpus token budget and compute the keep-probability that hits it —
    * the planning table behind down-sampling over-represented sources.
    * Two aggregations (per-source totals + a broadcast 1-row source
    * count); ratios are double divisions of exact integers. */
  def tokenBudget(spark: SparkSession, dir: String, budget: Long = 1000000L): DataFrame = {
    val perSource = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    // source count as a window over the |sources|-row aggregate, not a
    // re-planned crossJoin(broadcast(perSource.agg))
    perSource
      .withColumn("n_sources",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .withColumn("share", expr(s"${budget}L div n_sources"))
      .withColumn("keep_prob",
        least(lit(1.0), col("share").cast("double") / col("total_tokens").cast("double")))
      .withColumn("projected_tokens", least(col("total_tokens"), col("share")))
      .select("source", "n_docs", "total_tokens", "share", "keep_prob", "projected_tokens")
      .orderBy("source")
  }

  def tokenBudgetSql(budget: Long = 1000000L): String =
    s"""WITH per_source AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens
       |  FROM documents GROUP BY source),
       |n AS (SELECT count(*) AS n_sources FROM per_source)
       |SELECT source, n_docs, total_tokens,
       |       $budget // n_sources AS share,
       |       least(1.0, CAST($budget // n_sources AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS keep_prob,
       |       least(total_tokens, $budget // n_sources) AS projected_tokens
       |FROM per_source, n ORDER BY source""".stripMargin

  /** Domain-mixture reweighting (DoReMi-flavor, determinized): per-source
    * sampling weights that move the mix from the corpus's natural token
    * shares toward quality-proportional target shares. The quality signal
    * is an exact INTEGER (count of docs clearing the quality-score bar) —
    * a cross-row double sum would be float-accumulation-order dependent
    * across engines/partitionings, a per-source count is not. Weights and
    * shares are then double divisions of exact longs.
    *
    * Scale shape: one scan, one partial-aggregated shuffle on the small
    * source key, grand totals as windows over the |sources|-row
    * aggregate (a crossJoin(broadcast(perSource.agg)) would plan the
    * scan+aggregation twice — the unshared-subtree trap). */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        when(qualityScoreCol >= 1.0, 1L).otherwise(0L).as("good"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("good")).as("good_docs"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perSource
      .withColumn("corpus_tokens", sum(col("total_tokens")).over(wAll))
      .withColumn("corpus_good", sum(col("good_docs")).over(wAll))
      .withColumn("current_share",
        col("total_tokens").cast("double") / col("corpus_tokens").cast("double"))
      .withColumn("target_share",
        col("good_docs").cast("double") / col("corpus_good").cast("double"))
      .withColumn("mix_weight", col("target_share") / col("current_share"))
      .select("source", "n_docs", "total_tokens", "good_docs",
        "current_share", "target_share", "mix_weight")
      .orderBy("source")
  }

  /** Vocabulary coverage curve — the vocab-size decision table: for each
    * candidate vocabulary size k ∈ {100, 1k, 10k, 100k}, the share of
    * corpus TOKENS the k most frequent terms cover (the number that
    * prices OOV/byte-fallback rates before committing a tokenizer).
    * Computed SCALE-CORRECTLY through the count-of-counts distribution
    * — the [[graft.cdc.Monitoring.hotKeyShare]] trick: term counts
    * collapse to (occurrences → n_terms) rows bounded by the DISTINCT
    * count values, the cumulative tail is read off that table with the
    * boundary level fractionally attributed, and no billion-term global
    * rank ever exists.
    *
    * Scale shape: one term aggregation (map-side combined), one
    * count-of-counts aggregation, tiny windows over the bounded
    * count-of-counts rows, a broadcast 4-row k spine. */
  def vocabCoverageCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perTerm = Tables.load(spark, dir, "documents")
      .select(explode(split(normText(col("text")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val coc = perTerm.groupBy("cnt").agg(count(lit(1)).as("n_terms"))
    val wPrev = org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val cum = coc
      .withColumn("terms_above", coalesce(sum(col("n_terms")).over(wPrev), lit(0L)))
      .withColumn("vocab_size", sum(col("n_terms")).over(wAll))
      .withColumn("n_tokens", sum(col("cnt") * col("n_terms")).over(wAll))
    val ks = Seq(100L, 1000L, 10000L, 100000L).toDF("k")
    cum.crossJoin(broadcast(ks))
      .where(col("terms_above") < col("k"))
      .withColumn("take_here", least(col("n_terms"), col("k") - col("terms_above")))
      .groupBy("k")
      .agg(max(col("vocab_size")).as("vocab_size"),
        max(col("n_tokens")).as("n_tokens"),
        sum(col("take_here") * col("cnt")).as("covered_tokens"))
      .select(col("k").as("vocab_k"), col("vocab_size"), col("n_tokens"),
        col("covered_tokens"),
        (col("covered_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("coverage_share"))
      .orderBy("vocab_k")
  }

  val vocabCoverageCurveSql: String =
    """WITH t AS (
      |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |per AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
      |coc AS (SELECT cnt, count(*) AS n_terms FROM per GROUP BY cnt),
      |cum AS (
      |  SELECT cnt, n_terms,
      |         coalesce(sum(n_terms) OVER (ORDER BY cnt DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS terms_above,
      |         sum(n_terms) OVER () AS vocab_size,
      |         sum(cnt * n_terms) OVER () AS n_tokens
      |  FROM coc),
      |ks AS (SELECT unnest([100, 1000, 10000, 100000]) AS k)
      |SELECT CAST(k AS BIGINT) AS vocab_k,
      |       CAST(max(vocab_size) AS BIGINT) AS vocab_size,
      |       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
      |       CAST(sum(least(n_terms, k - terms_above) * cnt) AS BIGINT) AS covered_tokens,
      |       CAST(sum(least(n_terms, k - terms_above) * cnt) AS DOUBLE)
      |         / CAST(max(n_tokens) AS DOUBLE) AS coverage_share
      |FROM cum, ks WHERE terms_above < k
      |GROUP BY k ORDER BY vocab_k""".stripMargin

  /** Quality × length joint grid — the gate-correlation table: corpus
    * counts over (quality tier × token-length bucket) cells with each
    * cell's independence LIFT (observed share ÷ row-share·col-share).
    * The question it answers before stacking a quality gate on a length
    * filter: are the two gates independent (lift ≈ 1 everywhere), or
    * does the quality cut silently fall on long documents (lift ≫ 1 in
    * the low×long cells) so the stacked filters over-remove one stratum?
    *
    * Exactness: counts are integers; shares and lift are fixed-order
    * double ratios over a 1-row broadcast total. Empty documents are
    * pinned to the low tier by an explicit guard on BOTH engines (the
    * score's 0/0 would otherwise go NaN, and the engines disagree on
    * NaN comparisons).
    *
    * Scale shape: one scan into a ≤15-cell aggregation; row/col/total
    * windows run over that bounded grid only. */
  def qualityLengthGrid(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(trim(col("text")), "\\s+")).cast("long")
    val score = qualityScoreCol
    val tier = when(length(col("text")) === 0, lit("low"))
      .when(score >= 1.5, lit("high"))
      .when(score >= 0.5, lit("mid"))
      .otherwise(lit("low"))
    val lenB = when(nTok < 64L, lit("a_lt_64"))
      .when(nTok < 256L, lit("b_64_255"))
      .when(nTok < 1024L, lit("c_256_1023"))
      .when(nTok < 4096L, lit("d_1024_4095"))
      .otherwise(lit("e_gte_4096"))
    val cells = Tables.load(spark, dir, "documents")
      .select(tier.as("quality_tier"), lenB.as("length_bucket"), nTok.as("n_tokens"))
      .groupBy("quality_tier", "length_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val rowW = org.apache.spark.sql.expressions.Window.partitionBy("quality_tier")
    val colW = org.apache.spark.sql.expressions.Window.partitionBy("length_bucket")
    cells
      .withColumn("tot_docs", sum(col("n_docs")).over(tot))
      .withColumn("row_docs", sum(col("n_docs")).over(rowW))
      .withColumn("col_docs", sum(col("n_docs")).over(colW))
      .select(col("quality_tier"), col("length_bucket"),
        col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("tot_docs").cast("double")).as("doc_share"),
        ((col("n_docs").cast("double") * col("tot_docs").cast("double"))
          / (col("row_docs").cast("double") * col("col_docs").cast("double"))).as("lift"))
      .orderBy("quality_tier", "length_bucket")
  }

  def qualityLengthGridSql: String =
    s"""WITH f AS (
       |  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         string_split_regex(lower(trim(text)), '\\s+') AS words,
       |         CAST(length(text) AS DOUBLE) AS nchars,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct
       |  FROM documents),
       |g AS (
       |  SELECT n_tokens, nchars, npunct,
       |         CAST(len(words) AS DOUBLE) AS nwords,
       |         CAST(len(list_filter(words, w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS nstop
       |  FROM f),
       |t AS (
       |  SELECT CASE WHEN nchars = 0 THEN 'low'
       |              WHEN (nstop / nwords) * 2.0 - (npunct / nchars) * 0.5 +
       |                   CASE WHEN nwords >= 10.0 THEN 1.0 ELSE 0.0 END >= 1.5 THEN 'high'
       |              WHEN (nstop / nwords) * 2.0 - (npunct / nchars) * 0.5 +
       |                   CASE WHEN nwords >= 10.0 THEN 1.0 ELSE 0.0 END >= 0.5 THEN 'mid'
       |              ELSE 'low' END AS quality_tier,
       |         CASE WHEN n_tokens < 64 THEN 'a_lt_64'
       |              WHEN n_tokens < 256 THEN 'b_64_255'
       |              WHEN n_tokens < 1024 THEN 'c_256_1023'
       |              WHEN n_tokens < 4096 THEN 'd_1024_4095'
       |              ELSE 'e_gte_4096' END AS length_bucket,
       |         n_tokens
       |  FROM g),
       |cells AS (
       |  SELECT quality_tier, length_bucket, count(*) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY quality_tier, length_bucket)
       |SELECT quality_tier, length_bucket, n_docs, n_tokens,
       |       CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share,
       |       (CAST(n_docs AS DOUBLE) * CAST(sum(n_docs) OVER () AS DOUBLE))
       |         / (CAST(sum(n_docs) OVER (PARTITION BY quality_tier) AS DOUBLE)
       |            * CAST(sum(n_docs) OVER (PARTITION BY length_bucket) AS DOUBLE)) AS lift
       |FROM cells ORDER BY quality_tier, length_bucket""".stripMargin

  /** Word-length histogram per language — the char-level signal that
    * drives tokenizer/vocab choices (agglutinative-looking exports need
    * different BPE merges than analytic ones) and catches mislabeled or
    * machine-garbled languages as a shifted length profile. Per (lang,
    * word length): token count, within-language share, and cumulative
    * share; lengths capped at 32 (the tail bucket) so the output stays
    * a ≤|langs|·33 grid.
    *
    * Scale shape: one token explode into a (lang, length) map-side-
    * combined aggregation; share/cumulative windows partition on lang
    * over the bounded grid. */
  def wordLengthHist(spark: SparkSession, dir: String): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val cum = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy("word_len")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.load(spark, dir, "documents")
      .select(col("lang"),
        explode(split(normText(col("text")), " ")).as("term"))
      .select(col("lang"), least(length(col("term")), lit(32)).as("word_len"))
      .groupBy("lang", "word_len")
      .agg(count(lit(1)).as("n_tokens"))
      .withColumn("share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(byLang).cast("double"))
      .withColumn("cum_share",
        sum(col("n_tokens")).over(cum).cast("double")
          / sum(col("n_tokens")).over(byLang).cast("double"))
      .orderBy("lang", "word_len")
  }

  val wordLengthHistSql: String =
    """WITH t AS (
      |  SELECT lang,
      |         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |g AS (
      |  SELECT lang, least(length(term), 32) AS word_len, count(*) AS n_tokens
      |  FROM t GROUP BY lang, least(length(term), 32))
      |SELECT lang, word_len, n_tokens,
      |       CAST(n_tokens AS DOUBLE)
      |         / CAST(sum(n_tokens) OVER (PARTITION BY lang) AS DOUBLE) AS share,
      |       CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY word_len
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         / CAST(sum(n_tokens) OVER (PARTITION BY lang) AS DOUBLE) AS cum_share
      |FROM g ORDER BY lang, word_len""".stripMargin

  /** Simpson lexical-concentration profile — the log-free diversity
    * axis per source: the unbiased Simpson index λ = Σc(c−1)/(N(N−1))
    * (the probability two tokens drawn WITHOUT replacement are the same
    * term — Simpson 1949), the effective vocabulary N²/Σc² (inverse of
    * the biased index: the "as if uniform" term count), the top-term
    * share, and the plain type-token ratio. A template-y or boilerplate
    * source shows high λ / tiny effective vocabulary long before its
    * TTR looks unusual; entropy would need a log, λ needs only exact
    * integer sums.
    *
    * Exactness: term counts are integers; Σc², Σc(c−1) and N(N−1)
    * accumulate as DECIMAL(38,0) (counts cast before the multiply);
    * every output ratio is fixed-order double math over those exact
    * sums, bit-identical across engines.
    *
    * Scale shape: one token explode, one (source, term) map-side-
    * combined aggregation (the only big shuffle), one ≤|sources|
    * rollup. No windows, no joins. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val d38 = "decimal(38,0)"
    val terms = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(split(normText(col("text")), " ")).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
    val rolled = terms.groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("c").cast(d19)).cast(d38).as("nt"),
        sum(col("c").cast(d19) * col("c").cast(d19)).cast(d38).as("c2"),
        sum(col("c").cast(d19) * (col("c").cast(d19) - 1)).cast(d38).as("cc1"),
        max(col("c")).as("cmax"))
    val ntD = col("nt").cast("double")
    rolled.select(
      col("source"),
      col("nt").cast("long").as("n_tokens"),
      col("n_terms"),
      when(col("nt") > 1,
        col("cc1").cast("double") / (ntD * (ntD - lit(1.0))))
        .as("simpson_lambda"),
      (lit(1.0) / (col("c2").cast("double") / (ntD * ntD)))
        .as("effective_vocab"),
      (col("cmax").cast("double") / ntD).as("top_term_share"),
      (col("n_terms").cast("double") / ntD).as("ttr"))
      .orderBy("source")
  }

  val simpsonDiversitySql: String =
    """WITH t AS (
      |  SELECT source,
      |         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |per AS (SELECT source, term, count(*) AS c FROM t GROUP BY source, term),
      |r AS (
      |  SELECT source, count(*) AS n_terms,
      |         CAST(sum(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS nt,
      |         CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS c2,
      |         CAST(sum(CAST(c AS DECIMAL(19,0)) * (CAST(c AS DECIMAL(19,0)) - 1)) AS DECIMAL(38,0)) AS cc1,
      |         max(c) AS cmax
      |  FROM per GROUP BY source)
      |SELECT source,
      |       CAST(nt AS BIGINT) AS n_tokens,
      |       n_terms,
      |       CASE WHEN nt > 1
      |            THEN CAST(cc1 AS DOUBLE) / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0))
      |       END AS simpson_lambda,
      |       1.0 / (CAST(c2 AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)))
      |         AS effective_vocab,
      |       CAST(cmax AS DOUBLE) / CAST(nt AS DOUBLE) AS top_term_share,
      |       CAST(n_terms AS DOUBLE) / CAST(nt AS DOUBLE) AS ttr
      |FROM r ORDER BY source""".stripMargin

  /** Training-mix balance — the one-look concentration summary over
    * each mix axis (source, lang): HHI (Σ share²), effective group
    * count 1/HHI ("as if equal"), and the top group's share, computed
    * over BOTH docs and tokens — a mix can look balanced by document
    * count while one source owns the token mass. The decision input
    * for [[temperatureMix]]/[[mixAnneal]]: effective_groups far below
    * n_groups says flatten before training.
    *
    * Exactness: group counts and token sums are integers; Σc² and the
    * squared totals stay in DECIMAL(38,0) (counts cast to decimal
    * BEFORE the square — long·long wraps at ~3e9-doc groups, real at
    * corpus scale); each HHI is ONE fixed-order double division, and
    * effective_groups is textually 1/that-same-expression on both
    * engines.
    *
    * Scale shape: one scan with the axis spine exploded per doc (2×
    * rows pre-agg, map-side combined to ≤|sources|+|langs| keys), then
    * a 2-row fold. No window, no join. */
  def mixBalance(spark: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val d38 = "decimal(38,0)"
    val doubled = Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .select(explode(array(
        struct(lit("lang").as("axis"), col("lang").as("k")),
        struct(lit("source").as("axis"), col("source").as("k")))).as("a"),
        col("n_tokens"))
      .select(col("a.axis").as("axis"), col("a.k").as("k"), col("n_tokens"))
    val per = doubled.groupBy("axis", "k")
      .agg(count(lit(1)).as("c"), sum(col("n_tokens")).as("t"))
    val rolled = per.groupBy("axis")
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("c").cast(d19)).cast(d38).as("nd"),
        sum(col("c").cast(d19) * col("c").cast(d19)).cast(d38).as("cd2"),
        max(col("c")).as("cmax"),
        sum(col("t").cast(d19)).cast(d38).as("nt"),
        sum(col("t").cast(d19) * col("t").cast(d19)).cast(d38).as("td2"),
        max(col("t")).as("tmax"))
    val ndD = col("nd").cast("double")
    val ntD = col("nt").cast("double")
    val docHhi = col("cd2").cast("double") / (ndD * ndD)
    val tokHhi = col("td2").cast("double") / (ntD * ntD)
    rolled.select(
      col("axis"), col("n_groups"),
      col("nd").cast("long").as("n_docs"),
      docHhi.as("doc_hhi"),
      (lit(1.0) / docHhi).as("doc_effective_groups"),
      (col("cmax").cast("double") / ndD).as("doc_top_share"),
      col("nt").cast("long").as("total_tokens"),
      tokHhi.as("token_hhi"),
      (lit(1.0) / tokHhi).as("token_effective_groups"),
      (col("tmax").cast("double") / ntD).as("token_top_share"))
      .orderBy("axis")
  }

  val mixBalanceSql: String =
    """WITH b AS (
      |  SELECT source, lang,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |u AS (
      |  SELECT 'source' AS axis, source AS k, n_tokens FROM b
      |  UNION ALL
      |  SELECT 'lang' AS axis, lang AS k, n_tokens FROM b),
      |per AS (
      |  SELECT axis, k, count(*) AS c, sum(n_tokens) AS t
      |  FROM u GROUP BY axis, k),
      |r AS (
      |  SELECT axis, count(*) AS n_groups,
      |         CAST(sum(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS nd,
      |         CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS cd2,
      |         max(c) AS cmax,
      |         CAST(sum(CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS nt,
      |         CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS td2,
      |         max(t) AS tmax
      |  FROM per GROUP BY axis)
      |SELECT axis, n_groups,
      |       CAST(nd AS BIGINT) AS n_docs,
      |       CAST(cd2 AS DOUBLE) / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)) AS doc_hhi,
      |       1.0 / (CAST(cd2 AS DOUBLE) / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE))) AS doc_effective_groups,
      |       CAST(cmax AS DOUBLE) / CAST(nd AS DOUBLE) AS doc_top_share,
      |       CAST(nt AS BIGINT) AS total_tokens,
      |       CAST(td2 AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)) AS token_hhi,
      |       1.0 / (CAST(td2 AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))) AS token_effective_groups,
      |       CAST(tmax AS DOUBLE) / CAST(nt AS DOUBLE) AS token_top_share
      |FROM r ORDER BY axis""".stripMargin

  /** Power-of-two document-length histogram — the context-window
    * planning table: documents bucketed by floor(log2(tokens)) so an
    * operator can read off directly how much of the corpus fits a 2k /
    * 4k / 8k window, how much needs [[chunkDocuments]], and where the
    * packing waste will come from. The log2 is a generated CASE ladder
    * over the power-of-two boundaries (both engines run the identical
    * integer comparisons — no libm in the bucket function).
    *
    * Scale shape: pure per-row bucketing, one ≤18-key aggregation. */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame = {
    val maxBucket = 17 // 2^17 = 128k tokens — beyond any sane document
    val toks = size(split(trim(col("text")), "\\s+")).cast("long")
    val bucket = (1 to maxBucket).foldLeft(lit(0L)) { (acc, b) =>
      when(toks >= (1L << b), lit(b.toLong)).otherwise(acc)
    }
    Tables.load(spark, dir, "documents")
      .select(bucket.as("log2_bucket"), toks.as("n_tokens"))
      .groupBy("log2_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .withColumn("bucket_floor", expr("cast(pow(2, log2_bucket) as bigint)"))
      .select("log2_bucket", "bucket_floor", "n_docs", "total_tokens",
        "min_tokens", "max_tokens")
      .orderBy("log2_bucket")
  }

  val tokenHistogramSql: String = {
    val maxBucket = 17
    val ladder = (1 to maxBucket).foldLeft("0") { (acc, b) =>
      s"CASE WHEN nt >= ${1L << b} THEN $b ELSE $acc END"
    }
    s"""WITH d AS (
       |  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt
       |  FROM documents),
       |b AS (SELECT nt, CAST($ladder AS BIGINT) AS log2_bucket FROM d)
       |SELECT log2_bucket,
       |       CAST(pow(2, log2_bucket) AS BIGINT) AS bucket_floor,
       |       count(*) AS n_docs,
       |       CAST(sum(nt) AS BIGINT) AS total_tokens,
       |       CAST(min(nt) AS BIGINT) AS min_tokens,
       |       CAST(max(nt) AS BIGINT) AS max_tokens
       |FROM b GROUP BY log2_bucket ORDER BY log2_bucket""".stripMargin
  }

  /** Vocabulary-growth (Heaps-law) checkpoints: split the corpus into 10
    * deterministic digest-deciles (a reproducible "ingest order"), and
    * per decile report how many NEVER-SEEN-BEFORE terms it contributes
    * and the cumulative vocabulary — the curve that says whether more
    * data still buys new vocabulary (Heaps exponent alive) or the corpus
    * has saturated into repetition (new_terms collapsing). Curators read
    * the elbow to size further crawling.
    *
    * Determinism: the decile is a pure digest function of the text (no
    * sampling); a term's first decile is an exact min. Scale shape: one
    * (term → min decile) shuffle over per-doc-distinct terms, then
    * everything runs on 10 rows — the cumulative sums are a 10×10
    * triangle join, NOT a window.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("text"),
        (conv(substring(md5(col("text")), 1, 2), 16, 10).cast("long") % 10).as("dec"))
    val perDec = docs.groupBy("dec").agg(count(lit(1)).as("n_docs"))
    val firsts = docs
      .select(col("dec"), explode(array_distinct(split(normText(col("text")), " "))).as("term"))
      .where(length(col("term")) >= 1)
      .groupBy("term").agg(min(col("dec")).as("dec"))
      .groupBy("dec").agg(count(lit(1)).as("new_terms"))
    val base = perDec.join(firsts, Seq("dec"), "left")
      .select(col("dec"), col("n_docs"), coalesce(col("new_terms"), lit(0L)).as("new_terms"))
    // dec = digest % 10 bounds base at 10 rows; the limit(10) is
    // semantics-preserving and puts that bound IN the plan, so the
    // nested-loop audit can prove the broadcast side bounded
    val b = base.select(col("dec").as("dec2"), col("n_docs").as("nd2"), col("new_terms").as("nt2"))
      .limit(10)
    base.join(broadcast(b), col("dec2") <= col("dec"))
      .groupBy("dec", "n_docs", "new_terms")
      .agg(sum(col("nd2")).as("docs_cum"), sum(col("nt2")).as("vocab_cum"))
      .select(col("dec").as("decile"), col("n_docs"), col("docs_cum"),
        col("new_terms"), col("vocab_cum"))
      .orderBy("decile")
  }

  val vocabGrowthSql: String =
    """WITH d AS (
      |  SELECT text, CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) % 10 AS dec FROM documents),
      |per_dec AS (SELECT dec, count(*) AS n_docs FROM d GROUP BY dec),
      |firsts AS (
      |  SELECT dec, count(*) AS new_terms FROM (
      |    SELECT term, min(dec) AS dec FROM (
      |      SELECT dec, unnest(list_distinct(
      |        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS term
      |      FROM d)
      |    WHERE length(term) >= 1 GROUP BY term)
      |  GROUP BY dec),
      |base AS (
      |  SELECT p.dec, p.n_docs, coalesce(f.new_terms, 0) AS new_terms
      |  FROM per_dec p LEFT JOIN firsts f USING (dec))
      |SELECT a.dec AS decile, a.n_docs,
      |       CAST(sum(b.n_docs) AS BIGINT) AS docs_cum,
      |       a.new_terms,
      |       CAST(sum(b.new_terms) AS BIGINT) AS vocab_cum
      |FROM base a JOIN base b ON b.dec <= a.dec
      |GROUP BY a.dec, a.n_docs, a.new_terms
      |ORDER BY decile""".stripMargin

  /** Two-phase anneal schedule — the mid-training mix switch in one
    * table: 80% of a one-epoch token budget is allocated at the corpus'
    * NATURAL share (phase 1, coverage), the final 20% at the
    * quality-derived TARGET share (phase 2, the anneal — the standard
    * "finish on your best data" pretraining move). Per source: both
    * phase allocations, the total, and the anneal boost (phase-2
    * sampling rate over phase-1 rate — >1 means the source is
    * up-weighted at the end).
    *
    * Determinism: phase budgets are integer div of the exact corpus
    * total; allocations are floor of identically-shaped double
    * expressions (budget × exact-long share ratio) — the same IEEE ops
    * on both engines. Scale shape: everything runs on [[domainMix]]'s
    * |sources|-row output with one broadcast totals row. */
  def mixAnneal(spark: SparkSession, dir: String): DataFrame = {
    val mix = domainMix(spark, dir).select(col("source"), col("total_tokens"), col("good_docs"))
    // totals as windows over the |sources|-row mix, not a re-planned
    // crossJoin(broadcast(mix.agg)) — mix embeds the corpus scan
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    mix
      .withColumn("ct", sum(col("total_tokens")).over(wAll))
      .withColumn("cg", sum(col("good_docs")).over(wAll))
      .withColumn("b1", expr("ct * 4 div 5"))
      .withColumn("b2", col("ct") - col("b1"))
      .withColumn("alloc_phase1",
        floor(col("b1").cast("double")
          * (col("total_tokens").cast("double") / col("ct").cast("double"))).cast("long"))
      .withColumn("alloc_phase2",
        floor(col("b2").cast("double")
          * (col("good_docs").cast("double") / col("cg").cast("double"))).cast("long"))
      .select(col("source"), col("alloc_phase1"), col("alloc_phase2"),
        (col("alloc_phase1") + col("alloc_phase2")).as("alloc_total"),
        when(col("alloc_phase1") > 0,
          (col("alloc_phase2").cast("double") / col("b2").cast("double"))
            / (col("alloc_phase1").cast("double") / col("b1").cast("double")))
          .as("anneal_boost"))
      .orderBy("source")
  }

  def mixAnnealSql: String =
    s"""WITH mix AS (
       |${domainMixSql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |tot AS (
       |  SELECT CAST(sum(total_tokens) AS BIGINT) AS ct,
       |         CAST(sum(good_docs) AS BIGINT) AS cg FROM mix),
       |b AS (SELECT ct, cg, ct * 4 // 5 AS b1, ct - ct * 4 // 5 AS b2 FROM tot),
       |alloc AS (
       |  SELECT source,
       |         CAST(floor(CAST(b1 AS DOUBLE)
       |           * (CAST(total_tokens AS DOUBLE) / CAST(ct AS DOUBLE))) AS BIGINT) AS alloc_phase1,
       |         CAST(floor(CAST(b2 AS DOUBLE)
       |           * (CAST(good_docs AS DOUBLE) / CAST(cg AS DOUBLE))) AS BIGINT) AS alloc_phase2,
       |         b1, b2
       |  FROM mix, b)
       |SELECT source, alloc_phase1, alloc_phase2,
       |       alloc_phase1 + alloc_phase2 AS alloc_total,
       |       CASE WHEN alloc_phase1 > 0 THEN
       |         (CAST(alloc_phase2 AS DOUBLE) / CAST(b2 AS DOUBLE))
       |           / (CAST(alloc_phase1 AS DOUBLE) / CAST(b1 AS DOUBLE))
       |       END AS anneal_boost
       |FROM alloc ORDER BY source""".stripMargin

  /** Mix-drift QA: ONE summary row saying how far the corpus' actual
    * token mix sits from its quality-derived target mix — the
    * post-sampling check that the reweighting ([[domainMix]]) actually
    * landed. `tv_distance` is the total-variation distance
    * Σ|current−target|/2 (0 = exactly on target, 1 = disjoint), with
    * each |gap| term 2⁴⁰-quantized before the cross-source sum so the
    * result is partition-order-independent and bit-equal to the oracle;
    * `max_gap_source` is the worst offender (quantized argmax, ties to
    * the larger source name — deterministic on both engines).
    *
    * Scale shape: everything is an aggregation over [[domainMix]]'s
    * |sources|-row output — the corpus-sized work is the shared mix
    * computation itself. */
  def mixDrift(spark: SparkSession, dir: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val mix = domainMix(spark, dir)
      .select(col("source"),
        abs(col("current_share") - col("target_share")).as("gap"))
      .withColumn("gapq",
        floor(col("gap") * Q).cast("long").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    mix.agg(
      count(lit(1)).as("n_sources"),
      (sum(col("gapq")).cast("double") / Q / 2.0).as("tv_distance"),
      max(col("gap")).as("max_gap"),
      graft.functions.GraftFunctions.maxByCol(mix,
        col("source"), struct(col("gapq"), col("source"))).as("max_gap_source"))
  }

  def mixDriftSql: String =
    s"""WITH mix AS (
       |${domainMixSql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |gaps AS (
       |  SELECT source, abs(current_share - target_share) AS gap,
       |         CAST(floor(abs(current_share - target_share) * 1099511627776.0) AS BIGINT) AS gapq
       |  FROM mix)
       |SELECT count(*) AS n_sources,
       |       CAST(sum(gapq) AS DOUBLE) / 1099511627776.0 / 2.0 AS tv_distance,
       |       max(gap) AS max_gap,
       |       (SELECT source FROM gaps ORDER BY gapq DESC, source DESC LIMIT 1) AS max_gap_source
       |FROM gaps""".stripMargin

  def domainMixSql: String =
    s"""WITH f AS (
       |  SELECT source,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         string_split_regex(lower(trim(text)), '\\s+') AS words,
       |         CAST(length(text) AS DOUBLE) AS nchars,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct
       |  FROM documents),
       |g AS (
       |  SELECT source, n_tokens, nchars, npunct,
       |         CAST(len(words) AS DOUBLE) AS nwords,
       |         CAST(len(list_filter(words, w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS nstop
       |  FROM f),
       |s AS (
       |  SELECT source, n_tokens,
       |         CASE WHEN (nstop / nwords) * 2.0 - (npunct / nchars) * 0.5 +
       |                   CASE WHEN nwords >= 10.0 THEN 1.0 ELSE 0.0 END >= 1.0
       |              THEN 1 ELSE 0 END AS good
       |  FROM g),
       |per_source AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |         CAST(sum(good) AS BIGINT) AS good_docs
       |  FROM s GROUP BY source),
       |totals AS (
       |  SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens,
       |         CAST(sum(good_docs) AS BIGINT) AS corpus_good
       |  FROM per_source)
       |SELECT source, n_docs, total_tokens, good_docs,
       |       CAST(total_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE) AS current_share,
       |       CAST(good_docs AS DOUBLE) / CAST(corpus_good AS DOUBLE) AS target_share,
       |       (CAST(good_docs AS DOUBLE) / CAST(corpus_good AS DOUBLE))
       |         / (CAST(total_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE)) AS mix_weight
       |FROM per_source CROSS JOIN totals ORDER BY source""".stripMargin

  /** Epoch planning under a fixed token budget (the data-constrained
    * regime): each source gets an equal integer share of the budget; a
    * source smaller than its share is REPEATED — the plan reports full
    * epochs, the fractional final pass, and how many allocated tokens are
    * repeats rather than fresh text. Pure integer arithmetic end-to-end
    * (div/ceil/max of exact longs), so the plan is bit-identical on any
    * engine and any partitioning. One scan + one small-key shuffle. */
  def epochsPlan(spark: SparkSession, dir: String, budget: Long = 5000000L): DataFrame = {
    val perSource = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(sum(col("n_tokens")).as("total_tokens"))
    // source count as a window over the |sources|-row aggregate, not a
    // re-planned crossJoin(broadcast(perSource.agg))
    perSource
      .withColumn("n_sources", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("alloc_tokens", expr(s"${budget}L div n_sources"))
      .withColumn("epochs",
        expr("(alloc_tokens + total_tokens - 1L) div total_tokens"))
      .withColumn("repeated_tokens",
        greatest(lit(0L), col("alloc_tokens") - col("total_tokens")))
      .withColumn("final_pass_frac",
        (col("alloc_tokens") - (col("epochs") - 1L) * col("total_tokens")).cast("double")
          / col("total_tokens").cast("double"))
      .select("source", "total_tokens", "alloc_tokens", "epochs",
        "repeated_tokens", "final_pass_frac")
      .orderBy("source")
  }

  def epochsPlanSql(budget: Long = 5000000L): String =
    s"""WITH per_source AS (
       |  SELECT source,
       |         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens
       |  FROM documents GROUP BY source),
       |n AS (SELECT count(*) AS n_sources FROM per_source),
       |p AS (
       |  SELECT source, total_tokens, $budget // n_sources AS alloc_tokens
       |  FROM per_source, n)
       |SELECT source, total_tokens, alloc_tokens,
       |       (alloc_tokens + total_tokens - 1) // total_tokens AS epochs,
       |       greatest(0, alloc_tokens - total_tokens) AS repeated_tokens,
       |       CAST(alloc_tokens - ((alloc_tokens + total_tokens - 1) // total_tokens - 1) * total_tokens AS DOUBLE)
       |         / CAST(total_tokens AS DOUBLE) AS final_pass_frac
       |FROM p ORDER BY source""".stripMargin

  /** Curriculum schedule: training phases ordered best-quality-first,
    * one row per quality decile with its doc/token volume and the
    * cumulative token share a trainer has consumed by the end of the
    * phase. Reuses the distributed exact-ntile core ([[qualityDecilesOf]]
    * — no single-partition pass over the corpus); the schedule windows
    * run over the 10 aggregated decile rows only. */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokens = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val perDecile = qualityDecilesOf(qualityScore(docs))
      .select(col("doc_id"), col("decile"))
      .join(tokens, "doc_id")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("decile_tokens"))
    val W = org.apache.spark.sql.expressions.Window
    val order = W.orderBy(col("decile").desc)
    val wCum = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = order.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    perDecile
      .withColumn("phase", row_number().over(order).cast("long"))
      .withColumn("cum_tokens", sum(col("decile_tokens")).over(wCum))
      .withColumn("cum_share",
        col("cum_tokens").cast("double") /
          sum(col("decile_tokens")).over(wAll).cast("double"))
      .select("phase", "decile", "n_docs", "decile_tokens", "cum_tokens", "cum_share")
      .orderBy("phase")
  }

  def curriculumSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |         string_split_regex(lower(trim(text)), '\\s+') AS words,
       |         CAST(length(text) AS DOUBLE) AS nchars,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, nchars, npunct,
       |         CAST(len(words) AS DOUBLE) AS nwords,
       |         CAST(len(list_filter(words, w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS nstop
       |  FROM f),
       |s AS (
       |  SELECT doc_id,
       |         (nstop / nwords) * 2.0 - (npunct / nchars) * 0.5 +
       |           CASE WHEN nwords >= 10.0 THEN 1.0 ELSE 0.0 END AS quality_score
       |  FROM g),
       |d AS (
       |  SELECT doc_id,
       |         CAST(ntile(10) OVER (ORDER BY quality_score, doc_id) AS BIGINT) AS decile
       |  FROM s),
       |tok AS (
       |  SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |pd AS (
       |  SELECT decile, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS decile_tokens
       |  FROM d JOIN tok USING (doc_id) GROUP BY decile)
       |SELECT CAST(row_number() OVER (ORDER BY decile DESC) AS BIGINT) AS phase,
       |       decile, n_docs, decile_tokens,
       |       CAST(sum(decile_tokens) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |       CAST(CAST(sum(decile_tokens) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
       |         / CAST(CAST(sum(decile_tokens) OVER () AS BIGINT) AS DOUBLE) AS cum_share
       |FROM pd ORDER BY phase""".stripMargin

  /** Deterministic training-order interleave: documents are shuffled
    * within each source by content digest (reproducible, no RNG) and the
    * sources round-robined, so consecutive training examples come from
    * different sources. Per-source windows partition on the shuffle key;
    * the only unpartitioned window ranks the ~|sources| distinct names —
    * bounded by source cardinality, not data volume. */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
    val srcIdx = docs.select("source").distinct()
      .withColumn("source_idx",
        (dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy("source")) - 1)
          .cast("long"))
    // carry n_sources inside the broadcast index (a window over its
    // |sources| rows) instead of re-planning the distinct for a scalar
    val srcIdxN = srcIdx.withColumn("n_sources",
      count(lit(1)).over(Window.partitionBy(lit(1))))
    docs
      .select(col("doc_id"), col("source"),
        row_number().over(wSrc).cast("long").as("pos_in_source"))
      .join(broadcast(srcIdxN), "source")
      .withColumn("global_pos",
        (col("pos_in_source") - 1L) * col("n_sources") + col("source_idx"))
      .select("doc_id", "source", "pos_in_source", "global_pos")
      .orderBy("global_pos")
  }

  val interleaveSql: String =
    """WITH s AS (
      |  SELECT source,
      |         CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) - 1 AS source_idx
      |  FROM (SELECT DISTINCT source FROM documents)),
      |n AS (SELECT count(*) AS n_sources FROM s),
      |p AS (
      |  SELECT doc_id, source,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS BIGINT) AS pos_in_source
      |  FROM documents)
      |SELECT doc_id, p.source, pos_in_source,
      |       (pos_in_source - 1) * n_sources + source_idx AS global_pos
      |FROM p JOIN s USING (source), n
      |ORDER BY global_pos""".stripMargin

  /** One-row dataset card: the headline numbers a training-data release
    * ships with — corpus size, source/language diversity, token volume,
    * exact-duplicate count, PII-bearing document count. Every statistic
    * is an exact integer aggregate (no cross-row float sums), so the card
    * is bit-stable across engines and partitionings. Single scan. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("source"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("words"),
        md5(normText(col("text"))).as("sig"),
        (size(regexp_extract_all(col("text"), lit("[0-9]{4,}"), lit(0))) > 0).as("has_pii"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("words")).as("total_words"),
        (count(lit(1)) - countDistinct(col("sig"))).as("n_exact_dup_docs"),
        count(when(col("has_pii"), 1)).as("n_pii_docs"))

  val datasetCardSql: String =
    """SELECT count(*) AS n_docs,
      |       count(DISTINCT source) AS n_sources,
      |       count(DISTINCT lang) AS n_langs,
      |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_words,
      |       count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_exact_dup_docs,
      |       count(CASE WHEN len(regexp_extract_all(text, '[0-9]{4,}')) > 0 THEN 1 END) AS n_pii_docs
      |FROM documents""".stripMargin

  val piiScanSql: String =
    """SELECT source, count(*) AS n_docs,
      |       count(CASE WHEN len(regexp_extract_all(text, '[0-9]{4,}')) > 0 THEN 1 END) AS n_digit_docs,
      |       count(CASE WHEN contains(text, '@') THEN 1 END) AS n_at_docs,
      |       CAST(sum(len(regexp_extract_all(text, '[0-9]{4,}'))) AS BIGINT) AS total_digit_runs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic per-epoch training order: epoch e presents the corpus
    * sorted by md5(e:doc_id) — a fresh pseudo-random permutation every
    * epoch that ANY worker can recompute locally (no stored shuffle
    * files, replay-stable). The global order is SHARD-MAJOR: a doc's
    * shard is its key's first byte, its position is the rank within
    * (epoch, shard), and the total order is (shard, shard_pos)
    * lexicographic — so the rank window partitions by (epoch × 256
    * shards), never funneling an epoch's whole corpus through one
    * reducer the way a naive per-epoch row_number would. */
  def epochShuffle(spark: SparkSession, dir: String, epochs: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array((0 until epochs).map(e => lit(e.toLong)): _*)).as("epoch"))
      .withColumn("skey", md5(concat_ws(":", col("epoch"), col("doc_id"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 2), 16, 10).cast("long"))
    keyed
      .withColumn("shard_pos",
        row_number().over(
          Window.partitionBy("epoch", "shard").orderBy("skey", "doc_id")).cast("long"))
      .select("epoch", "shard", "shard_pos", "doc_id")
      .orderBy("epoch", "shard", "shard_pos")
  }

  def epochShuffleSql(epochs: Int = 3): String =
    s"""WITH e AS (SELECT unnest(range(0, $epochs)) AS epoch),
       |keyed AS (
       |  SELECT epoch, doc_id,
       |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS skey
       |  FROM documents CROSS JOIN e),
       |sharded AS (
       |  SELECT epoch, doc_id, skey,
       |         CAST('0x' || substr(skey, 1, 2) AS BIGINT) AS shard
       |  FROM keyed)
       |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
       |       CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY skey, doc_id) AS BIGINT) AS shard_pos,
       |       doc_id
       |FROM sharded
       |ORDER BY epoch, shard, shard_pos""".stripMargin

  /** Gopher-style quality rules (Rae et al. 2021, "Scaling Language
    * Models: Gopher", Table A1 — the public heuristic filter set), the
    * rule-ladder complement to the weighted [[quality]] score: per
    * source, how many documents pass each hard rule and all of them
    * together. Rules here (exact integer arithmetic only — ratios become
    * cross-multiplications so both engines compare the same longs):
    *   word_count   — 50 ≤ wc ≤ 100 000
    *   mean_word_len — 3 ≤ sum_len/wc ≤ 10  (as 3·wc ≤ sum_len ≤ 10·wc;
    *     sum_len = len(normalized) − (wc − 1), exact on single-spaced text)
    *   symbol_ratio — (#'#' + #'…') / wc ≤ 0.1  (as 10·symbols ≤ wc)
    *   alpha_share  — words containing a letter ≥ 0.8·wc (as 5·alpha ≥ 4·wc)
    * One scan, one |sources| aggregation; pass_rate is a ratio of exact
    * counts. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = normText(col("text"))
    val words = split(t, " ")
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(words).cast("long").as("wc"),
        (length(t) - (size(words).cast("long") - 1L)).as("sum_len"),
        (length(t) - length(regexp_replace(t, "[#…]", ""))).cast("long").as("symbols"),
        size(filter(words, w => w.rlike("[a-z]"))).cast("long").as("alpha_words"))
      .select(col("source"),
        (col("wc") >= 50L && col("wc") <= 100000L).as("r_word_count"),
        (col("sum_len") >= lit(3L) * col("wc") &&
          col("sum_len") <= lit(10L) * col("wc")).as("r_mean_word_len"),
        (lit(10L) * col("symbols") <= col("wc")).as("r_symbol_ratio"),
        (lit(5L) * col("alpha_words") >= lit(4L) * col("wc")).as("r_alpha_share"))
    base
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("r_word_count"), 1L).otherwise(0L)).as("pass_word_count"),
        sum(when(col("r_mean_word_len"), 1L).otherwise(0L)).as("pass_mean_word_len"),
        sum(when(col("r_symbol_ratio"), 1L).otherwise(0L)).as("pass_symbol_ratio"),
        sum(when(col("r_alpha_share"), 1L).otherwise(0L)).as("pass_alpha_share"),
        sum(when(col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_alpha_share"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate",
        col("n_pass").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  val gopherRulesSql: String =
    """WITH n AS (
      |  SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      |  FROM documents),
      |f AS (
      |  SELECT source,
      |         CAST(len(string_split(t, ' ')) AS BIGINT) AS wc,
      |         CAST(length(t) - (len(string_split(t, ' ')) - 1) AS BIGINT) AS sum_len,
      |         CAST(length(t) - length(regexp_replace(t, '[#…]', '', 'g')) AS BIGINT) AS symbols,
      |         CAST(len(list_filter(string_split(t, ' '), w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha_words
      |  FROM n),
      |g AS (
      |  SELECT source,
      |         wc >= 50 AND wc <= 100000 AS r_wc,
      |         sum_len >= 3 * wc AND sum_len <= 10 * wc AS r_mwl,
      |         10 * symbols <= wc AS r_sym,
      |         5 * alpha_words >= 4 * wc AS r_alpha
      |  FROM f)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN r_wc THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_count,
      |       CAST(sum(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_word_len,
      |       CAST(sum(CASE WHEN r_sym THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol_ratio,
      |       CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha_share,
      |       CAST(sum(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |       CAST(sum(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS pass_rate
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** Source-vocabulary overlap matrix: for every source pair, the distinct
    * word-trigram grams they share, with containment (|∩| / min) and
    * Jaccard. The VOCABULARY-level complement of `pipe_cross_source_dup`
    * (which rolls up verified near-dup DOC pairs): two sources can share
    * heavy boilerplate — headers, templates, license blurbs — without any
    * single document pair clearing a Jaccard threshold, and this matrix is
    * where that shows. Read before merging corpora or pricing a
    * cross-source dedup pass.
    *
    * Scale shape: grams travel as 8-byte digests (as in dup_gram_share);
    * one distinct on (source, gh) bounds every gram to ≤|sources| rows, so
    * the gh self-join fans out ≤|sources|² per gram; vocabulary sizes
    * attach as a broadcast-sized |sources|-row join; output
    * |sources|²/2 rows. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val w = split(normText(col("text")), " ")
    val grams = docs.select(col("source"), w.as("w"))
      .withColumn("grams", array_distinct(transform(
        sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(3))))))
      .select(col("source"), explode(col("grams")).as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
    // ONE pass over the gram fan-out: per-gh source SETS (collect_set
    // dedupes, so no separate distinct() exchange), then every output
    // statistic — per-source distinct-gram sizes AND per-pair common
    // counts — explodes out of that one bucketed table as (a, b=null)
    // singletons and (a < b) in-bucket pairs and aggregates over the tiny
    // ≤|sources|+|sources|² key space. The previous form planned the
    // fan-out subtree THREE times (sizes + both sides of a gh self-join);
    // this also replaces the self-join's per-gram postings² blowup with a
    // set bounded by |sources| — strictly better at corpus scale.
    val buckets = grams.groupBy("gh").agg(sort_array(collect_set(col("source"))).as("ss"))
    val units = buckets.select(explode(concat(
        transform(col("ss"), s => struct(s.as("a"), lit(null).cast("string").as("b"))),
        flatten(transform(col("ss"), (x, i) =>
          transform(slice(col("ss"), i + lit(2), size(col("ss"))),
            y => struct(x.as("a"), y.as("b"))))))).as("u"))
      .select(col("u.a").as("a"), col("u.b").as("b"))
    val counts = units.groupBy("a", "b").agg(count(lit(1)).as("n"))
    // pack the whole ≤|sources|+|sources|² panel into ONE row (sizes as a
    // map, pairs as an array) and explode pairs with the sizes map CARRIED
    // ALONG — per-pair n_a/n_b are map lookups on the same row, so the
    // fan-out subtree plans exactly once (the broadcast-join form planned
    // it once per reference: pair leg + two size sides)
    counts
      .agg(collect_list(struct(col("a"), col("b"), col("n"))).as("rs"))
      .select(
        map_from_entries(expr("transform(filter(rs, r -> r.b is null), r -> struct(r.a, r.n))"))
          .as("sizes"),
        expr("filter(rs, r -> r.b is not null)").as("prs"))
      .select(explode(col("prs")).as("p"), col("sizes"))
      .select(col("p.a").as("source_a"), col("p.b").as("source_b"),
        col("p.n").as("n_common"),
        element_at(col("sizes"), col("p.a")).as("n_a"),
        element_at(col("sizes"), col("p.b")).as("n_b"))
      .select(col("source_a"), col("source_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common").cast("double") / least(col("n_a"), col("n_b")).cast("double")).as("containment"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    """WITH n AS (
      |  SELECT source,
      |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT source, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
      |  FROM (
      |    SELECT source,
      |           unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |                                 for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS g
      |    FROM n)),
      |sizes AS (SELECT source, count(*) AS n_grams FROM grams GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
      |  FROM grams a JOIN grams b ON a.gh = b.gh AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT p.source_a, p.source_b, p.n_common,
      |       sa.n_grams AS n_a, sb.n_grams AS n_b,
      |       CAST(p.n_common AS DOUBLE) / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE) AS containment,
      |       CAST(p.n_common AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - p.n_common AS DOUBLE) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON sa.source = p.source_a
      |JOIN sizes sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Corpus snapshot DIFF — the dataset-versioning report (what Delta's
    * change-data-feed `DESCRIBE` gives a lakehouse, for a corpus): per
    * source, how many documents the next snapshot added / removed /
    * changed / kept, and the net character delta — the review gate
    * before a training run re-pins its data version. The second
    * snapshot derives deterministically from the first (docs ≡0 mod 23
    * removed, ≡0 mod 17 tail-truncated i.e. changed, ≡0 mod 13 cloned
    * under +3M ids i.e. added) so both engines diff identical inputs.
    *
    * Scale shape: ONE full-outer equi-join on doc_id (content compared
    * by 128-bit digest, never by text) + one |sources|-key rollup. At
    * 100 TB this is the canonical snapshot-diff plan; no window, no
    * fan-out. */
  def datasetDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val v2base = docs.where(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 17 === 0,
          col("text").substr(lit(1), greatest(length(col("text")) - 10, lit(20))))
          .otherwise(col("text")).as("text"))
    val added = docs.where(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("source"), col("text"))
    def sig(df: DataFrame, tag: String): DataFrame =
      df.select(col("doc_id"), col("source").as(s"s$tag"),
        md5(col("text")).as(s"h$tag"), length(col("text")).cast("long").as(s"l$tag"))
    val j = sig(docs, "1")
      .join(sig(v2base.unionAll(added), "2"), Seq("doc_id"), "full_outer")
    j.select(
        coalesce(col("s1"), col("s2")).as("source"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"),
        (coalesce(col("l2"), lit(0L)) - coalesce(col("l1"), lit(0L))).as("delta"))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        sum(col("delta")).as("net_char_delta"))
      .orderBy("source")
  }

  val datasetDiffSql: String =
    """WITH v1 AS (
      |  SELECT doc_id, source, md5(text) AS h, length(text) AS l FROM documents),
      |v2 AS (
      |  SELECT doc_id, source,
      |         md5(CASE WHEN doc_id % 17 = 0
      |                  THEN substr(text, 1, greatest(length(text) - 10, 20))
      |                  ELSE text END) AS h,
      |         length(CASE WHEN doc_id % 17 = 0
      |                     THEN substr(text, 1, greatest(length(text) - 10, 20))
      |                     ELSE text END) AS l
      |  FROM documents WHERE doc_id % 23 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, source, md5(text), length(text)
      |  FROM documents WHERE doc_id % 13 = 0),
      |j AS (
      |  SELECT coalesce(v1.source, v2.source) AS source,
      |         CASE WHEN v1.h IS NULL THEN 'added'
      |              WHEN v2.h IS NULL THEN 'removed'
      |              WHEN v1.h = v2.h THEN 'unchanged'
      |              ELSE 'changed' END AS status,
      |         coalesce(v2.l, 0) - coalesce(v1.l, 0) AS delta
      |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
      |SELECT source,
      |       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
      |       CAST(sum(delta) AS BIGINT) AS net_char_delta
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Per-document sentence segmentation stats — the structural-quality
    * signal under readability filters: sentences are the non-empty
    * `[.!?]+` splits (a text with no terminator is one sentence), words
    * per sentence the whitespace-token count of each trimmed sentence.
    * All counts exact integers; the mean a double ratio of exact ints.
    *
    * Scale shape: pure per-row array work (split → filter → transform →
    * ordered fold), zero shuffles before the output sort. */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame = {
    val sents = filter(
      split(col("text"), "[.!?]+"),
      s => length(trim(s)) >= 1)
    val wordsPer = transform(sents, s => size(split(trim(s), "\\s+")).cast("long"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), wordsPer.as("wps"))
      .select(
        col("doc_id"),
        size(col("wps")).cast("long").as("n_sentences"),
        aggregate(col("wps"), lit(0L), (acc, x) => acc + x).as("n_words"),
        coalesce(array_max(col("wps")), lit(0L)).as("max_words_per_sentence"))
      .withColumn("mean_words_per_sentence",
        when(col("n_sentences") > 0L,
          col("n_words").cast("double") / col("n_sentences").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  val sentenceStatsSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(regexp_split_to_array(text, '[.!?]+'),
      |                       s -> length(trim(s)) >= 1),
      |           s -> CAST(len(string_split_regex(trim(s), '\s+')) AS BIGINT)) AS wps
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(wps) AS BIGINT) AS n_sentences,
      |       list_reduce(list_prepend(0::BIGINT, wps), (x, y) -> x + y) AS n_words,
      |       coalesce(list_max(wps), 0) AS max_words_per_sentence,
      |       CASE WHEN len(wps) > 0
      |            THEN CAST(list_reduce(list_prepend(0::BIGINT, wps), (x, y) -> x + y) AS DOUBLE)
      |                   / CAST(len(wps) AS DOUBLE)
      |            ELSE 0.0 END AS mean_words_per_sentence
      |FROM s ORDER BY doc_id""".stripMargin

  /** Per-source hapax-legomenon profile — the Zipf-tail health check a
    * corpus curator reads next to [[zipfCheck]]: a hapax is a term whose
    * corpus-wide TOKEN count is exactly 1 (so each hapax token IS its
    * term's unique occurrence). Sources whose hapax share spikes are
    * full of OCR noise, random identifiers, or boilerplate-free unique
    * text; sources near zero are templated. Reports per source: token
    * volume, vocabulary size, hapax count, and the hapax share of both
    * tokens and vocabulary.
    *
    * Scale shape: one vocabulary shuffle for the corpus counts
    * (map-side combined), re-joined on the term key (AQE broadcasts the
    * count table when it fits), then a ≤|sources|-key rollup. */
  def hapax(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        explode(split(normText(col("text")), " ")).as("term"))
      .where(length(col("term")) >= 1)
    // ONE pass over the token fan-out (r19, guide §2.4): the previous
    // form exploded twice (the corpus count and the join probe side) and
    // shuffled every token instance through the join. Per-(source, term)
    // counts first; the corpus count rides a window over those deduped
    // type rows (hash(term) from the repartition satisfies the rollup AND
    // the window); a corpus-hapax term (c = 1) occurs exactly once, so it
    // contributes its one token to exactly one source — the per-source
    // aggregates below are the same integers as the instance-level join.
    // Interleaved A/B at sf0.1: 0.79 → 0.64 s median.
    val st = toks.select(col("source"), col("term")).repartition(col("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cs"))
    st.withColumn("c", sum(col("cs")).over(Window.partitionBy("term")))
      .groupBy("source")
      .agg(
        sum(col("cs")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_token_share"),
        (col("n_hapax").cast("double") / col("n_vocab").cast("double"))
          .as("hapax_vocab_share"))
      .orderBy("source")
  }

  val hapaxSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id,
      |         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |t AS (SELECT source, doc_id, term FROM toks WHERE length(term) >= 1),
      |c AS (SELECT term, count(*) AS c FROM t GROUP BY term)
      |SELECT source,
      |       count(*) AS n_tokens,
      |       count(DISTINCT term) AS n_vocab,
      |       CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |       CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS hapax_token_share,
      |       CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(DISTINCT term) AS DOUBLE) AS hapax_vocab_share
      |FROM t JOIN c USING (term)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Per-term burstiness (Church & Gale's cf/df — "Poisson mixtures",
    * 1995): how many times a term repeats within the documents it
    * touches. Function words sit near 1 (spread thin, once per doc);
    * content words and boilerplate tokens burst (df small, cf large).
    * The top-burstiness table is the curator's repeated-template probe,
    * read next to [[termDocFreq]] (which ranks by spread, not
    * repetition). A df floor keeps one-doc noise terms out of the top.
    *
    * Scale shape: per-(doc, term) counts first — map-side combined, so
    * the term shuffle carries ≤|doc|·|vocab-per-doc| pre-aggregated
    * rows, never raw tokens — then one vocabulary-key aggregation and a
    * bounded TakeOrderedAndProject. The ratio is one IEEE division of
    * two exact ints, identical on both engines. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("term"))
      .where(length(col("term")) >= 1)
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("c"))
    perDoc
      .groupBy("term")
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .where(col("df") >= 5L)
      .select(col("term"), col("cf"), col("df"),
        (col("cf").cast("double") / col("df").cast("double")).as("burstiness"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(20)
  }

  val burstinessSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |t AS (SELECT doc_id, term FROM toks WHERE length(term) >= 1),
      |pd AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY doc_id, term),
      |s AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf, count(*) AS df FROM pd GROUP BY term)
      |SELECT term, cf, df, CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness
      |FROM s WHERE df >= 5
      |ORDER BY burstiness DESC, term LIMIT 20""".stripMargin

  /** Pairwise total-variation distance between per-source unigram
    * distributions — the distribution-shift complement of
    * [[graft.dedup.Dedup]]'s vocabulary-overlap matrix (overlap asks
    * "do they share words"; TV asks "do they USE the shared words the
    * same way"). A mix designer reads this to know which sources are
    * interchangeable and which add genuinely different text. TV needs
    * no logarithm (unlike KL/JS), so the whole statistic stays in the
    * engine's exact-arithmetic convention: Σ|p−q| over the shared
    * vocabulary is folded via the identity
    * Σ_all |p−q| = 2 + Σ_common(|p−q| − p − q), each per-term
    * contribution 2⁴⁰-quantized and exactly summed — bit-identical on
    * both engines regardless of partition order.
    *
    * Scale shape: per-(source, term) counts map-side combined; the
    * pair join shuffles on the term key and fans out ≤|sources|² rows
    * per term; the rollup is ≤|sources|²-key; totals broadcast. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    // pin (r19, guide §2.4): cf is read by the totals branch AND both
    // sides of the per-term self-join — three plans of the token explode
    // + (source, term) rollup without it. ≤|sources|·|vocab| rows.
    val cf = graft.Tables.pin(Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(normText(col("text")), " ")).as("term"))
      .where(length(col("term")) >= 1)
      .groupBy("source", "term")
      .agg(count(lit(1)).as("cf")))
    val totals = cf.groupBy("source").agg(sum(col("cf")).cast("long").as("n"))
    val p = cf.join(broadcast(totals), "source")
      .select(col("source"), col("term"),
        (col("cf").cast("double") / col("n").cast("double")).as("p"))
    val a = p.select(col("source").as("source_a"), col("term"), col("p").as("pa"))
    val b = p.select(col("source").as("source_b"), col("term"), col("p").as("pb"))
    a.join(b, "term")
      .where(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        floor((abs(col("pa") - col("pb")) - col("pa") - col("pb")) * Q)
          .cast("long").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("dq"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_common_terms"), sum(col("dq")).as("sq"))
      .select(col("source_a"), col("source_b"), col("n_common_terms"),
        ((col("sq").cast("double") / Q + 2.0) * 0.5).as("tv_distance"))
      .orderBy("source_a", "source_b")
  }

  val sourceDivergenceSql: String =
    """WITH toks AS (
      |  SELECT source,
      |         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents),
      |t AS (SELECT source, term FROM toks WHERE length(term) >= 1),
      |cf AS (SELECT source, term, count(*) AS cf FROM t GROUP BY source, term),
      |tot AS (SELECT source, CAST(sum(cf) AS BIGINT) AS n FROM cf GROUP BY source),
      |p AS (
      |  SELECT cf.source, term, CAST(cf AS DOUBLE) / CAST(n AS DOUBLE) AS p
      |  FROM cf JOIN tot ON cf.source = tot.source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(floor((abs(a.p - b.p) - a.p - b.p) * 1099511627776.0) AS BIGINT) AS dq
      |  FROM p a JOIN p b ON a.term = b.term AND a.source < b.source)
      |SELECT source_a, source_b, count(*) AS n_common_terms,
      |       (CAST(sum(dq) AS DOUBLE) / 1099511627776.0 + 2.0) * 0.5 AS tv_distance
      |FROM pairs GROUP BY source_a, source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Per-document readability (Flesch / Flesch-Kincaid with the standard
    * vowel-group syllable proxy): words = whitespace tokens, sentences =
    * non-empty `[.!?]+` splits floored at 1, syllables = `[aeiou]+`
    * groups of the lowercased text. Every count is an exact integer and
    * the two scores are fixed double polynomials of two exact-int ratios
    * with pinned operand order, so both engines produce identical IEEE
    * doubles. The grade feeds curriculum ordering; the ease score feeds
    * quality filters.
    *
    * Scale shape: pure per-row regex counting, zero shuffles before the
    * output sort. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(filter(split(col("text"), "[.!?]+"), s => length(trim(s)) >= 1)).cast("long"))
          .as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("spw", col("n_syllables").cast("double") / col("n_words").cast("double"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        ((lit(0.39) * col("wps") + lit(11.8) * col("spw")) - lit(15.59)).as("fk_grade"),
        ((lit(206.835) - lit(1.015) * col("wps")) - lit(84.6) * col("spw")).as("flesch_ease"))
      .orderBy("doc_id")

  val readabilitySql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
      |         greatest(1, CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
      |                                          s -> length(trim(s)) >= 1)) AS BIGINT)) AS n_sentences,
      |         CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syllables
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |         CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
      |         CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
      |  FROM f)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |       (0.39 * wps + 11.8 * spw) - 15.59 AS fk_grade,
      |       (206.835 - 1.015 * wps) - 84.6 * spw AS flesch_ease
      |FROM r ORDER BY doc_id""".stripMargin

  /** Quality-score rollup per language — the mix-curation view joining
    * [[quality]]'s deterministic score to the stored language tag: per
    * lang, the document count, the EXACT mean score (each score
    * 2⁴⁰-quantized and summed as integers, so the mean is
    * partition-order independent bit-for-bit), and the share of
    * documents clearing the score ≥ 1.0 admission bar. The table a
    * data-mix owner reads to decide which languages need a gentler
    * quality threshold before the corpus goes monolingual-English.
    *
    * Scale shape: per-row scoring (no shuffle) into one ≤|langs|-key
    * map-side-combined aggregation. */
  def qualityByLang(spark: SparkSession, dir: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    Tables.load(spark, dir, "documents")
      .select(col("lang"), qualityScoreCol.as("score"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(floor(col("score") * Q).cast("long")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("qsum"),
        sum(when(col("score") >= 1.0, 1L).otherwise(0L)).as("n_pass"))
      .select(col("lang"), col("n_docs"),
        (col("qsum").cast("double") / Q / col("n_docs").cast("double")).as("mean_score"),
        col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs").cast("double")).as("pass_share"))
      .orderBy("lang")
  }

  def qualityByLangSql: String =
    s"""WITH f AS (
       |  SELECT lang,
       |         string_split_regex(lower(trim(text)), '\\s+') AS words,
       |         CAST(length(text) AS DOUBLE) AS nchars,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct
       |  FROM documents),
       |g AS (
       |  SELECT lang,
       |         (CAST(len(list_filter(words, w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |            / CAST(len(words) AS DOUBLE)) * 2.0 - (npunct / nchars) * 0.5 +
       |           CASE WHEN len(words) >= 10 THEN 1.0 ELSE 0.0 END AS score
       |  FROM f)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(CAST(floor(score * 1099511627776.0) AS HUGEINT)) AS DOUBLE)
       |         / 1099511627776.0 / CAST(count(*) AS DOUBLE) AS mean_score,
       |       CAST(sum(CASE WHEN score >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |       CAST(sum(CASE WHEN score >= 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS pass_share
       |FROM g GROUP BY lang ORDER BY lang""".stripMargin
}

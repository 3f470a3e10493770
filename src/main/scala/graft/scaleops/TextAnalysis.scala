package graft.scaleops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star
  * additions, BASELINE.json): token counting, quality scoring,
  * language-ID heuristic, document fingerprinting.
  *
  * Everything is built from codegen'd built-in expressions — no UDFs,
  * so the whole pipeline stays inside WholeStageCodegen and scales
  * linearly with a pure map (zero shuffles until an aggregate).
  */
object TextAnalysis {

  /** Whitespace tokenization (the baseline tokenizer; a BPE-ish
    * regex variant is `bpeishTokens`). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word segmentation: word pieces + digits + punct as
    * separate tokens (a regex approximation of byte-pair-style
    * pre-tokenization). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** SQL single-quoted string literal, embedded quotes doubled.
    * Every oracle builder that splices a data-derived or
    * caller-supplied term/word into generated SQL must go through
    * this — a term containing `'` would otherwise break (or inject
    * into) the oracle statement. */
  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Quality components per document:
    * - alpha_ratio: fraction of [a-z ] characters
    * - stopword_ratio: stopword tokens / tokens
    * - mean_token_len
    * These feed a composite score; all expressible in ANSI SQL for
    * the oracle. */
  def qualityColumns(text: Column): Seq[(String, Column)] =
    qualityColumnsOf(tokens(text), text)

  /** [[qualityColumns]] over a PRE-TOKENIZED column — pipelines that
    * compute several token-derived metrics per row should tokenize
    * into a real column once (its own select step: a non-cheap
    * expression referenced more than once is not inlined by
    * CollapseProject) and feed it here, instead of paying the regex
    * split per metric. Expression trees are identical to the inline
    * form, so values never move. */
  def qualityColumnsOf(toks: Column, text: Column): Seq[(String, Column)] =
    qualityColumnsCounted(toks, text,
      size(filter(toks, t => t.isin(stopwords: _*))))

  /** [[qualityColumnsOf]] with the stopword count INJECTED — for
    * pipelines that already fused it via [[markerCounts]] (the
    * interpreted `filter` HOF column costs ~0.7 s per corpus pass at
    * the sf1 soak; six of them dominated docs_clean_pipeline). The
    * injected count must equal `size(filter(toks, isin(stopwords)))`
    * — [[markerCounts]] index 0 does, by the fused kernel's
    * contract. */
  def qualityColumnsCounted(toks: Column, text: Column,
                            stops: Column): Seq[(String, Column)] = {
    // nullif guards the empty-document case under ANSI mode (x/0 is
    // an error, not NaN): ratios come out null, callers skip them.
    val nTok = nullif(size(toks).cast("int"), lit(0))
    val nChars = nullif(length(text), lit(0))
    val alpha = length(regexp_replace(text, "[^a-z ]", ""))
    Seq(
      "n_tokens" -> size(toks),
      "alpha_ratio" -> round(alpha.cast("double") / nChars, 6),
      "stopword_ratio" -> round(stops.cast("double") / nTok, 6),
      "mean_token_len" -> round((length(text) - (size(toks) - 1)).cast("double") / nTok, 6))
  }

  /** Fused marker-set counts (one codegen pass,
    * [[graft.functions.MarkerCounts]]): index 0 = stopword count,
    * 1… = [[langMarkers]] order. */
  def markerCounts(toks: Column): Column =
    graft.functions.MarkerCounts.of(toks, stopwords +: langMarkers.map(_._2))

  /** Composite quality score in [0,1]: long-enough, mostly-alpha,
    * some-but-not-too-many stopwords. Deterministic linear blend. */
  def qualityScore(text: Column): Column =
    qualityScoreOf(tokens(text), text)

  /** [[qualityScore]] over a pre-tokenized column (see
    * [[qualityColumnsOf]]). */
  def qualityScoreOf(toks: Column, text: Column): Column =
    qualityScoreCounted(toks, text,
      size(filter(toks, t => t.isin(stopwords: _*))))

  /** [[qualityScoreOf]] with the stopword count injected (see
    * [[qualityColumnsCounted]]). */
  def qualityScoreCounted(toks: Column, text: Column, stops: Column): Column = {
    val cols = qualityColumnsCounted(toks, text, stops).toMap
    round(
      least(lit(1.0), cols("n_tokens").cast("double") / 100.0) * 0.3 +
        cols("alpha_ratio") * 0.4 +
        least(lit(1.0), cols("stopword_ratio") * 5.0) * 0.3, 6)
  }

  /** Language-ID heuristic: marker-token occurrence scoring with a
    * deterministic preference order on ties. On natural text the
    * marker sets separate languages; on any input the prediction is a
    * pure function of the token multiset (reproducible in SQL). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("de5", "shi4", "le5"))

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresOf(tokens(text))

  /** [[langScores]] over a pre-tokenized column (see
    * [[qualityColumnsOf]]). */
  def langScoresOf(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*)))
    }

  /** argmax over language scores; ties resolve in `langMarkers`
    * declaration order (en first). */
  def langId(text: Column): Column = langIdOf(tokens(text))

  /** [[langId]] over a pre-tokenized column (see
    * [[qualityColumnsOf]]). */
  def langIdOf(toks: Column): Column =
    langIdScores(langScoresOf(toks))

  /** [[langId]] over already-computed per-language scores — e.g.
    * `markerCounts(toks)[1…]` (the fused kernel). The argmax fold is
    * THE tie-break definition; every entry point shares it. */
  def langIdScores(scores: Seq[(String, Column)]): Column =
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (greatest(bestScore, score),
          when(score > bestScore, lang).otherwise(bestLang))
    }._2

  /** TF-IDF top-k terms per document — relational formulation (no
    * fitted vocabulary): tf = term count within the doc, idf =
    * ln((N+1)/(df+1)) + 1 (sklearn's smoothed `TfidfTransformer`
    * formula; MLlib's `IDF` is the same minus the trailing +1 — the
    * spec pins the exact relationship), ranked per doc with a
    * deterministic (weight desc, term asc) tiebreak. Two aggregates
    * (per-doc-term tf, per-term df) and one broadcastable join with
    * the N-row scalar — no vocabulary indexing step, which is what
    * lets it run as plain SQL in the oracle. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val n = docs.count()
    val df = terms.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("tfidf", round(col("tf") *
        (log(lit(n + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tfidf"))
  }

  /** OpenRefine-style fingerprint: sorted distinct tokens re-joined,
    * hashed — identical for any token permutation/duplication of the
    * same vocabulary. */
  def fingerprint(text: Column): Column =
    fingerprintOf(tokens(lower(text)))

  /** [[fingerprint]] over pre-tokenized LOWERCASED tokens (see
    * [[qualityColumnsOf]]; note the lower() inside the canonical
    * form — pass `tokens(lower(text))`, not the raw token column). */
  def fingerprintOf(toksLower: Column): Column =
    md5(array_join(array_sort(array_distinct(toksLower)), " "))
}

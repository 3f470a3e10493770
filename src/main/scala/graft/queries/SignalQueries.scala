package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.scaleops.Retrieval
import graft.sources.Tables
import graft.stats.EvalMetrics
import QUtil._

/** Ranked-retrieval, corpus-drift and signal-detection queries:
  * BM25 document ranking, RAKE keyword extraction, per-source KL
  * divergence, exact ROC-AUC, and two-sided CUSUM changepoints.
  * Every row is oracle-checked — the score arithmetic is restated
  * in DuckDB SQL term for term. */
object SignalQueries {

  // ---- BM25 ranked retrieval ------------------------------------------
  private val bmTerms = Seq("spark", "join", "hash")

  def bm25Rank(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25(Tables.load(s, d, "documents"), "doc_id", "text", bmTerms)

  val bm25Oracle: String =
    Retrieval.bm25OracleSql("documents", "doc_id", "text", bmTerms)

  // ---- RAKE keywords ---------------------------------------------------
  private val rakeStops = Seq("a", "the")

  def rakeKeywords(s: SparkSession, d: String): DataFrame =
    Retrieval.rakeKeywords(Tables.load(s, d, "documents"), "doc_id", "text",
      rakeStops, topK = 3, docFilter = col("doc_id") < 20)

  val rakeOracle: String =
    Retrieval.rakeOracleSql("documents", "doc_id", "text", rakeStops,
      topK = 3, docFilterSql = "doc_id < 20")

  // ---- NDCG@10 of the BM25 ranking ------------------------------------
  /** Ranking-quality evaluation: NDCG@10 of `text_bm25_rank`'s
    * ordering against a deterministic relevance label (number of
    * query terms present in the doc, 0–3). Gains 2^rel−1 are small
    * integers and log2 discounts are shared constants, so the only
    * float work is ten exact divisions — rounded at 6 dp. The ideal
    * ranking's top-k cut is TakeOrdered like every other global cut.
    */
  def ndcgAt10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, d, "documents")
    val ranked = Retrieval.bm25(docs, "doc_id", "text", bmTerms, topK = 10)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    val withRank = ranked.withColumn("rank", row_number().over(w))
    val toks = graft.scaleops.TextAnalysis.tokens(lower(col("text")))
    val rel = docs.select(col("doc_id"),
      bmTerms.map(tm => when(array_contains(toks, tm), 1).otherwise(0))
        .reduce(_ + _).as("rel"))
    val dcg = withRank.join(rel, "doc_id")
      .agg(sum((pow(lit(2.0), col("rel")) - 1.0) / log2(col("rank") + 1.0)).as("dcg"))
    val wi = Window.orderBy(col("rel").desc, col("doc_id").asc)
    val idcg = rel.orderBy(col("rel").desc, col("doc_id").asc).limit(10)
      .withColumn("irank", row_number().over(wi))
      .agg(sum((pow(lit(2.0), col("rel")) - 1.0) / log2(col("irank") + 1.0)).as("idcg"))
    dcg.crossJoin(idcg) // two one-row frames
      .select(lit(10).as("k"), round(col("dcg"), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  val ndcgOracle: String = {
    val relExpr = bmTerms
      .map(tm => s"CASE WHEN list_contains(toks, '$tm') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH rel AS (
       |  SELECT doc_id, $relExpr AS rel
       |  FROM (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents)),
       |bm AS (
       |  SELECT doc_id, score,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM (${Retrieval.bm25OracleSql("documents", "doc_id", "text", bmTerms)})),
       |d AS (
       |  SELECT SUM((POW(2.0, rel) - 1.0) / LOG2(rank + 1.0)) AS dcg
       |  FROM bm JOIN rel USING (doc_id)),
       |ideal AS (
       |  SELECT rel, CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS irank
       |  FROM rel ORDER BY rel DESC, doc_id ASC LIMIT 10),
       |i AS (
       |  SELECT SUM((POW(2.0, rel) - 1.0) / LOG2(irank + 1.0)) AS idcg FROM ideal)
       |SELECT 10 AS k, ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
       |  ROUND(dcg / idcg, 6) AS ndcg
       |FROM d, i""".stripMargin
  }

  // ---- per-source KL divergence ---------------------------------------
  def sourceDivergence(s: SparkSession, d: String): DataFrame =
    Retrieval.sourceDivergence(Tables.load(s, d, "documents"), "source", "text")

  val sourceDivergenceOracle: String =
    Retrieval.sourceDivergenceOracleSql("documents", "source", "text")

  // ---- exact ROC-AUC over the deterministic groupwise-mean scorer -----
  /** Same decimal-exact predictor as `d7_eval_metrics` (so both
    * engines score identically), label = quantity < 25; AUC via the
    * integer Mann–Whitney identity. Score cardinality = the group
    * count (≤ 9), honoring rocAuc's distinct-score contract. */
  def rocAuc(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val pred = li.groupBy("l_returnflag", "l_linestatus")
      .agg((sum(dec4(col("l_quantity"))).cast("double") / count(lit(1))).as("pred"))
    val joined = li.join(broadcast(pred), Seq("l_returnflag", "l_linestatus"))
    EvalMetrics.rocAuc(joined, col("pred"),
      when(col("l_quantity") < 25.0, 1).otherwise(0))
  }

  val rocAucOracle: String =
    """WITH p AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS pred
      |  FROM lineitem GROUP BY 1, 2),
      |j AS (
      |  SELECT pred AS s,
      |    CASE WHEN l_quantity < 25.0 THEN 1 ELSE 0 END AS y
      |  FROM lineitem JOIN p USING (l_returnflag, l_linestatus)),
      |g AS (
      |  SELECT s, CAST(SUM(y) AS BIGINT) AS pos_eq,
      |    CAST(SUM(1 - y) AS BIGINT) AS neg_eq
      |  FROM j GROUP BY s),
      |c AS (
      |  SELECT s, pos_eq, neg_eq,
      |    COALESCE(CAST(SUM(neg_eq) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_lt
      |  FROM g)
      |SELECT CAST(SUM(pos_eq) AS BIGINT) AS n_pos,
      |  CAST(SUM(neg_eq) AS BIGINT) AS n_neg,
      |  ROUND(CAST(SUM(pos_eq * (2 * neg_lt + neg_eq)) AS DOUBLE)
      |    / (2.0 * SUM(pos_eq) * SUM(neg_eq)), 6) AS auc
      |FROM c""".stripMargin

  // ---- two-sided CUSUM changepoints -----------------------------------
  private val cusumSlack = 5.0
  private val cusumThreshold = 50.0
  private val cusumFilter = "user_id < 3 AND value IS NOT NULL"

  def cusumChanges(s: SparkSession, d: String): DataFrame =
    graft.ts.RollingFeatures.cusum(
      Tables.load(s, d, "events")
        .filter(col("user_id") < 3 && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")),
      "user_id", Seq(col("ts"), col("event_id")), "value",
      slack = cusumSlack, threshold = cusumThreshold, idCol = "event_id")

  val cusumOracle: String = graft.ts.RollingFeatures.cusumOracleSql(
    "events", "user_id", "value", cusumSlack, cusumThreshold, cusumFilter)

  // ---- SCD2 history construction --------------------------------------
  /** Type-2 slowly-changing-dimension intervals from a change log:
    * each user's event_type stream collapses to maximal constant runs
    * with [valid_from, valid_to) interval bounds (valid_to = next
    * change, NULL ⇒ current row). Change detection and interval close
    * are lag/lead over ONE (user, time) window partitioning — a
    * single shuffle builds the whole history at any scale. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, d, "events").filter(col("user_id") < 5)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("us").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  val scd2Oracle: String =
    """WITH o AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |  FROM events WHERE user_id < 5),
      |ch AS (
      |  SELECT user_id, us, event_id, event_type FROM o
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, event_type, us AS valid_from,
      |  LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to,
      |  LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL AS is_current
      |FROM ch""".stripMargin

  // ---- entity-resolution pipeline -------------------------------------
  /** ER end-to-end over the part-name dictionary: token-blocked
    * Levenshtein pairs → connected components → per-cluster
    * survivorship report (canonical = lowest part key, member and row
    * counts). The composition mirrors `dedup_pipeline` on the fuzzy
    * (edit-distance) pair generator instead of the shingle one; the
    * oracle replays pairs, recursive closure, and the report. */
  def erPipelineParts(s: SparkSession, d: String): DataFrame = {
    val part = Tables.load(s, d, "part")
    val nameId = part.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("nid"), count(lit(1)).as("n_rows"))
      .localCheckpoint(false) // feeds both pair sides and the report
    val pairs = graft.operators.FuzzyJoin.nearMatchPairs(part, "p_name", maxDist = 3)
      .join(nameId.select(col("name").as("name_a"), col("nid").as("a")), "name_a")
      .join(nameId.select(col("name").as("name_b"), col("nid").as("b")), "name_b")
      .select("a", "b")
    graft.operators.ConnectedComponents.components(pairs, "a", "b")
      .join(nameId.select(col("nid").as("id"), col("n_rows")), "id")
      .groupBy(col("comp").as("cluster"))
      .agg(count(lit(1)).as("n_names"), sum(col("n_rows")).as("n_rows"),
        min(col("id")).as("canonical_id"))
  }

  val erPipelineOracle: String =
    """WITH RECURSIVE names AS (
      |  SELECT p_name AS name, MIN(p_partkey) AS nid, COUNT(*) AS n_rows
      |  FROM part GROUP BY 1),
      |toks AS (
      |  SELECT DISTINCT name, UNNEST(string_split_regex(name, '\s+')) AS tok
      |  FROM names),
      |cands AS (
      |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
      |  FROM toks a JOIN toks b USING (tok)
      |  WHERE a.name < b.name),
      |pairs AS (
      |  SELECT na.nid AS a, nb.nid AS b
      |  FROM cands JOIN names na ON na.name = cands.name_a
      |    JOIN names nb ON nb.name = cands.name_b
      |  WHERE levenshtein(name_a, name_b) <= 3),
      |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
      |reach(id, comp) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id),
      |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
      |SELECT comp AS cluster, COUNT(*) AS n_names,
      |  CAST(SUM(n.n_rows) AS BIGINT) AS n_rows, MIN(id) AS canonical_id
      |FROM comp JOIN names n ON n.nid = comp.id
      |GROUP BY comp""".stripMargin

  // ---- equal-frequency quantile binning -------------------------------
  /** Decile discretization of l_extendedprice: nine exact quantile
    * cuts via the DISTRIBUTED order statistic
    * ([[graft.stats.Histogram.exactQuantiles]] — range-partitioned
    * compressed domain, no single-reducer percentile buffer; its
    * `(n−1)·p` lerp is the same interpolation as DuckDB's
    * `quantile_cont`, already hash-pinned by the d1 histogram rows),
    * then bin = number of cuts strictly below the value. Per-bin row
    * counts and value ranges certify the cut placement end to end. */
  def quantileBins(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val fracs = (1 to 9).map(_ / 10.0)
    val n = li.filter(col("l_extendedprice").isNotNull).count()
    val cuts = graft.stats.Histogram.exactQuantiles(
      li, "l_extendedprice", fracs, n)
    li.withColumn("bin",
        size(filter(lit(cuts.toArray), c => c < col("l_extendedprice"))))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 6).as("lo"),
        round(max(col("l_extendedprice")), 6).as("hi"))
  }

  val quantileBinsOracle: String = {
    val fracs = (1 to 9).map(i => s"${i / 10.0}").mkString(", ")
    s"""WITH c AS (
       |  SELECT quantile_cont(l_extendedprice, [$fracs]) AS cuts FROM lineitem)
       |SELECT len(list_filter(cuts, x -> x < l_extendedprice)) AS bin,
       |  COUNT(*) AS n, ROUND(MIN(l_extendedprice), 6) AS lo,
       |  ROUND(MAX(l_extendedprice), 6) AS hi
       |FROM lineitem, c GROUP BY 1""".stripMargin
  }

  // ---- Welch's t-test (A/B experiment analysis) -----------------------
  /** Two-sample Welch's t between click and purchase values: moments
    * accumulate as DECIMAL (sum of x as (18,6), sum of x² as (38,12)
    * — the squares are computed in IEEE double first, identically in
    * both engines, then cast, so the decimal sums are associative
    * and order-free), and every derived double (means, sample
    * variances, t, Welch–Satterthwaite df) follows one expression
    * order the oracle restates verbatim. No p-value — neither engine
    * ships a t CDF; |t| > 1.96 is the large-df 5% line. One aggregate
    * pass + a 1×1-row join at any scale. */
  def abTtest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.load(s, d, "events")
      .filter(col("event_type").isin("click", "purchase") &&
        col("value").isNotNull)
    val g = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sx"),
      sum((col("value") * col("value")).cast(DecimalType(38, 12)))
        .cast("double").as("sxx"))
    val a = g.filter(col("event_type") === "click")
      .select(col("n").as("n_a"), col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = g.filter(col("event_type") === "purchase")
      .select(col("n").as("n_b"), col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    val meanA = col("sx_a") / col("n_a")
    val meanB = col("sx_b") / col("n_b")
    val varA = (col("sxx_a") - col("sx_a") * col("sx_a") / col("n_a")) / (col("n_a") - 1)
    val varB = (col("sxx_b") - col("sx_b") * col("sx_b") / col("n_b")) / (col("n_b") - 1)
    val seA = varA / col("n_a")
    val seB = varB / col("n_b")
    val se = seA + seB
    val tStat = (meanA - meanB) / sqrt(se)
    val dfW = se * se / (seA * seA / (col("n_a") - 1) + seB * seB / (col("n_b") - 1))
    a.crossJoin(b).select(
      col("n_a"), col("n_b"),
      round(meanA, 6).as("mean_a"), round(meanB, 6).as("mean_b"),
      round(tStat, 6).as("t_stat"), round(dfW, 6).as("df_welch"),
      (abs(tStat) > 1.96).as("significant_05"))
  }

  val abTtestOracle: String =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      |  GROUP BY 1),
      |a AS (SELECT n AS n_a, sx AS sx_a, sxx AS sxx_a FROM g WHERE event_type = 'click'),
      |b AS (SELECT n AS n_b, sx AS sx_b, sxx AS sxx_b FROM g WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT n_a, n_b,
      |    sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
      |    (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a AS se_a,
      |    (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) / n_b AS se_b
      |  FROM a, b)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
      |  ROUND((mean_a - mean_b) / SQRT(se_a + se_b), 6) AS t_stat,
      |  ROUND((se_a + se_b) * (se_a + se_b) /
      |    (se_a * se_a / (n_a - 1) + se_b * se_b / (n_b - 1)), 6) AS df_welch,
      |  ABS((mean_a - mean_b) / SQRT(se_a + se_b)) > 1.96 AS significant_05
      |FROM c""".stripMargin

  // ---- quality-classifier training (curation model stage) -------------
  /** The fastText-style curation step: train a model to predict the
    * rule-based quality gate from cheap per-doc statistics, so the
    * learned scorer can replace the rule stack on corpora where the
    * rules are miscalibrated. Protocol certification row (the m3
    * pattern): split/label counts are integer arithmetic the oracle
    * replays exactly (deterministic doc_id%5 hold-out, Gopher-rule
    * labels); the fitted-model quality enters as engine witnesses —
    * test AUC (via the exact rocAuc operator) and accuracy over
    * measured floors, finite coefficients. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.functions.vector_to_array
    val docs = Tables.load(s, d, "documents")
    val gated = graft.scaleops.TrainingData.gopherGate(docs, "doc_id", "text",
      minTokens = 10)
    val feat = gated.select(col("doc_id"),
      col("n_tokens").cast("double").as("f_tokens"),
      (col("sum_len").cast("double") / col("n_tokens")).as("f_mean_len"),
      (col("n_alpha_tok").cast("double") / col("n_tokens")).as("f_alpha"),
      (col("n_distinct_tok").cast("double") / col("n_tokens")).as("f_distinct"),
      col("n_stops").cast("double").as("f_stops"),
      when(col("passed"), 0.0).otherwise(1.0).as("label"))
      .localCheckpoint(false) // feeds train, test, and the counts agg
    val isTest = pmod(col("doc_id"), lit(5)) === 0
    val va = new VectorAssembler()
      .setInputCols(Array("f_tokens", "f_mean_len", "f_alpha", "f_distinct", "f_stops"))
      .setOutputCol("features")
    val model = new LogisticRegression().setMaxIter(50).setRegParam(0.01)
      .fit(va.transform(feat.filter(!isTest)))
    // 3-dp quantization honors rocAuc's distinct-score contract
    // (≤ 1001 buckets regardless of test-fold size — logistic outputs
    // are otherwise essentially unique per row)
    val pred = model.transform(va.transform(feat.filter(isTest)))
      .select(col("doc_id"), col("label"),
        round(element_at(vector_to_array(col("probability")), 2), 3).as("score"))
      .localCheckpoint(false) // feeds both the AUC and accuracy passes
    // an empty or single-class test fold makes AUC/accuracy undefined
    // (NULL divisions) — surface that as a red witness, never an NPE
    val aucRow = graft.stats.EvalMetrics.rocAuc(pred, col("score"),
      col("label").cast("int")).head()
    val auc = if (aucRow.isNullAt(2)) Double.NaN else aucRow.getDouble(2)
    val accRow = pred.agg(avg(when((col("score") > 0.5) === (col("label") === 1.0),
      1.0).otherwise(0.0))).head()
    val acc = if (accRow.isNullAt(0)) Double.NaN else accRow.getDouble(0)
    val coefsFinite = model.coefficients.toArray
      .forall(c => !c.isNaN && !c.isInfinite)
    feat.agg(
      sum(when(!isTest, 1L).otherwise(0L)).as("n_train"),
      sum(when(isTest, 1L).otherwise(0L)).as("n_test"),
      sum(when(!isTest && col("label") === 1.0, 1L).otherwise(0L)).as("n_reject_train"),
      sum(when(isTest && col("label") === 1.0, 1L).otherwise(0L)).as("n_reject_test"))
      .select(col("n_train"), col("n_test"),
        col("n_reject_train"), col("n_reject_test"),
        lit(auc >= 0.85).as("auc_ok"),
        lit(acc >= 0.8).as("acc_ok"),
        lit(coefsFinite).as("coefs_finite"))
  }

  val qualityClassifierOracle: String = {
    val stops = graft.scaleops.TextAnalysis.stopwords
      .map(graft.scaleops.TextAnalysis.sqlLit).mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id, len(toks) AS n,
       |    list_sum(list_transform(toks, t -> length(t))) AS sum_len,
       |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
       |    len(list_distinct(toks)) AS n_dist,
       |    len(list_intersect(list_distinct(toks), [$stops])) AS n_stops
       |  FROM (SELECT doc_id,
       |          string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM documents)),
       |lab AS (
       |  SELECT doc_id,
       |    CASE WHEN n >= 10 AND n <= 100000
       |      AND 3 * n <= sum_len AND sum_len <= 10 * n
       |      AND 5 * n_alpha >= 4 * n
       |      AND n_stops >= 2
       |      AND 10 * n_dist >= 3 * n THEN 0 ELSE 1 END AS rej
       |  FROM m)
       |SELECT
       |  CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN doc_id % 5 <> 0 AND rej = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reject_train,
       |  CAST(SUM(CASE WHEN doc_id % 5 = 0 AND rej = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reject_test,
       |  TRUE AS auc_ok, TRUE AS acc_ok, TRUE AS coefs_finite
       |FROM lab""".stripMargin
  }

  // ---- BPE tokenizer training -----------------------------------------
  private val bpeMerges = 6

  def bpeTrainMerges(s: SparkSession, d: String): DataFrame =
    graft.scaleops.BpeTrain.train(Tables.load(s, d, "documents"), "text", bpeMerges)._1

  val bpeTrainOracle: String = graft.scaleops.BpeTrain.oracleSql(
    "documents", "text", bpeMerges,
    "SELECT CAST(rank AS INT) AS rank, lft AS merge_left, rgt AS merge_right, " +
      "c AS pair_count FROM merges")

  def bpeSegment(s: SparkSession, d: String): DataFrame =
    graft.scaleops.BpeTrain.train(Tables.load(s, d, "documents"), "text", bpeMerges)._2
      .orderBy(col("cnt").desc, col("word").asc).limit(20)

  val bpeSegmentOracle: String = graft.scaleops.BpeTrain.oracleSql(
    "documents", "text", bpeMerges,
    s"SELECT word, CAST(cnt AS BIGINT) AS cnt, seg FROM v$bpeMerges " +
      "ORDER BY cnt DESC, word ASC LIMIT 20")

  /** Tokenize the corpus with the learned merges: per-doc word /
    * BPE-token / char counts — the compression-ratio report a
    * tokenizer-training loop watches. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
    val vocab = graft.scaleops.BpeTrain.train(docs, "text", bpeMerges)._2
    graft.scaleops.BpeTrain.applyBpe(docs, "doc_id", "text", vocab)
      .filter(col("doc_id") < 50)
  }

  val bpeApplyOracle: String = graft.scaleops.BpeTrain.oracleSql(
    "documents", "text", bpeMerges,
    s"""SELECT t.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(len(string_split(v.seg, ' '))) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(len(t.word)) AS BIGINT) AS n_chars
       |FROM (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
       |  FROM documents) t
       |JOIN v$bpeMerges v USING (word)
       |WHERE len(t.word) > 0 AND t.doc_id < 50
       |GROUP BY t.doc_id""".stripMargin)

  val all: Seq[Q] = Seq(
    Q("bpe_train_merges", bpeTrainMerges, Some(bpeTrainOracle)),
    Q("bpe_segment", bpeSegment, Some(bpeSegmentOracle)),
    Q("bpe_apply", bpeApply, Some(bpeApplyOracle)),
    Q("text_bm25_rank", bm25Rank, Some(bm25Oracle)),
    Q("ml_ndcg", ndcgAt10, Some(ndcgOracle)),
    Q("docs_quality_classifier", qualityClassifier, Some(qualityClassifierOracle)),
    Q("events_ab_ttest", abTtest, Some(abTtestOracle)),
    Q("events_scd2_history", scd2History, Some(scd2Oracle)),
    Q("er_pipeline_parts", erPipelineParts, Some(erPipelineOracle)),
    Q("ml_quantile_bins", quantileBins, Some(quantileBinsOracle)),
    Q("text_rake_keywords", rakeKeywords, Some(rakeOracle)),
    Q("docs_source_divergence", sourceDivergence, Some(sourceDivergenceOracle)),
    Q("ml_roc_auc", rocAuc, Some(rocAucOracle)),
    Q("ts_cusum_changes", cusumChanges, Some(cusumOracle)))
}

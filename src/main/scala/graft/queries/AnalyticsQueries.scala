package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import QUtil._

/** Product-analytics and statistical-testing queries: funnel
  * conversion, retention cohorts, two-sample Kolmogorov–Smirnov,
  * chi-square independence, per-series AR(1) one-step forecast, and
  * additive seasonal decomposition. Every row is oracle-checked —
  * counts are exact integers, and every derived double follows one
  * spelled-out expression order the DuckDB SQL restates verbatim
  * (QUtil policy: DECIMAL sums for associativity, 6-dp rounding on
  * bounded ratios).
  *
  * Reference scope note: the reference app's analysis surface stops
  * at descriptive stats + eval metrics (reference data_analysis.py);
  * these are the next operators a training-data/product pipeline
  * needs at scale, built on the same events/lineitem/orders tables.
  */
object AnalyticsQueries {

  private val usExpr = "epoch_us(CAST(ts AS TIMESTAMP))"

  // ---- funnel conversion (view -> click -> purchase) -------------------
  /** Ordered three-stage funnel — the strict-sequence generalization
    * of `events_funnel` (which measures one signup→purchase
    * conversion + delay): a user converts a stage only with an
    * event STRICTLY LATER than their previous-stage entry time. Each
    * stage is one keyed aggregation joined back to the (tiny) prior
    * stage frame — three shuffles on user_id, stage frames broadcast
    * under AQE, no window over the raw stream. Scales as three
    * filtered passes at any corpus size. */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
      .localCheckpoint(false) // feeds stage 2 and its own count
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"))
      .localCheckpoint(false) // feeds stage 3 and its own count
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        r6(col("n_click").cast("double") / col("n_view")).as("view_to_click"),
        r6(col("n_purchase").cast("double") / col("n_click")).as("click_to_purchase"),
        r6(col("n_purchase").cast("double") / col("n_view")).as("overall"))
  }

  val funnelOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, $usExpr AS us, event_type FROM events),
       |v AS (SELECT user_id, MIN(us) AS t1 FROM e
       |      WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN v USING (user_id)
       |      WHERE event_type = 'click' AND us > t1 GROUP BY 1),
       |p AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN c USING (user_id)
       |      WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
       |SELECT nv AS n_view, nc AS n_click, np AS n_purchase,
       |  ROUND(CAST(nc AS DOUBLE) / nv, 6) AS view_to_click,
       |  ROUND(CAST(np AS DOUBLE) / nc, 6) AS click_to_purchase,
       |  ROUND(CAST(np AS DOUBLE) / nv, 6) AS overall
       |FROM (SELECT COUNT(*) AS nv FROM v),
       |     (SELECT COUNT(*) AS nc FROM c),
       |     (SELECT COUNT(*) AS np FROM p)""".stripMargin

  /** Conversion-WINDOW funnel — [[funnelSteps]] with the real product
    * constraint attached: a stage counts only if reached within Δt of
    * the PREVIOUS stage entry (view → click ≤ 24 h → purchase ≤
    * 72 h). Same three-keyed-aggregation shape (never a window over
    * the raw stream); the per-stage deadline is pure integer-µs
    * arithmetic, and median time-to-convert per stage is reported in
    * whole seconds (exact integer division) for the latency view a
    * funnel dashboard shows next to the rates. */
  def funnelWindowed(s: SparkSession, d: String): DataFrame = {
    val clickUs = 24L * 3600 * 1000000
    val purchaseUs = 72L * 3600 * 1000000
    val ev = Tables.load(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
      .localCheckpoint(false)
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + lit(clickUs))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1"))
      .localCheckpoint(false)
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + lit(purchaseUs))
      .groupBy("user_id").agg(min("us").as("t3"), min("t2").as("t2"))
      .localCheckpoint(false) // feeds its count + both medianSec branches
    // median delay = exact lower-median order statistic, computed on
    // the GROUPED delay histogram (one shuffle collapses converted
    // users to distinct whole-second delays; the cumulative window
    // then runs over that small frame — never a rank over raw rows)
    def medianSec(df: DataFrame, from: String, to: String): DataFrame = {
      val d = df.select(expr(s"($to - $from) div 1000000").as("dsec"))
        .groupBy("dsec").agg(count(lit(1)).as("cnt"))
      d.withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("dsec"))))
        .crossJoin(broadcast(d.agg(sum(col("cnt")).as("n"))))
        .filter(col("cum") >= expr("(n - 1) div 2 + 1"))
        .agg(min(col("dsec")).as("dsec"))
    }
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_24h")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_72h")))
      .crossJoin(medianSec(c, "t1", "t2")
        .select(col("dsec").as("med_click_sec")))
      .crossJoin(medianSec(p, "t2", "t3")
        .select(col("dsec").as("med_purchase_sec")))
      .select(col("n_view"), col("n_click_24h"), col("n_purchase_72h"),
        r6(col("n_click_24h").cast("double") / col("n_view"))
          .as("view_to_click"),
        r6(col("n_purchase_72h").cast("double") / col("n_click_24h"))
          .as("click_to_purchase"),
        col("med_click_sec"), col("med_purchase_sec"))
  }

  val funnelWindowedOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, $usExpr AS us, event_type FROM events),
       |v AS (SELECT user_id, MIN(us) AS t1 FROM e
       |      WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, MIN(us) AS t2, MIN(t1) AS t1
       |      FROM e JOIN v USING (user_id)
       |      WHERE event_type = 'click' AND us > t1
       |        AND us <= t1 + 86400000000 GROUP BY 1),
       |p AS (SELECT e.user_id, MIN(us) AS t3, MIN(t2) AS t2
       |      FROM e JOIN c USING (user_id)
       |      WHERE event_type = 'purchase' AND us > t2
       |        AND us <= t2 + 259200000000 GROUP BY 1),
       |mc AS (
       |  SELECT MIN(dsec) AS med FROM (
       |    SELECT dsec, SUM(cnt) OVER (ORDER BY dsec) AS cum,
       |      SUM(cnt) OVER () AS n
       |    FROM (SELECT (t2 - t1) // 1000000 AS dsec, COUNT(*) AS cnt
       |          FROM c GROUP BY 1))
       |  WHERE cum >= (n - 1) // 2 + 1),
       |mp AS (
       |  SELECT MIN(dsec) AS med FROM (
       |    SELECT dsec, SUM(cnt) OVER (ORDER BY dsec) AS cum,
       |      SUM(cnt) OVER () AS n
       |    FROM (SELECT (t3 - t2) // 1000000 AS dsec, COUNT(*) AS cnt
       |          FROM p GROUP BY 1))
       |  WHERE cum >= (n - 1) // 2 + 1)
       |SELECT nv AS n_view, nc AS n_click_24h, np AS n_purchase_72h,
       |  ROUND(CAST(nc AS DOUBLE) / nv, 6) AS view_to_click,
       |  ROUND(CAST(np AS DOUBLE) / nc, 6) AS click_to_purchase,
       |  (SELECT med FROM mc) AS med_click_sec,
       |  (SELECT med FROM mp) AS med_purchase_sec
       |FROM (SELECT COUNT(*) AS nv FROM v),
       |     (SELECT COUNT(*) AS nc FROM c),
       |     (SELECT COUNT(*) AS np FROM p)""".stripMargin

  // ---- retention cohorts ------------------------------------------------
  /** Weekly retention triangle — the reporting rollup of
    * `events_retention`'s day-offset matrix (weeks are what a 100 TB
    * dashboard reads; day offsets at that scale are 10× the rows):
    * cohort = the user's first-seen epoch week, offset = whole weeks
    * since their first-seen DAY. All
    * bucketing is integer arithmetic on epoch days (`us div 86400e6`)
    * so no engine week-start convention is involved. One first-seen
    * aggregation + one join + one distinct count — two shuffles on
    * user_id (co-partitioned) and one on the output key. */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val days = Tables.load(s, d, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val first = days.groupBy("user_id").agg(min("day").as("day0"))
    days.join(first, "user_id")
      .select(col("user_id"), expr("day0 div 7").as("cohort_week"),
        expr("(day - day0) div 7").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
  }

  val retentionOracle: String =
    s"""WITH d AS (
       |  SELECT user_id,
       |    CAST(FLOOR($usExpr / 86400000000) AS BIGINT) AS day
       |  FROM events),
       |f AS (SELECT user_id, MIN(day) AS day0 FROM d GROUP BY 1)
       |SELECT CAST(FLOOR(day0 / 7) AS BIGINT) AS cohort_week,
       |  CAST(FLOOR((day - day0) / 7) AS BIGINT) AS week_offset,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM d JOIN f USING (user_id)
       |GROUP BY 1, 2""".stripMargin

  // ---- two-sample Kolmogorov–Smirnov ------------------------------------
  /** Exact two-sample KS over l_quantity, RETURN ('R') vs ACCEPT
    * ('A') flags: D = max |ECDF_R − ECDF_A| evaluated at every
    * distinct value (tie-correct by construction — the ECDFs step
    * together at shared values). The cumulative pass is a window over
    * DISTINCT VALUES, so like `ml_roc_auc` the contract is value
    * cardinality ≪ rows (quantities here are 50 integers; quantize
    * first for continuous data). The 5% critical value is the
    * large-sample 1.358·sqrt((n1+n2)/(n1·n2)) line; the decision bit
    * is computed on unrounded doubles identically in both engines. */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem").filter(col("l_returnflag").isin("R", "A"))
    val g = li.groupBy(col("l_quantity").as("v")).agg(
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("c1"),
      sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("v")
    val tot = li.agg(
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n1"),
      sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n2"))
    val dStat = g.select(sum("c1").over(w).as("f1"), sum("c2").over(w).as("f2"))
      .crossJoin(broadcast(tot))
      .select(abs(col("f1").cast("double") / col("n1") -
        col("f2").cast("double") / col("n2")).as("dd"),
        col("n1"), col("n2"))
      .groupBy("n1", "n2").agg(max("dd").as("d"))
    val crit = lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
      (col("n1").cast("double") * col("n2")))
    dStat.select(col("n1"), col("n2"), r6(col("d")).as("d_stat"),
      r6(crit).as("crit_05"), (col("d") > crit).as("significant_05"))
  }

  val ksOracle: String =
    """WITH li AS (
      |  SELECT l_quantity AS v, l_returnflag FROM lineitem
      |  WHERE l_returnflag IN ('R', 'A')),
      |g AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM li GROUP BY v),
      |tot AS (
      |  SELECT CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM li),
      |cum AS (
      |  SELECT SUM(c1) OVER (ORDER BY v) AS f1,
      |    SUM(c2) OVER (ORDER BY v) AS f2
      |  FROM g),
      |d AS (
      |  SELECT n1, n2,
      |    MAX(ABS(CAST(f1 AS DOUBLE) / n1 - CAST(f2 AS DOUBLE) / n2)) AS d
      |  FROM cum, tot GROUP BY n1, n2)
      |SELECT n1, n2, ROUND(d, 6) AS d_stat,
      |  ROUND(1.358 * SQRT(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)), 6) AS crit_05,
      |  d > 1.358 * SQRT(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) AS significant_05
      |FROM d""".stripMargin

  // ---- chi-square test of independence ----------------------------------
  /** Pearson chi-square of o_orderstatus × o_orderpriority. The full
    * r×c grid (including zero-observed cells — they still contribute
    * `expected`) comes from crossing the two marginal frames and
    * left-joining observed counts. Per-cell terms are doubles in one
    * spelled order ((obs−exp)·(obs−exp)/exp, exp = rt·ct/N as
    * double), rounded to 9 dp and summed as DECIMAL so the grid
    * reduction is order-free. Marginals are tiny aggregate frames —
    * everything after the first groupBy is broadcast-sized. */
  def chi2Independence(s: SparkSession, d: String): DataFrame = {
    val cell = Tables.load(s, d, "orders")
      .groupBy("o_orderstatus", "o_orderpriority").agg(count(lit(1)).as("obs"))
      .localCheckpoint(false) // feeds marginals and the grid join
    val rowt = cell.groupBy("o_orderstatus").agg(sum("obs").as("rt"))
    val colt = cell.groupBy("o_orderpriority").agg(sum("obs").as("ct"))
    val n = cell.agg(sum("obs").as("n"))
    val grid = rowt.crossJoin(colt)
      .join(cell, Seq("o_orderstatus", "o_orderpriority"), "left")
      .na.fill(0L, Seq("obs")).crossJoin(broadcast(n))
    val expd = col("rt").cast("double") * col("ct") / col("n")
    val diff = col("obs").cast("double") - expd
    val term = diff * diff / expd
    val rc = grid.agg(
      sum(round(term, 9).cast(DecimalType(38, 9))).as("chi2_d"),
      countDistinct("o_orderstatus").as("r"),
      countDistinct("o_orderpriority").as("c"),
      min("n").as("n"))
    rc.select(col("n"),
      ((col("r") - 1) * (col("c") - 1)).as("df"),
      r6(col("chi2_d").cast("double")).as("chi2"),
      r6(sqrt(col("chi2_d").cast("double") /
        (col("n") * least(col("r") - 1, col("c") - 1)))).as("cramers_v"))
  }

  val chi2Oracle: String =
    """WITH cell AS (
      |  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS obs
      |  FROM orders GROUP BY 1, 2),
      |rowt AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS rt FROM cell GROUP BY 1),
      |colt AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS ct FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cell),
      |grid AS (
      |  SELECT o_orderstatus, o_orderpriority, rt, ct, COALESCE(obs, 0) AS obs, n
      |  FROM rowt CROSS JOIN colt CROSS JOIN tot
      |  LEFT JOIN cell USING (o_orderstatus, o_orderpriority)),
      |terms AS (
      |  SELECT o_orderstatus, o_orderpriority, n,
      |    CAST(ROUND((CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
      |      * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
      |      / (CAST(rt AS DOUBLE) * ct / n), 9) AS DECIMAL(38,9)) AS term
      |  FROM grid),
      |agg AS (
      |  SELECT MIN(n) AS n,
      |    COUNT(DISTINCT o_orderstatus) AS rr,
      |    COUNT(DISTINCT o_orderpriority) AS cc,
      |    SUM(term) AS chi2_d
      |  FROM terms)
      |SELECT n, CAST((rr - 1) * (cc - 1) AS BIGINT) AS df,
      |  ROUND(CAST(CAST(chi2_d AS VARCHAR) AS DOUBLE), 6) AS chi2,
      |  ROUND(SQRT(CAST(CAST(chi2_d AS VARCHAR) AS DOUBLE)
      |    / (n * LEAST(rr - 1, cc - 1))), 6) AS cramers_v
      |FROM agg""".stripMargin

  // ---- per-series AR(1) one-step forecast --------------------------------
  /** Per-user AR(1) fit by exact OLS over (lagged, current) value
    * pairs: y_t = c + φ·y_{t−1}. The moment sums follow the abTtest
    * DECIMAL discipline (each product computed in IEEE double, cast
    * to DECIMAL, summed associatively), so φ/intercept/forecast are
    * single-expression-order doubles both engines reproduce bit for
    * bit. One window shuffle on user_id builds the lag pairs; the
    * moment aggregation reuses the same partitioning. Degenerate
    * series (fewer than 3 pairs or zero variance in the lag) are
    * filtered on the unrounded denominator — same bits, same rows. */
  def ar1Forecast(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events").filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = ev.withColumn("x", lag("value", 1).over(w))
      .filter(col("x").isNotNull)
    val agg = pairs.groupBy("user_id").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x").cast(DecimalType(18, 6))).cast("double").as("sx"),
      sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 12))).cast("double").as("sxx"),
      sum((col("x") * col("value")).cast(DecimalType(38, 12))).cast("double").as("sxy"),
      max_by(col("value"), struct(col("us"), col("event_id"))).as("y_last"))
    val nD = col("n_pairs").cast("double")
    val denom = nD * col("sxx") - col("sx") * col("sx")
    val phi = (nD * col("sxy") - col("sx") * col("sy")) / denom
    val c0 = (col("sy") - phi * col("sx")) / nD
    agg.filter(col("n_pairs") >= 3 && denom =!= 0.0)
      .select(col("user_id"), col("n_pairs"),
        r6(phi).as("phi"), r6(c0).as("intercept"),
        r6(c0 + phi * col("y_last")).as("forecast"))
  }

  val ar1Oracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, $usExpr AS us, event_id, value
       |  FROM events WHERE value IS NOT NULL),
       |p AS (
       |  SELECT user_id, value AS y,
       |    LAG(value) OVER (PARTITION BY user_id ORDER BY us, event_id) AS x,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
       |  FROM ev),
       |a AS (
       |  SELECT user_id, CAST(COUNT(x) AS BIGINT) AS n_pairs,
       |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(CASE WHEN x IS NOT NULL
       |      THEN CAST(y AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy,
       |    MAX(CASE WHEN rn = 1 THEN y END) AS y_last
       |  FROM p GROUP BY user_id),
       |f AS (
       |  SELECT user_id, n_pairs, sx, sy, sxx, sxy, y_last,
       |    CAST(n_pairs AS DOUBLE) * sxx - sx * sx AS denom,
       |    (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
       |      / (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) AS phi
       |  FROM a)
       |SELECT user_id, n_pairs, ROUND(phi, 6) AS phi,
       |  ROUND((sy - phi * sx) / CAST(n_pairs AS DOUBLE), 6) AS intercept,
       |  ROUND((sy - phi * sx) / CAST(n_pairs AS DOUBLE) + phi * y_last, 6) AS forecast
       |FROM f WHERE n_pairs >= 3 AND denom <> 0.0""".stripMargin

  // ---- additive seasonal decomposition (day-of-week) ---------------------
  /** Classic additive decomposition of the daily value total:
    * trend = centered 7-day moving average (full windows only),
    * seasonal index = mean detrended value per day-of-week slot
    * (epoch_day mod 7 — convention-free arithmetic). Daily totals are
    * DECIMAL sums (exact); detrended residuals are rounded to 9 dp
    * and re-summed as DECIMAL so the per-slot mean is order-free.
    * Contract: the daily spine must be DENSE (a rows-window is
    * neighbors-by-row); gaps need a calendar spine join first. The
    * global window runs over day cardinality — bounded by the time
    * range, not the row count. */
  def seasonalDow(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.load(s, d, "events").filter(col("value").isNotNull)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 6))).as("sd"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("win_sum", sum("sd").over(w))
      .filter(col("win_n") === 7)
      .select(pmod(col("day"), lit(7)).as("dow"),
        (col("sd").cast("double") - col("win_sum").cast("double") / 7.0).as("detr"))
    trended.groupBy("dow").agg(
      count(lit(1)).as("n_days"),
      r6(sum(round(col("detr"), 9).cast(DecimalType(38, 9))).cast("double") /
        count(lit(1))).as("seasonal"))
  }

  val seasonalOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(FLOOR($usExpr / 86400000000) AS BIGINT) AS day,
       |    SUM(CAST(value AS DECIMAL(18,6))) AS sd
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |tr AS (
       |  SELECT day, sd,
       |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_n,
       |    SUM(sd) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_sum
       |  FROM daily),
       |detr AS (
       |  SELECT day % 7 AS dow,
       |    CAST(CAST(sd AS VARCHAR) AS DOUBLE)
       |      - CAST(CAST(win_sum AS VARCHAR) AS DOUBLE) / 7.0 AS detr
       |  FROM tr WHERE win_n = 7)
       |SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  ROUND(CAST(CAST(SUM(CAST(ROUND(detr, 9) AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*), 6) AS seasonal
       |FROM detr GROUP BY dow""".stripMargin

  // ---- Markov transition matrix over event sequences ---------------------
  /** First-order event-type transition matrix: per-user consecutive
    * (from → to) pairs via one lag window, then exact counts and
    * row-normalized probabilities (integer ratio, 6-dp rounded). The
    * sequence-modeling summary a behavioral pipeline starts from; one
    * window shuffle + one small aggregation at any scale. */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events").select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = ev.withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("n_from"))
    counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        r6(col("n").cast("double") / col("n_from")).as("p"))
  }

  val markovOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, $usExpr AS us, event_id, event_type FROM events),
       |p AS (
       |  SELECT LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS from_type,
       |    event_type AS to_type
       |  FROM ev),
       |c AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
       |        FROM c GROUP BY 1)
       |SELECT from_type, to_type, n,
       |  ROUND(CAST(n AS DOUBLE) / n_from, 6) AS p
       |FROM c JOIN tot USING (from_type)""".stripMargin

  // ---- calibration bins (reliability diagram) ----------------------------
  /** Reliability diagram of a row-level heuristic scorer (scaled
    * quantity, p̂ = l_quantity/50 — quantity correlates with line
    * value, so the bins have real spread and real mis-calibration to
    * show) against the label `l_extendedprice` above its global
    * DECIMAL-exact mean: ten fixed-width probability bins, each
    * reporting count, mean predicted probability, and observed
    * positive rate — the calibration view that complements ROC's
    * ranking view. Bin means are single divisions of DECIMAL sums
    * (the scaled score is re-rounded to 6 dp before summing so the
    * per-bin reduction is order-free). */
  def calibrationBins(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val thresh = li.agg(
      (sum(dec4(col("l_extendedprice"))).cast("double") / count(lit(1)))
        .as("mu"))
    val scored = li.crossJoin(broadcast(thresh))
      .select(round(col("l_quantity") / 50.0, 6).as("phat6"),
        when(col("l_extendedprice") > col("mu"), 1L).otherwise(0L).as("y"))
    scored.groupBy(least(lit(9), floor(col("phat6") * 10)).as("bin"))
      .agg(count(lit(1)).as("n"),
        r6(sum(col("phat6").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("mean_pred"),
        r6(sum(col("y")).cast("double") / count(lit(1))).as("frac_pos"))
  }

  val calibrationOracle: String =
    """WITH t AS (
      |  SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
      |      / COUNT(*) AS mu
      |  FROM lineitem),
      |s AS (
      |  SELECT ROUND(l_quantity / 50.0, 6) AS phat6,
      |    CASE WHEN l_extendedprice > mu THEN 1 ELSE 0 END AS y
      |  FROM lineitem, t)
      |SELECT LEAST(9, CAST(FLOOR(phat6 * 10) AS BIGINT)) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(CAST(CAST(SUM(CAST(phat6 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_pred,
      |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
      |FROM s GROUP BY 1""".stripMargin

  /** Cumulative gains / lift table — the model-targeting view that
    * complements [[calibrationBins]] (calibration) and ROC (ranking):
    * "contact the top-scored X% → capture Y% of positives at Z× the
    * base rate". Computed at SCORE-BUCKET granularity, not forced
    * deciles: a global NTILE funnels the whole corpus through one
    * rank task, while grouping by the (small-cardinality) rounded
    * score keeps corpus work to ONE groupBy and runs the cumulative
    * window over the ~50-row aggregate. Same deterministic scorer and
    * label as calibrationBins; capture is exact integer ppm
    * (`div` ≡ `//`), lift is one spelled-out double expression
    * floor-quantized to 6 dp. */
  def gainsCurve(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val thresh = li.agg(
      (sum(dec4(col("l_extendedprice"))).cast("double") / count(lit(1)))
        .as("mu"))
    val scored = li.crossJoin(broadcast(thresh))
      .select(round(col("l_quantity") / 50.0, 6).as("phat6"),
        when(col("l_extendedprice") > col("mu"), 1L).otherwise(0L).as("y"))
    val g = scored.groupBy("phat6")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint(false) // feeds the cumulative window + totals
    val w = Window.orderBy(col("phat6").desc) // ~50 aggregate rows
    g.select(col("phat6"),
        sum(col("n")).over(w).as("cum_n"),
        sum(col("pos")).over(w).as("cum_pos"))
      .crossJoin(broadcast(g.agg(sum(col("n")).as("tot_n"),
        sum(col("pos")).as("tot_pos"))))
      .select(col("phat6"), col("cum_n"), col("cum_pos"),
        expr("(cum_pos * CAST(1000000 AS BIGINT)) div tot_pos")
          .as("capture_ppm"),
        (floor(col("cum_pos").cast("double") * col("tot_n") /
          col("cum_n") / col("tot_pos") * lit(1000000.0) + lit(0.5)) /
          lit(1000000.0)).as("lift"))
  }

  val gainsCurveOracle: String =
    """WITH t AS (
      |  SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
      |      / COUNT(*) AS mu
      |  FROM lineitem),
      |s AS (
      |  SELECT ROUND(l_quantity / 50.0, 6) AS phat6,
      |    CASE WHEN l_extendedprice > mu THEN 1 ELSE 0 END AS y
      |  FROM lineitem, t),
      |g AS (SELECT phat6, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
      |  FROM s GROUP BY 1),
      |c AS (
      |  SELECT phat6,
      |    SUM(n) OVER (ORDER BY phat6 DESC) AS cum_n,
      |    SUM(pos) OVER (ORDER BY phat6 DESC) AS cum_pos
      |  FROM g),
      |tot AS (SELECT SUM(n) AS tot_n, SUM(pos) AS tot_pos FROM g)
      |SELECT phat6, CAST(cum_n AS BIGINT) AS cum_n,
      |  CAST(cum_pos AS BIGINT) AS cum_pos,
      |  CAST(cum_pos * 1000000 // tot_pos AS BIGINT) AS capture_ppm,
      |  FLOOR(CAST(cum_pos AS DOUBLE) * tot_n / cum_n / tot_pos
      |    * 1000000.0 + 0.5) / 1000000.0 AS lift
      |FROM c, tot""".stripMargin

  // ---- information value / weight of evidence -----------------------------
  /** Information Value of a categorical feature against a binary
    * label (the credit-scoring feature-selection metric; Siddiqi
    * 2006): per category, WoE = ln(good_share / bad_share) with the
    * +0.5 continuity adjustment on counts (zero-class categories stay
    * finite, the standard "adjusted WoE"); IV = Σ (gs − bs)·WoE.
    * Feature: o_orderpriority; label: order value above its
    * DECIMAL-exact corpus mean (the calibrationBins labeling rule).
    * One groupBy + two broadcast one-row joins — trivially
    * scale-safe. Cross-engine: shares are integer-count divisions
    * (IEEE-identical), WoE/IV quantize via floor(x·10^s + 0.5) — the
    * [[pcaPower]] discipline; the cross-category IV sum adds exact
    * integer nanos, order-free. */
  def infoValue(s: SparkSession, d: String): DataFrame = {
    val o = Tables.load(s, d, "orders")
    val mu = o.agg(
      (sum(dec4(col("o_totalprice"))).cast("double") / count(lit(1)))
        .as("mu"))
    val counts = o.crossJoin(broadcast(mu))
      .select(col("o_orderpriority").as("category"),
        when(col("o_totalprice") > col("mu"), 1L).otherwise(0L).as("y"))
      .groupBy("category")
      .agg(sum(col("y")).as("n_good"),
        (count(lit(1)) - sum(col("y"))).as("n_bad"))
    val tot = counts.agg(sum(col("n_good")).as("g_tot"),
      sum(col("n_bad")).as("b_tot"))
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("gs",
        (col("n_good").cast("double") + lit(0.5)) / col("g_tot"))
      .withColumn("bs",
        (col("n_bad").cast("double") + lit(0.5)) / col("b_tot"))
      .withColumn("woe_micro",
        floor(log(col("gs") / col("bs")) * lit(1000000.0) + lit(0.5)))
      .withColumn("term_nano",
        floor((col("gs") - col("bs")) * log(col("gs") / col("bs"))
          * lit(1000000000.0) + lit(0.5)))
    val iv = terms.agg(sum(col("term_nano")).as("iv_nano"))
    terms.crossJoin(broadcast(iv))
      .select(col("category"), col("n_good"), col("n_bad"),
        (col("woe_micro") / lit(1000000.0)).as("woe"),
        (col("iv_nano") / lit(1000000000.0)).as("iv_total"))
  }

  val infoValueOracle: String =
    """WITH m AS (
      |  SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
      |      / COUNT(*) AS mu
      |  FROM orders),
      |lab AS (
      |  SELECT o_orderpriority AS category,
      |    CASE WHEN o_totalprice > mu THEN 1 ELSE 0 END AS y
      |  FROM orders, m),
      |c AS (
      |  SELECT category, CAST(SUM(y) AS BIGINT) AS n_good,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_bad
      |  FROM lab GROUP BY category),
      |tot AS (
      |  SELECT CAST(SUM(n_good) AS BIGINT) AS g_tot,
      |    CAST(SUM(n_bad) AS BIGINT) AS b_tot FROM c),
      |terms AS (
      |  SELECT category, n_good, n_bad,
      |    (CAST(n_good AS DOUBLE) + 0.5) / g_tot AS gs,
      |    (CAST(n_bad AS DOUBLE) + 0.5) / b_tot AS bs
      |  FROM c, tot),
      |q AS (
      |  SELECT category, n_good, n_bad,
      |    FLOOR(LN(gs / bs) * 1000000.0 + 0.5) AS woe_micro,
      |    FLOOR((gs - bs) * LN(gs / bs) * 1000000000.0 + 0.5) AS term_nano
      |  FROM terms),
      |iv AS (SELECT SUM(term_nano) AS iv_nano FROM q)
      |SELECT category, n_good, n_bad,
      |  woe_micro / 1000000.0 AS woe,
      |  iv_nano / 1000000000.0 AS iv_total
      |FROM q, iv""".stripMargin

  // ---- PCA top component via power iteration -----------------------------
  private val pcaCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val pcaIters = 5

  /** Top principal component of the 4 numeric lineitem measures by
    * FIVE power-iteration rounds over the covariance matrix. The
    * corpus-sized work is ONE aggregation pass (DECIMAL moment sums —
    * 4 first moments, 10 second moments); the iteration is 4×4
    * scalar arithmetic over the 15 collected moments, run DRIVER-SIDE
    * in the same left-associated IEEE order the oracle restates
    * verbatim (the localKMeans discipline — a first cut chained the
    * rounds as nested `withColumn` expressions and paid ~2 s extra
    * of Catalyst/codegen on a ONE-ROW frame: each round multiplies
    * the expression tree). The trajectory (not just the fixed point)
    * is hash-pinned.
    *
    * Cross-engine exactness discipline (round-9 fix of the one red
    * gate row): every double→decimal boundary is quantized in PURE
    * IEEE double arithmetic — `floor(x·10^s + 0.5)` — which both
    * engines evaluate bit-identically, instead of a per-engine
    * double→DECIMAL cast (DuckDB scales-then-nearbyints, Spark goes
    * through the shortest-string BigDecimal; at DECIMAL(38,12) the
    * scaled double ~1e22 quantizes to ~4e6 units, so the two casts
    * disagree per term and the accumulated ~1e-3 drift flips the
    * moment's final double with ~1% probability per moment). All
    * measures have ≤2 decimal digits, so products are exact at 4 dp;
    * x·y·1e4 ≤ 1.1e14 ≪ 2^53 keeps the floor argument in the exact
    * integer range. The same trick replaces ROUND(double,6) on the
    * emitted values (DuckDB's multiply-based ROUND is
    * version-dependent at the ulp). Bonus: the per-term value is now
    * a compact DECIMAL(18,0), not DECIMAL(38,12) — the sum input
    * stays on the long-backed path (the old ten wide-decimal sums
    * were ~4 s of BigDecimal at sf0.1).
    * Raw covariance, not correlation — the price axis dominates by
    * construction and the certified eigenvector says so. Start
    * vector [0.5,0.5,0.5,0.5] (unit norm, exact binary);
    * eigenvalue = the final iteration's ‖Cv‖. */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val k = pcaCols.length
    val aggs =
      pcaCols.zipWithIndex.map { case (c, i) =>
        sum(dec4(col(c))).cast("double").as(s"s$i") } ++
      (for { i <- 0 until k; j <- i until k } yield
        (sum(floor(col(pcaCols(i)) * col(pcaCols(j)) * lit(10000.0) + lit(0.5))
          .cast(DecimalType(18, 0))).cast("double") / lit(10000.0))
          .as(s"s${i}_$j"))
    val m = li.agg(count(lit(1)).as("n"), aggs: _*).head()
    val n = m.getLong(0)
    def d0(name: String): Double = m.getDouble(m.fieldIndex(name))
    val cov = Array.tabulate(k, k) { (i, j) =>
      val (a, b) = (math.min(i, j), math.max(i, j))
      // same expression order as the oracle: s_ij/n − (s_i/n)·(s_j/n)
      d0(s"s${a}_$b") / n - (d0(s"s$a") / n) * (d0(s"s$b") / n)
    }
    val v = Array.fill(k)(0.5)
    var nrm = 0.0
    for (_ <- 1 to pcaIters) {
      val w = Array.tabulate(k) { i =>
        var acc = 0.0 // left-assoc fold, same order as the SQL `+` chain
        var j = 0
        while (j < k) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      var acc = 0.0
      var i = 0
      while (i < k) { acc += w(i) * w(i); i += 1 }
      nrm = math.sqrt(acc)
      var i2 = 0
      while (i2 < k) { v(i2) = w(i2) / nrm; i2 += 1 }
    }
    // pure-IEEE 6-dp quantizer: bit-identical to the oracle's
    // FLOOR(x * 1000000.0 + 0.5) / 1000000.0 (no per-engine ROUND)
    def q6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    import s.implicits._
    Seq((n, q6(v(0)), q6(v(1)), q6(v(2)), q6(v(3)), q6(nrm)))
      .toDF("n" +: pcaCols.map(c => s"pc1_$c") :+ "eigenvalue": _*)
  }

  val pcaOracle: String = {
    val k = pcaCols.length
    val mom =
      pcaCols.zipWithIndex.map { case (c, i) =>
        s"CAST(CAST(SUM(CAST($c AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s$i"
      } ++
      (for { i <- 0 until k; j <- i until k } yield
        s"CAST(CAST(SUM(CAST(FLOOR(${pcaCols(i)} * ${pcaCols(j)} * 10000.0 + 0.5)" +
          s" AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS s${i}_$j")
    val cov = (for { i <- 0 until k; j <- i until k } yield
      s"s${i}_$j / n - (s$i / n) * (s$j / n) AS c${i}_$j").mkString(", ")
    def cn(i: Int, j: Int) = s"c${math.min(i, j)}_${math.max(i, j)}"
    val iterCtes = (1 to pcaIters).map { it =>
      val prev = if (it == 1) "c0" else s"it${it - 1}"
      val ws = (0 until k).map(i =>
        (0 until k).map(j => s"${cn(i, j)} * v$j").mkString(" + ") +
          s" AS w$i").mkString(", ")
      s"""w$it AS (SELECT *, $ws FROM $prev),
         |n$it AS (SELECT *, SQRT(${(0 until k).map(i => s"w$i * w$i").mkString(" + ")}) AS nrm$it FROM w$it),
         |it$it AS (SELECT * EXCLUDE (${(0 until k).map(i => s"v$i").mkString(", ")}, ${(0 until k).map(i => s"w$i").mkString(", ")}),
         |  ${(0 until k).map(i => s"w$i / nrm$it AS v$i").mkString(", ")} FROM n$it)""".stripMargin
    }.mkString(",\n")
    s"""WITH m AS (
       |  SELECT COUNT(*) AS n, ${mom.mkString(", ")} FROM lineitem),
       |c AS (SELECT n, $cov FROM m),
       |c0 AS (SELECT *, ${(0 until k).map(i => s"CAST(0.5 AS DOUBLE) AS v$i").mkString(", ")} FROM c),
       |$iterCtes
       |SELECT CAST(n AS BIGINT) AS n,
       |  ${pcaCols.zipWithIndex.map { case (c, i) =>
             s"FLOOR(v$i * 1000000.0 + 0.5) / 1000000.0 AS pc1_$c" }.mkString(", ")},
       |  FLOOR(nrm$pcaIters * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue
       |FROM it$pcaIters""".stripMargin
  }

  // ---- last-touch attribution --------------------------------------------
  /** Marketing attribution: each purchase credits the LATEST
    * view/click at-or-before it (per user), revenue rolls up per
    * channel with an explicit `unattributed` bucket. Composes the
    * spec-pinned [[graft.operators.AsOfJoin]] (purchase side left,
    * touch side right — the reverse direction of `asof_last_purchase`)
    * with a DECIMAL revenue rollup; equal-timestamp touches collapse
    * to one row by MAX(event_type) first, so the as-of pick is
    * deterministic in both engines. */
  def lastTouchAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
    val purchases = ev
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .agg(max(col("event_type")).as("touch_type"))
    graft.operators.AsOfJoin.backward(purchases, touches,
      keys = Seq("user_id"), tsCol = "ts_us",
      rightValueCols = Seq("touch_type"))
      .groupBy(coalesce(col("touch_type"), lit("unattributed")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        moneySum(dec6(col("value"))).as("revenue"))
  }

  val attributionOracle: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id, $usExpr AS ts_us, value
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |tch AS (
       |  SELECT user_id, $usExpr AS ts_us, MAX(event_type) AS touch_type
       |  FROM events WHERE event_type IN ('view', 'click')
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT p.value, tch.touch_type
       |  FROM p ASOF LEFT JOIN tch
       |    ON p.user_id = tch.user_id AND tch.ts_us <= p.ts_us)
       |SELECT COALESCE(touch_type, 'unattributed') AS channel,
       |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
       |FROM j GROUP BY 1""".stripMargin

  // ---- expanding-window time-series CV folds -----------------------------
  /** Leakage-safe temporal cross-validation plan: five expanding-
    * window folds over the event day range — fold i trains on
    * everything before its test block, test blocks tile the last 5/6
    * of the span. All boundaries are integer epoch-day arithmetic
    * (`div`), so the plan is reproducible on any engine; per-fold
    * train/test row counts are conditional aggregates of ONE
    * day-annotated pass (the fold table is 5 broadcast rows). The
    * temporal complement of `ml_group_folds` (entity-disjoint) and
    * W1's single ordered split. */
  def tsCvFolds(s: SparkSession, d: String): DataFrame = {
    val days = Tables.load(s, d, "events")
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
    val bounds = days.agg(min("day").as("dmin"), max("day").as("dmax"))
    val folds = s.range(1, 6).toDF("fold").crossJoin(broadcast(bounds))
      .withColumn("span", col("dmax") - col("dmin") + 1)
      .select(col("fold"),
        (col("dmin") + expr("fold * span div 6")).as("test_start"),
        (col("dmin") + expr("(fold + 1) * span div 6")).as("test_end"))
    days.crossJoin(broadcast(folds))
      .groupBy("fold", "test_start", "test_end")
      .agg(
        sum(when(col("day") < col("test_start"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("day") >= col("test_start") &&
          col("day") < col("test_end"), 1L).otherwise(0L)).as("n_test"))
  }

  val tsCvFoldsOracle: String =
    s"""WITH days AS (
       |  SELECT CAST(FLOOR($usExpr / 86400000000) AS BIGINT) AS day FROM events),
       |b AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM days),
       |f AS (
       |  SELECT fold, dmin + CAST(FLOOR(fold * span / 6.0) AS BIGINT) AS test_start,
       |    dmin + CAST(FLOOR((fold + 1) * span / 6.0) AS BIGINT) AS test_end
       |  FROM (SELECT r.fold, dmin, dmax - dmin + 1 AS span
       |        FROM range(1, 6) r(fold), b))
       |SELECT fold, test_start, test_end,
       |  CAST(SUM(CASE WHEN day < test_start THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN day >= test_start AND day < test_end
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |FROM days, f
       |GROUP BY 1, 2, 3""".stripMargin

  // ---- partition-key skew report -----------------------------------------
  /** The diagnostic run before choosing a shuffle key at scale: key
    * cardinality, max key share, and the Gini coefficient of the key
    * count distribution (0 = uniform, →1 = one mega-key) for
    * l_suppkey. The rank-weighted Gini sum Σ rank·cnt is INTEGER
    * (exact); the global rank window runs over DISTINCT KEYS — the
    * rocAuc cardinality contract, which is precisely the population a
    * skew report exists to summarize. */
  def skewReport(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.load(s, d, "lineitem")
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").asc, col("key").asc)
    counts.withColumn("rnk", row_number().over(w))
      .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"), sum(col("rnk") * col("cnt")).as("wsum"))
      .select(col("n_keys"), col("n_rows"),
        r6(col("max_cnt").cast("double") / col("n_rows")).as("max_share"),
        r6((lit(2.0) * col("wsum") / (col("n_keys").cast("double") * col("n_rows"))) -
          ((col("n_keys") + 1).cast("double") / col("n_keys"))).as("gini"))
  }

  val skewReportOracle: String =
    """WITH c AS (
      |  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT cnt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt ASC, key ASC) AS BIGINT) AS rnk
      |  FROM c),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |    CAST(SUM(rnk * cnt) AS BIGINT) AS wsum
      |  FROM r)
      |SELECT n_keys, n_rows,
      |  ROUND(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS max_share,
      |  ROUND(2.0 * wsum / (CAST(n_keys AS DOUBLE) * n_rows)
      |    - CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) AS gini
      |FROM a""".stripMargin

  val all: Seq[Q] = Seq(
    Q("events_funnel_steps", funnelSteps, Some(funnelOracle)),
    Q("events_funnel_windowed", funnelWindowed, Some(funnelWindowedOracle)),
    Q("events_retention_cohorts", retentionCohorts, Some(retentionOracle)),
    Q("ml_ks_test", ksTest, Some(ksOracle)),
    Q("ml_chi2_independence", chi2Independence, Some(chi2Oracle)),
    Q("ts_ar1_forecast", ar1Forecast, Some(ar1Oracle)),
    Q("ts_seasonal_dow", seasonalDow, Some(seasonalOracle)),
    Q("events_markov_transitions", markovTransitions, Some(markovOracle)),
    Q("ml_calibration_bins", calibrationBins, Some(calibrationOracle)),
    Q("ml_gains_curve", gainsCurve, Some(gainsCurveOracle)),
    Q("ml_information_value", infoValue, Some(infoValueOracle)),
    Q("ml_pca_power", pcaPower, Some(pcaOracle)),
    Q("events_attribution_last_touch", lastTouchAttribution, Some(attributionOracle)),
    Q("ml_ts_cv_folds", tsCvFolds, Some(tsCvFoldsOracle)),
    Q("q_skew_report", skewReport, Some(skewReportOracle)))
}

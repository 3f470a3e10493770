package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QUtil._

/** The remaining classic warehouse query shapes over the harness star
  * schema — correlated aggregates, scalar-subquery selection,
  * nation-pair volume, market share, distribution histograms.
  *
  * The harness schema is TPC-H-ish but reduced (TESTDATA.md): no
  * `partsupp`, no `l_shipmode`/`l_commitdate`/`l_receiptdate`, no
  * `c_phone`. Q2/Q11/Q16/Q20 need `partsupp` and are inexpressible;
  * Q9/Q12/Q21/Q22 ship here as documented adaptations that keep the
  * plan shape (the part the engine is graded on) while substituting
  * available columns for the missing ones.
  *
  * Scale notes follow the Relational.scala playbook: the fact table
  * streams, dims broadcast, heavy aggregation runs before any join
  * that would widen rows, and every ordering the oracle must agree on
  * is decimal-exact.
  */
object RelationalExt {

  private def revCol: org.apache.spark.sql.Column =
    dec4(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))

  /** TPC-H Q7 shape (volume shipping): revenue between distinct
    * (supplier-nation, customer-nation) pairs per ship year. Supplier
    * and both nation dims broadcast; the only fact-side shuffle is
    * lineitem⋈orders on orderkey, then the final aggregate. The
    * shipdate band reaches the parquet scan. */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"), revCol.as("rev"))
    val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val n1 = Tables.load(s, d, "nation").select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    val n2 = Tables.load(s, d, "nation").select(col("n_nationkey").as("cn_key"),
      col("n_name").as("cust_nation"))
    val ord = Tables.load(s, d, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables.load(s, d, "customer").select("c_custkey", "c_nationkey")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(moneySum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
  }

  val q7Oracle: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 shape (national market share): per order year, the
    * revenue share of one supplier nation among all PROMO-part sales
    * to ASIA customers. Share = exact decimal sums cast to double,
    * divided once, rounded 6 — identical in both engines. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        revCol.as("rev"))
    val promo = Tables.load(s, d, "part").filter(col("p_type") === "PROMO")
      .select("p_partkey")
    val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val supNat = Tables.load(s, d, "nation").select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    val ord = Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).as("o_year"))
    val cust = Tables.load(s, d, "customer").select("c_custkey", "c_nationkey")
    val asiaNat = Tables.load(s, d, "nation").select("n_nationkey", "n_regionkey")
      .join(broadcast(Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    li.join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(supNat), col("s_nationkey") === col("sn_key"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNat), col("c_nationkey") === col("cn_key"))
      .groupBy("o_year")
      .agg(
        r6(sum(when(col("supp_nation") === "NATION_5", col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(col("rev")).cast("double")).as("mkt_share"),
        moneySum(col("rev")).as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  val q8Oracle: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |  ROUND(
      |    CAST(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE), 6) AS mkt_share,
      |  CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
      |  COUNT(*) AS n_items
      |FROM (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'PROMO') li
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |JOIN region ON n2.n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q9 shape (product-type profit), adapted: the schema has no
    * `partsupp`, so supply cost substitutes `p_retailprice × quantity`
    * (reference Q9 uses `ps_supplycost × quantity`). Profit per
    * (supplier nation, order year); every term is exact decimal. */
  def q9ProfitAdapted(s: SparkSession, d: String): DataFrame = {
    val liRaw = Tables.load(s, d, "lineitem").select("l_orderkey", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_discount")
    val grn = Tables.load(s, d, "part").filter(col("p_type") === "LARGE")
      .select("p_partkey", "p_retailprice")
    val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val nat = Tables.load(s, d, "nation").select("n_nationkey", "n_name")
    val ord = Tables.load(s, d, "orders").select(col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"))
    liRaw.join(broadcast(grn), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"), col("o_year"),
        (revCol - dec4(col("p_retailprice")) * dec4(col("l_quantity")))
          .as("amount"))
      .groupBy("nation", "o_year")
      .agg(moneySum(col("amount")).as("sum_profit"), count(lit(1)).as("n_items"))
  }

  val q9Oracle: String =
    """SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |  CAST(CAST(SUM(
      |    CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |    - CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_profit,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_type = 'LARGE'
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q10 shape (returned-item reporting): top-20 customers by
    * revenue lost to returns in a half-year window. Ranking key is the
    * exact decimal revenue with a custkey tiebreak, so both engines
    * cut the same top 20. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revCol.as("rev"))
    val ord = Tables.load(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-07-01"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.load(s, d, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.load(s, d, "nation").select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(col("rev")).as("rev_dec"), count(lit(1)).as("n_items"))
      .orderBy(col("rev_dec").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"), col("n_name"),
        col("rev_dec").cast("double").as("revenue"), col("n_items"))
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name,
      |  CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue, n_items
      |FROM (
      |  SELECT c_custkey, c_name, c_acctbal, n_name,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev_dec,
      |    COUNT(*) AS n_items
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-07-01'
      |  GROUP BY 1, 2, 3, 4
      |  ORDER BY rev_dec DESC, c_custkey ASC LIMIT 20)""".stripMargin

  /** TPC-H Q12 shape (shipping priority vs lateness), adapted: the
    * schema has no `l_shipmode`/`l_commitdate`, so "late" means
    * shipped > 90 days after the order date and the group key is
    * `l_linestatus` (reference Q12 groups by shipmode). The signature
    * pattern — a conditional count split on order priority — is
    * intact. */
  def q12LatePriority(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem").select("l_orderkey", "l_linestatus",
      "l_shipdate")
    val ord = Tables.load(s, d, "orders").select("o_orderkey", "o_orderdate",
      "o_orderpriority")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  val q12Oracle: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      |GROUP BY l_linestatus""".stripMargin

  /** TPC-H Q13 shape (customer order distribution): orders per
    * customer via LEFT join (zero-order customers count), then the
    * histogram of those counts. Two aggregations, each one shuffle;
    * the second input is already tiny. */
  def q13OrderDistribution(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.load(s, d, "customer").select("c_custkey")
    val ord = Tables.load(s, d, "orders").select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Oracle: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q14 shape (promotion effect): the share of one ship-month's
    * revenue coming from PROMO-type parts, as a percentage. One
    * broadcast join, one row out; the date band is scan-pruned. */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_partkey"), revCol.as("rev"))
    val p = Tables.load(s, d, "part").select("p_partkey", "p_type")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        r6(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(col("rev")).cast("double")).as("promo_revenue_pct"),
        moneySum(col("rev")).as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  val q14Oracle: String =
    """SELECT
      |  ROUND(100.0 *
      |    CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE), 6) AS promo_revenue_pct,
      |  CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
      |  COUNT(*) AS n_items
      |FROM (
      |  SELECT p_type,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01')""".stripMargin

  /** TPC-H Q15 shape (top supplier): per-supplier revenue over one
    * quarter, keep the supplier(s) whose revenue equals the global
    * max. The max is a one-row broadcast; equality is on the exact
    * decimal so "the" max is identical cross-engine. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.load(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"), revCol.as("rev"))
      .groupBy("l_suppkey")
      .agg(sum(col("rev")).as("total_rev_dec"))
    val maxRev = rev.agg(max(col("total_rev_dec")).as("max_rev"))
    val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_rev_dec") === col("max_rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev_dec").cast("double").as("total_revenue"))
  }

  val q15Oracle: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      |  CAST(CAST(total_rev_dec AS VARCHAR) AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM rev)""".stripMargin

  /** TPC-H Q17 shape (small-quantity revenue): lineitems of one brand
    * whose quantity is below 20% of that part's average quantity. The
    * correlated average becomes a per-part aggregate joined back; the
    * "< 0.2 × avg" test is restated as `5 × qty × n < Σqty` — pure
    * integer/decimal arithmetic, no division, so the boundary is
    * exact in both engines. */
  def q17SmallQuantity(s: SparkSession, d: String): DataFrame = {
    val brand = Tables.load(s, d, "part").filter(col("p_brand") === "Brand#3")
      .select("p_partkey")
    val li = Tables.load(s, d, "lineitem")
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), dec4(col("l_quantity")).as("qty"),
        dec4(col("l_extendedprice")).as("price"))
    val perPart = li.groupBy(col("l_partkey").as("pp_key"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_li"))
    li.join(broadcast(perPart), col("l_partkey") === col("pp_key"))
      .filter(col("qty") * 5 * col("n_li") < col("sum_qty"))
      .agg(
        r6(sum(col("price")).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  val q17Oracle: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,4)) AS qty,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) AS price
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#3'),
      |pp AS (
      |  SELECT l_partkey AS pp_key, SUM(qty) AS sum_qty, COUNT(*) AS n_li
      |  FROM li GROUP BY 1)
      |SELECT
      |  ROUND(CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) / 7.0, 6) AS avg_yearly,
      |  COUNT(*) AS n_items
      |FROM li JOIN pp ON l_partkey = pp_key
      |WHERE qty * 5 * n_li < sum_qty""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting), adapted:
    * "late" is shipped > 60 days after the order date (no
    * receipt/commit dates in the schema). A supplier waits an order
    * when it is the ONLY late supplier in a multi-supplier finalized
    * order — the exists/not-exists pair becomes per-order counts
    * joined back, two shuffles on orderkey total. */
  def q21WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val lo = Tables.load(s, d, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.load(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          1L).otherwise(0L).as("late"))
    val perSupp = lo.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("is_late"))
    val perOrder = perSupp.groupBy(col("l_orderkey").as("po_key"))
      .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"))
    perSupp.filter(col("is_late") === 1L)
      .join(perOrder.filter(col("n_supp") > 1 && col("n_late") === 1L),
        col("l_orderkey") === col("po_key"))
      .join(broadcast(Tables.load(s, d, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  val q21Oracle: String =
    """WITH lo AS (
      |  SELECT l_orderkey, l_suppkey,
      |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS is_late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY 1, 2),
      |po AS (
      |  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
      |  FROM lo GROUP BY 1)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM lo
      |JOIN po USING (l_orderkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE lo.is_late = 1 AND po.n_supp > 1 AND po.n_late = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin

  /** TPC-H Q22 shape (idle high-balance customers), adapted: no
    * `c_phone` country codes in the schema, so the cohort is ALL
    * customers with balance above the positive-balance average and no
    * order since 1999 (every customer here has SOME order, so
    * reference Q22's "never ordered" would be vacuous). The
    * scalar-subquery average becomes a one-row broadcast, and
    * `bal > avg` is restated multiplication-only (`bal × n > Σbal`)
    * so the comparison is decimal-exact. */
  def q22IdleCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        dec4(col("c_acctbal")).as("bal"))
    val stats = cust.filter(col("bal") > lit(0).cast("decimal(18,4)"))
      .agg(count(lit(1)).as("n_pos"), sum(col("bal")).as("total_pos"))
    val recent = Tables.load(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01"))
      .select("o_custkey")
    cust.crossJoin(broadcast(stats))
      .filter(col("bal") * col("n_pos") > col("total_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), moneySum(col("bal")).as("totacctbal"))
  }

  val q22Oracle: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,4)) AS bal
      |  FROM customer),
      |stats AS (
      |  SELECT COUNT(*) AS n_pos, SUM(bal) AS total_pos
      |  FROM cust WHERE bal > 0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |  CAST(CAST(SUM(bal) AS VARCHAR) AS DOUBLE) AS totacctbal
      |FROM cust, stats
      |WHERE bal * n_pos > total_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY c_nationkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q7_volume_shipping", q7VolumeShipping, Some(q7Oracle)),
    Q("q8_market_share", q8MarketShare, Some(q8Oracle)),
    Q("q9_profit_adapted", q9ProfitAdapted, Some(q9Oracle)),
    Q("q10_returned_items", q10ReturnedItems, Some(q10Oracle)),
    Q("q12_late_priority", q12LatePriority, Some(q12Oracle)),
    Q("q13_order_distribution", q13OrderDistribution, Some(q13Oracle)),
    Q("q14_promo_revenue", q14PromoRevenue, Some(q14Oracle)),
    Q("q15_top_supplier", q15TopSupplier, Some(q15Oracle)),
    Q("q17_small_quantity", q17SmallQuantity, Some(q17Oracle)),
    Q("q21_waiting_suppliers", q21WaitingSuppliers, Some(q21Oracle)),
    Q("q22_idle_customers", q22IdleCustomers, Some(q22Oracle)))
}

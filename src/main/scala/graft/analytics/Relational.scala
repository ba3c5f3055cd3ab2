package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.plans.Barrier

/** Relational operator surface (SURVEY.md §2b, R1–R13) expressed over the
  * driver's TPC-H-ish tables so the DuckDB oracle can verify each one.
  *
  * Scale notes apply throughout: aggregates are partial+final hash
  * aggregates (map-side combine before the shuffle); joins broadcast the
  * dimension side explicitly; window queries shuffle once on the
  * partition key. All doubles emitted to the oracle are ROUND()ed to a
  * fixed scale so Spark/DuckDB float summation-order differences cannot
  * flip a hash compare. Money sums whose GROUP SIZE grows with the data
  * (global/flag/nation/priority revenue) are additionally quantized
  * ONCE per row to integer cents and summed exactly: at sf1-organic a
  * 6M-row double sum of prices accumulated 0.06 of order-dependent
  * error in 3.2e11 — past round(,2)'s granularity — so the
  * sum-then-round form is not scale-stable. Integer-valued columns
  * (l_quantity) sum exactly in double and need no quantization; cents
  * totals stay exact in double to 2^53 ≈ 9e15 (sf100 ≈ 3e15 — safe).
  */
object Relational {

  /** R2/R4/R5/R6/R10: global hash aggregate — COUNT(*), exact
    * COUNT(DISTINCT), SUM, AVG, MAX (sales_etl_dag.py:93-101 shape). */
  def globalStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      (sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .cast("double") / 100.0).as("sum_extprice"),
      round(avg(col("l_quantity")), 2).as("avg_qty"),
      max(col("l_shipdate")).as("max_shipdate"))

  val globalStatsSql: String =
    """SELECT count(*) AS total_rows,
      |       count(DISTINCT l_orderkey) AS n_orders,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_extprice,
      |       round(avg(l_quantity), 2) AS avg_qty,
      |       max(l_shipdate) AS max_shipdate
      |FROM lineitem""".stripMargin

  /** R3/R12: grouped aggregate + ORDER BY revenue DESC
    * (README.md:99-103 shape, TPC-H Q1 flavor). */
  def revenueByFlag(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .cast("double") / 100.0).as("revenue"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(desc("revenue"), col("l_returnflag"), col("l_linestatus"))

  val revenueByFlagSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       count(*) AS n_rows
      |FROM lineitem GROUP BY 1, 2 ORDER BY revenue DESC, 1, 2""".stripMargin

  /** R7/R8/R9/R11/R13: the quality-gate shape — global agg with
    * conditional SUM(CASE WHEN …) and a post-aggregation filter (BQ's
    * HAVING without GROUP BY, sales_etl_dag.py:74-84). Returns one row
    * iff all invariants hold. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      count(lit(1)).as("total_orders"),
      countDistinct(col("o_orderkey")).as("unique_keys"),
      sum(when(col("o_totalprice") > 0, 1).otherwise(0)).as("positive_price"))
      .filter(col("total_orders") > 0 &&
        col("unique_keys") === col("total_orders") &&
        col("positive_price") === col("total_orders"))

  val qualityGateSql: String =
    """SELECT count(*) AS total_orders,
      |       count(DISTINCT o_orderkey) AS unique_keys,
      |       CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_price
      |FROM orders
      |HAVING count(*) > 0
      |   AND count(DISTINCT o_orderkey) = count(*)
      |   AND sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) = count(*)""".stripMargin

  /** R7/R8: grouped conditional aggregation. */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_high_discount"),
        sum(when(col("l_tax") > col("l_discount"), 1).otherwise(0)).as("n_tax_over_discount"),
        count(lit(1)).as("n_rows"))

  val conditionalAggSql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_discount,
      |       CAST(sum(CASE WHEN l_tax > l_discount THEN 1 ELSE 0 END) AS BIGINT) AS n_tax_over_discount,
      |       count(*) AS n_rows
      |FROM lineitem GROUP BY 1""".stripMargin

  /** D4/D5/D8/D12 analog with an oracle: round-trip integer columns
    * through a CSV line, then tokenize/trim/try_cast/derive — the ETL
    * parse chain expressed over oracle-checkable data. */
  def csvParse(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir).select(
      concat_ws(",", col("l_orderkey"), col("l_linenumber"), col("l_partkey")).as("line"))
    val parts = transform(split(col("line"), ",", -1), p => trim(p))
    lines.select(parts.as("parts"))
      .filter(size(col("parts")) >= 3)
      .select(
        get(col("parts"), lit(0)).try_cast("bigint").as("okey"),
        get(col("parts"), lit(1)).try_cast("bigint").as("lineno"),
        get(col("parts"), lit(2)).try_cast("bigint").as("pkey"))
      .filter(col("okey").isNotNull && col("lineno").isNotNull && col("pkey").isNotNull)
      .withColumn("derived", col("lineno") * col("pkey"))
  }

  val csvParseSql: String =
    """WITH lines AS (
      |  SELECT concat_ws(',', l_orderkey, l_linenumber, l_partkey) AS line FROM lineitem),
      |p AS (SELECT string_split(line, ',') AS parts FROM lines WHERE len(string_split(line, ',')) >= 3)
      |SELECT TRY_CAST(trim(parts[1]) AS BIGINT) AS okey,
      |       TRY_CAST(trim(parts[2]) AS BIGINT) AS lineno,
      |       TRY_CAST(trim(parts[3]) AS BIGINT) AS pkey,
      |       TRY_CAST(trim(parts[2]) AS BIGINT) * TRY_CAST(trim(parts[3]) AS BIGINT) AS derived
      |FROM p
      |WHERE TRY_CAST(trim(parts[1]) AS BIGINT) IS NOT NULL
      |  AND TRY_CAST(trim(parts[2]) AS BIGINT) IS NOT NULL
      |  AND TRY_CAST(trim(parts[3]) AS BIGINT) IS NOT NULL""".stripMargin

  /** D7 as a deterministic global operator: first-wins dedup via
    * row_number over (key, order). One shuffle on the key; at scale
    * this is the canonical exact-dedup plan (AQE handles key skew). */
  def dedupFirstWins(spark: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // break ties on the remaining projected columns so the winner is
    // deterministic and oracle-comparable.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  val dedupFirstWinsSql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
      |FROM (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |             row_number() OVER (PARTITION BY l_orderkey
      |                                ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
      |      FROM lineitem)
      |WHERE rn = 1""".stripMargin

  /** Star join: fact table joined through orders/customer to the tiny
    * nation/region dims. nation+region are explicitly broadcast (they
    * are bounded at 25/5 rows at ANY scale factor); the
    * lineitem⋈orders⋈customer joins shuffle on their keys and benefit
    * from AQE. TPC-H Q5 flavor. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg((sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .cast("double") / 100.0).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("r_name"), col("n_name"))
  }

  /** Per-nation revenue TREND (q162): closed-form OLS over monthly
    * revenue — slope/intercept from the five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²), which are ONE map-side-combined aggregate
    * over the month rollup. Trend detection is the dashboards' "is
    * this segment growing" question answered in-engine, no ML lib.
    * ALL-INTEGER for the cross-engine gate: revenue is exact cents
    * (`round(price·100)` — 2-decimal money, no half-way cases), month
    * index is integer, slope/intercept are truncating integer
    * divisions in units of 1/10000 cent per month
    * (the sufficient statistics stay far below int64 here; at real
    * revenue volumes keep the slope multiplier ≤ 10⁴ or pre-scale y
    * to dollars — documented bound, same class as LmFluency's). */
  /** Per-(nation, month) revenue in integer cents — shared input of
    * the OLS (q162) and Theil-Sen (q223) trend fits. */
  private def monthlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("y"))
  }

  private val monthlyRevenueSql: String =
    """SELECT n_name,
      |       (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
      |         + month(o_orderdate) - 1 AS m,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  def groupTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = monthlyRevenue(spark, dir)
    monthly.groupBy(col("n_name"))
      .agg(count(lit(1)).as("nm"), sum(col("m")).as("sx"),
        sum(col("y")).as("sy"), sum(col("m") * col("y")).as("sxy"),
        sum(col("m") * col("m")).as("sxx"))
      .select(col("n_name"), col("nm"), col("sy"),
        expr("(10000 * (nm * sxy - sx * sy)) div (nm * sxx - sx * sx)")
          .as("slope_u"),
        expr("(10000 * sy - ((10000 * (nm * sxy - sx * sy)) div (nm * sxx - sx * sx)) * sx) div nm")
          .as("intercept_u"))
      .withColumn("trend",
        when(col("slope_u") > 0, "up")
          .when(col("slope_u") < 0, "down").otherwise("flat"))
  }

  val groupTrendSql: String =
    """WITH monthly AS (
      |  SELECT n_name,
      |         (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
      |           + month(o_orderdate) - 1 AS m,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS nm,
      |         CAST(sum(m) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(m * y) AS BIGINT) AS sxy,
      |         CAST(sum(m * m) AS BIGINT) AS sxx
      |  FROM monthly GROUP BY 1)
      |SELECT n_name, nm, sy,
      |       CAST((10000 * (nm * sxy - sx * sy)) // (nm * sxx - sx * sx) AS BIGINT) AS slope_u,
      |       CAST((10000 * sy - ((10000 * (nm * sxy - sx * sy)) // (nm * sxx - sx * sx)) * sx) // nm AS BIGINT) AS intercept_u,
      |       CASE WHEN (10000 * (nm * sxy - sx * sy)) // (nm * sxx - sx * sx) > 0 THEN 'up'
      |            WHEN (10000 * (nm * sxy - sx * sy)) // (nm * sxx - sx * sx) < 0 THEN 'down'
      |            ELSE 'flat' END AS trend
      |FROM s""".stripMargin

  /** q223: Theil-Sen robust trend per nation — the median-of-pairwise-
    * slopes estimator (Sen 1968; 29% breakdown point vs OLS's 0%: one
    * corrupted month cannot move it, the q161 MAD principle applied to
    * regression). slope_ts_u = exact lower median (percentile_disc
    * semantics, the q33 contract) of ((y2−y1)·10⁴) div (m2−m1) over
    * all C(months, 2) in-nation pairs; the OLS slope rides along and
    * `agree` flags sign disagreement — the rows a revenue-quality
    * monitor investigates.
    *
    * Scale shape: the pair space is C(distinct months, 2) — bounded by
    * the CALENDAR, not the fact table (the corpus collapses to
    * nation×month cells first), so the self-join is a constant-size
    * broadcast job at any corpus scale; the median runs per nation
    * partition. */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = monthlyRevenue(spark, dir)
      .transform(Barrier.eager(_))
    val a = monthly.select(col("n_name"), col("m").as("m1"), col("y").as("y1"))
    val b = monthly.select(col("n_name"), col("m").as("m2"), col("y").as("y2"))
    val slopes = a.join(b, Seq("n_name")).filter(col("m1") < col("m2"))
      .select(col("n_name"),
        expr("((y2 - y1) * 10000) div (m2 - m1)").as("s_u"))
    val ts = slopes.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY s_u)")
          .cast("long").as("slope_ts_u"))
    val ols = groupTrend(spark, dir)
      .select(col("n_name"), col("slope_u").as("slope_ols_u"))
    ts.join(ols, "n_name")
      .select(col("n_name"), col("n_pairs"), col("slope_ts_u"),
        col("slope_ols_u"),
        (signum(col("slope_ts_u")) === signum(col("slope_ols_u")))
          .cast("long").as("agree"))
  }

  val theilSenTrendSql: String =
    s"""WITH monthly AS ($monthlyRevenueSql),
       |pairs AS (
       |  SELECT a.n_name, ((b.y - a.y) * 10000) // (b.m - a.m) AS s_u
       |  FROM monthly a JOIN monthly b
       |    ON a.n_name = b.n_name AND a.m < b.m),
       |ts AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(min(CASE WHEN cd >= 0.5 THEN s_u END) AS BIGINT)
       |           AS slope_ts_u
       |  FROM (SELECT n_name, s_u,
       |               cume_dist() OVER (PARTITION BY n_name ORDER BY s_u) AS cd
       |        FROM pairs)
       |  GROUP BY 1),
       |ols AS (
       |  SELECT n_name,
       |         CAST((10000 * (nm * sxy - sx * sy)) // (nm * sxx - sx * sx)
       |              AS BIGINT) AS slope_ols_u
       |  FROM (SELECT n_name, CAST(count(*) AS BIGINT) AS nm,
       |               CAST(sum(m) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |               CAST(sum(m * y) AS BIGINT) AS sxy,
       |               CAST(sum(m * m) AS BIGINT) AS sxx
       |        FROM monthly GROUP BY 1))
       |SELECT ts.n_name, ts.n_pairs, ts.slope_ts_u, ols.slope_ols_u,
       |       CAST(CASE WHEN sign(ts.slope_ts_u) = sign(ols.slope_ols_u)
       |                 THEN 1 ELSE 0 END AS BIGINT) AS agree
       |FROM ts JOIN ols ON ts.n_name = ols.n_name""".stripMargin

  // ----------------------------------------- q234 jackknife trend influence

  /** Leave-one-out influence of every month on its nation's OLS revenue
    * trend — the jackknife regression diagnostic (the deletion form of
    * Cook's distance, and the closed-form "data valuation" primitive:
    * which observation, removed, moves the fitted model most). For each
    * (nation, month): the slope refit WITHOUT that month comes straight
    * from the q162 sufficient statistics minus the month's contribution
    * — no second scan, no per-month refit job.
    *
    * Exactness: slopes are rationals num/den; the LOO−full difference
    * is compared by clearing denominators — delta_ppm =
    * (num_loo·den_full − num_full·den_loo)·10⁶ over den_loo·den_full,
    * every product widened through DECIMAL(38,0)/HUGEINT, the
    * possibly-negative numerator floor-divided via the explicit
    * nonneg-operand CASE (the q230 convention). `flips_sign` marks
    * months whose removal reverses the trend direction — the rows a
    * revenue-quality monitor escalates.
    *
    * Scale shape: the corpus collapses to nation×month cells first
    * (calendar-bounded), stats are one tiny rollup joined back, and
    * the ledger is one narrow map over the cell table. */
  def trendInfluence(spark: SparkSession, dir: String): DataFrame =
    trendInfluenceOf(monthlyRevenue(spark, dir)
      .transform(Barrier.eager(_)))

  /** The jackknife core on an explicit (n_name, m, y) cell table —
    * exposed for closed-form fixture specs. */
  def trendInfluenceOf(monthly: DataFrame): DataFrame = {
    val stats = monthly.groupBy(col("n_name"))
      .agg(count(lit(1)).as("nm"), sum(col("m")).as("sx"),
        sum(col("y")).as("sy"), sum(col("m") * col("y")).as("sxy"),
        sum(col("m") * col("m")).as("sxx"))
      .filter(col("nm") >= 3) // LOO fit needs >= 2 residual months
    monthly.join(broadcast(stats), "n_name")
      .withColumn("num_f", expr("cast(nm as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy"))
      .withColumn("den_f", expr("cast(nm as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"))
      .withColumn("num_l", expr(
        """cast(nm - 1 as decimal(38,0)) * (sxy - m * y)
          |  - cast(sx - m as decimal(38,0)) * (sy - y)""".stripMargin))
      .withColumn("den_l", expr(
        """cast(nm - 1 as decimal(38,0)) * (sxx - m * m)
          |  - cast(sx - m as decimal(38,0)) * (sx - m)""".stripMargin))
      .filter(col("den_l") > 0)
      .withColumn("dnum", expr("(num_l * den_f - num_f * den_l) * 1000000"))
      .withColumn("dden", col("den_l") * col("den_f"))
      .select(col("n_name"), col("m"), col("y"),
        expr("""CASE WHEN dnum >= 0 THEN cast(dnum div dden as bigint)
               |     ELSE -cast((-dnum + dden - 1) div dden as bigint)
               |END""".stripMargin).as("delta_ppm"),
        expr("""cast(CASE WHEN (num_l >= 0) != (num_f >= 0)
               |          AND num_l != 0 AND num_f != 0
               |     THEN 1 ELSE 0 END as bigint)""".stripMargin).as("flips_sign"))
  }

  val trendInfluenceSql: String =
    s"""WITH monthly AS ($monthlyRevenueSql),
       |s AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS nm,
       |         CAST(sum(m) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(m * y) AS BIGINT) AS sxy,
       |         CAST(sum(m * m) AS BIGINT) AS sxx
       |  FROM monthly GROUP BY 1 HAVING count(*) >= 3),
       |j AS (
       |  SELECT mo.n_name, mo.m, mo.y,
       |         CAST(s.nm AS HUGEINT) * s.sxy - CAST(s.sx AS HUGEINT) * s.sy AS num_f,
       |         CAST(s.nm AS HUGEINT) * s.sxx - CAST(s.sx AS HUGEINT) * s.sx AS den_f,
       |         CAST(s.nm - 1 AS HUGEINT) * (s.sxy - mo.m * mo.y)
       |           - CAST(s.sx - mo.m AS HUGEINT) * (s.sy - mo.y) AS num_l,
       |         CAST(s.nm - 1 AS HUGEINT) * (s.sxx - mo.m * mo.m)
       |           - CAST(s.sx - mo.m AS HUGEINT) * (s.sx - mo.m) AS den_l
       |  FROM monthly mo JOIN s ON mo.n_name = s.n_name),
       |d AS (
       |  SELECT n_name, m, y, num_f, num_l,
       |         (num_l * den_f - num_f * den_l) * 1000000 AS dnum,
       |         den_l * den_f AS dden
       |  FROM j WHERE den_l > 0)
       |SELECT n_name, m, y,
       |       CAST(CASE WHEN dnum >= 0 THEN dnum // dden
       |                 ELSE -((-dnum + dden - 1) // dden) END AS BIGINT) AS delta_ppm,
       |       CAST(CASE WHEN (num_l >= 0) != (num_f >= 0)
       |                 AND num_l != 0 AND num_f != 0
       |            THEN 1 ELSE 0 END AS BIGINT) AS flips_sign
       |FROM d""".stripMargin

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY revenue DESC, 1, 2""".stripMargin

  /** Top-k per group via ranking window (the scalable top-N pattern:
    * one shuffle on the group key, no global sort). */
  def topOrdersPerPriority(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  val topOrdersPerPrioritySql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3""".stripMargin

  /** Running aggregate window (ROWS UNBOUNDED PRECEDING). */
  def runningCustomerSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        // cents-exact: a per-customer RUNNING sum grows without bound
        // with history, the r11 money-sum drift class (PERF.md) — so
        // quantize once per row and sum integers
        (sum(expr("cast(round(o_totalprice * 100) as bigint)")).over(w)
          .cast("double") / 100.0).as("running_spend"))
  }

  val runningCustomerSpendSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_spend
      |FROM orders""".stripMargin

  /** Set operations: EXCEPT / INTERSECT / UNION ALL in one result. */
  def customerSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
    f.except(open).withColumn("op", lit("only_f"))
      .unionAll(f.intersect(open).withColumn("op", lit("both")))
      .select(col("op"), col("o_custkey"))
  }

  val customerSetOpsSql: String =
    """SELECT 'only_f' AS op, o_custkey FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |UNION ALL
      |SELECT 'both' AS op, o_custkey FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin

  /** Grouping sets via ROLLUP (subtotals + grand total). */
  def rollupByFlagStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  val rollupByFlagStatusSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** q08's semantics through the custom whole-operator plan
    * (graft.plans.GroupedTopK: logical node → strategy → bounded-heap
    * exec). Same oracle as the window form — the two implementations
    * verify each other. */
  def topOrdersPerPriorityCustom(spark: SparkSession, dir: String): DataFrame =
    graft.plans.GroupedTopK(
      Tables.orders(spark, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
      groupCols = Seq("o_orderpriority"),
      orderBy = Seq("o_totalprice" -> false, "o_orderkey" -> true),
      k = 3)

  /** Exact discrete percentiles per group (`percentile_disc`: smallest
    * value whose cumulative distribution ≥ q). Discrete — not
    * interpolated — so the result is an ACTUAL element of the data and
    * bit-identical across engines (interpolated `percentile` differs in
    * final-ulp arithmetic and round-half behavior). The oracle encodes
    * the same definition explicitly with cume_dist. At 100 TB the
    * exact form needs a per-group sort — the scale path is
    * `approx_percentile` (KLL sketch, not oracle-comparable). */
  def pricePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)").as("p95"))

  val pricePercentilesSql: String =
    """SELECT l_returnflag,
      |       min(CASE WHEN cd >= 0.5 THEN x END) AS p50,
      |       min(CASE WHEN cd >= 0.95 THEN x END) AS p95
      |FROM (SELECT l_returnflag, l_extendedprice AS x,
      |             cume_dist() OVER (PARTITION BY l_returnflag
      |                               ORDER BY l_extendedprice) AS cd
      |      FROM lineitem)
      |GROUP BY 1""".stripMargin

  /** Skewed fact⋈dim join via explicit salting (graft.operators
    * .SkewJoin): result-identical to the plain equi-join, so the plain
    * join is the oracle. Aggregated so the output is compact. */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SkewJoin.saltedInnerJoin(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      keys = Seq("l_orderkey"), salt = 8)
      .groupBy(col("o_orderpriority"))
      .agg((sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .cast("double") / 100.0).as("revenue"),
        count(lit(1)).as("n_items"))

  val saltedJoinAggSql: String =
    """SELECT o_orderpriority,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** Correlated scalar subquery (the E3 `spark.sql` lifecycle: parse →
    * analyze → decorrelate): orders priced above their customer's own
    * average. Catalyst rewrites the per-row subquery into an aggregate +
    * join — the scalable plan — rather than re-executing it per row. */
  def aboveAvgOrders(spark: SparkSession, dir: String): DataFrame =
    withTempViews(spark, "graft_orders" -> Tables.orders(spark, dir)) { v =>
      spark.sql(
        s"""SELECT o.o_custkey, count(*) AS n_above,
           |       round(max(o.o_totalprice), 2) AS max_price
           |FROM ${v(0)} o
           |WHERE o.o_totalprice > (SELECT avg(i.o_totalprice)
           |                        FROM ${v(0)} i
           |                        WHERE i.o_custkey = o.o_custkey)
           |GROUP BY o.o_custkey""".stripMargin)
    }

  /** Registers each DataFrame under a UNIQUE per-call temp-view name,
    * runs `body` with the generated names, then drops the views —
    * `spark.sql` resolves views eagerly during analysis, so dropping
    * after the DataFrame is built is safe, and concurrent callers can
    * no longer clobber each other's session-global view state. */
  private def withTempViews(spark: SparkSession, dfs: (String, DataFrame)*)(
      body: IndexedSeq[String] => DataFrame): DataFrame = {
    val names = dfs.toIndexedSeq.map { case (prefix, df) =>
      val n = s"${prefix}_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      df.createOrReplaceTempView(n)
      n
    }
    try body(names) finally names.foreach(spark.catalog.dropTempView)
  }

  val aboveAvgOrdersSql: String =
    """SELECT o.o_custkey, count(*) AS n_above,
      |       round(max(o.o_totalprice), 2) AS max_price
      |FROM orders o
      |WHERE o.o_totalprice > (SELECT avg(i.o_totalprice)
      |                        FROM orders i
      |                        WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o.o_custkey""".stripMargin

  /** LEFT SEMI + LEFT ANTI joins: customers holding at least one
    * finished ('F') order and no open ('O') order. Both joins shuffle
    * on the key with the probe side reduced to the key column only —
    * the EXISTS / NOT EXISTS plan shape (no row multiplication, unlike
    * an inner join + distinct). */
  def semiAntiCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val f = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey"))
    val open = o.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("c_custkey"))
    Tables.customer(spark, dir)
      .join(f, Seq("c_custkey"), "left_semi")
      .join(open, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
  }

  val semiAntiCustomersSql: String =
    """SELECT c_custkey, c_nationkey, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c.c_custkey AND o_orderstatus = 'O')""".stripMargin

  /** GROUP BY CUBE: all 2^2 grouping sets over (status, priority) in one
    * pass — Catalyst expands to a single Expand + hash aggregate (rows
    * replicated 4×, one shuffle), the scalable grouping-sets plan. */
  def cubeByStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .cast("double") / 100.0).as("sum_price"))

  val cubeByStatusPrioritySql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  /** Configured HLL++ relative standard deviation and the hard error
    * bound the oracle checks (2.5× the rsd — the sketch is deterministic
    * per dataset; measured error at sf0.001/0.01/0.1 is well inside). */
  val ApproxNdRsd    = 0.02
  val ApproxNdMaxErr = 0.05

  /** HLL++ approximate COUNT(DISTINCT) checked against the exact value.
    * The sketch is the 100 TB path: fixed-size state, one-pass,
    * mergeable across partitions. Sketch internals are engine-specific,
    * so DuckDB cannot reproduce `approx_nd` itself — instead the query
    * emits the exact value plus an integer `within_bound` flag
    * (relative error ≤ [[ApproxNdMaxErr]]) and the oracle emits the
    * same exact value plus literal 1: the hash matches iff the sketch's
    * error bound actually holds — a checked invariant, not theater. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_nd"),
        approx_count_distinct(col("l_orderkey"), ApproxNdRsd).as("approx_nd"))
      .select(col("l_returnflag"), col("exact_nd"),
        (abs(col("approx_nd") - col("exact_nd"))
          <= col("exact_nd") * ApproxNdMaxErr).cast("int").as("within_bound"))

  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |       count(DISTINCT l_orderkey) AS exact_nd,
      |       CAST(1 AS INT) AS within_bound
      |FROM lineitem GROUP BY 1""".stripMargin

  /** PIVOT: wide-format grouped aggregate — one row per return flag,
    * one column per line status. Spark's pivot with explicit values
    * compiles to a single hash aggregate with one conditional-agg
    * column per value (no extra shuffle vs. the long form); the oracle
    * is the equivalent explicit conditional aggregation. */
  def pivotQtyByStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))

  val pivotQtyByStatusSql: String =
    """SELECT l_returnflag,
      |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
      |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Ranking-function suite: dense_rank / percent_rank / ntile /
    * cume_dist in one window pass (same partition+order ⇒ one shuffle,
    * one sort), top-5 rows per group by row_number. percent_rank and
    * cume_dist are exact integer ratios — identical doubles across
    * engines. */
  def rankSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cdist"))
      .filter(col("rn") <= 5)
  }

  val rankSuiteSql: String =
    """SELECT o_orderpriority, o_orderkey,
      |       CAST(rn AS INT) AS rn, CAST(drank AS INT) AS drank, prank,
      |       CAST(quartile AS INT) AS quartile, cdist
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |         row_number()   OVER w AS rn,
      |         dense_rank()   OVER w AS drank,
      |         percent_rank() OVER w AS prank,
      |         ntile(4)       OVER w AS quartile,
      |         cume_dist()    OVER w AS cdist
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 5""".stripMargin

  /** Scalar string-function surface over customer (upper/length/
    * substring/concat/lpad/replace/split_part/reverse/translate) —
    * narrow map, verified value-exactly cross-engine. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      upper(col("c_mktsegment")).as("seg_upper"),
      length(col("c_name")).as("name_len"),
      substring(col("c_name"), 1, 8).as("name_head"),
      concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("seg_key"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
      regexp_replace(col("c_name"), "^Customer", "Cust").as("name_short"),
      split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
      reverse(split_part(col("c_name"), lit("#"), lit(1))).as("name_rev"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"))

  val stringFuncsSql: String =
    """SELECT c_custkey,
      |       upper(c_mktsegment) AS seg_upper,
      |       length(c_name) AS name_len,
      |       substring(c_name, 1, 8) AS name_head,
      |       concat_ws('-', c_mktsegment, c_custkey) AS seg_key,
      |       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
      |       regexp_replace(c_name, '^Customer', 'Cust') AS name_short,
      |       split_part(c_name, '#', 2) AS name_num,
      |       reverse(split_part(c_name, '#', 1)) AS name_rev,
      |       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
      |FROM customer""".stripMargin

  /** Scalar date/time-function surface over orders (extract fields,
    * date arithmetic, month truncation, last_day) — the orderdate is a
    * timestamp in the parquet, normalized to DATE first on both sides. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(d).as("y"), month(d).as("m"), dayofmonth(d).as("dom"),
      quarter(d).as("q"),
      date_add(d, 30).as("plus30"),
      datediff(d, lit("1995-01-01").cast("date")).as("days_since_95"),
      last_day(d).as("month_end"),
      trunc(d, "mm").as("month_start"))
  }

  val dateFuncsSql: String =
    """SELECT o_orderkey,
      |       CAST(year(d)    AS INT) AS y,
      |       CAST(month(d)   AS INT) AS m,
      |       CAST(day(d)     AS INT) AS dom,
      |       CAST(quarter(d) AS INT) AS q,
      |       d + 30 AS plus30,
      |       CAST(date_diff('day', DATE '1995-01-01', d) AS INT) AS days_since_95,
      |       last_day(d) AS month_end,
      |       date_trunc('month', d) AS month_start
      |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)""".stripMargin

  /** Explicit GROUPING SETS with grouping() indicators — the general
    * form of rollup/cube (q11/q42): three chosen sets in one Expand +
    * hash-agg pass, expressed through `spark.sql` (the E3 lifecycle)
    * with syntax both engines share verbatim. */
  def groupingSetsTotals(spark: SparkSession, dir: String): DataFrame =
    withTempViews(spark, "graft_orders_gs" -> Tables.orders(spark, dir)) { v =>
      spark.sql(
        s"""SELECT o_orderstatus, o_orderpriority,
           |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
           |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           |       count(*) AS n_orders,
           |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
           |FROM ${v(0)}
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }

  val groupingSetsTotalsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin

  /** Multiset set operations (EXCEPT ALL / INTERSECT ALL) over order
    * custkey bags, compacted to (op, custkey, multiplicity). Unlike the
    * distinct forms (q10), these preserve duplicate counts — Spark
    * plans them as an aggregate on a sum_count column, one shuffle. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    f.exceptAll(open).withColumn("op", lit("f_minus_o_all"))
      .unionAll(f.intersectAll(open).withColumn("op", lit("both_all")))
      .groupBy(col("op"), col("o_custkey"))
      .agg(count(lit(1)).as("multiplicity"))
  }

  val setOpsAllSql: String =
    """SELECT op, o_custkey, count(*) AS multiplicity FROM (
      |  SELECT 'f_minus_o_all' AS op, o_custkey FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |    EXCEPT ALL
      |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |  UNION ALL
      |  SELECT 'both_all' AS op, o_custkey FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |    INTERSECT ALL
      |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
      |GROUP BY 1, 2""".stripMargin

  /** RANGE window frame (value-based, vs. q09's ROWS frame): for each
    * lineitem, how many rows of the same (flag, status) fall within
    * quantity ± the 2-unit trailing band, plus the exact sum of their
    * integral quantities. RANGE frames bound by VALUE distance — the
    * frame is a set, so engine-internal iteration order cannot change
    * the result (quantities are integral doubles; sums exact). */
  def rangeWindowBand(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"), col("l_linestatus"))
      .orderBy(col("l_quantity"))
      .rangeBetween(-2L, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        count(lit(1)).over(w).as("n_in_band"),
        round(sum(col("l_quantity")).over(w), 2).as("qty_in_band"))
  }

  val rangeWindowBandSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity,
      |       count(*) OVER w AS n_in_band,
      |       round(sum(l_quantity) OVER w, 2) AS qty_in_band
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag, l_linestatus ORDER BY l_quantity
      |             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  /** UNPIVOT / melt: wide metric columns to long (metric, value) rows —
    * Spark's native unpivot compiles to a single Expand (rows × 4, no
    * shuffle); the oracle is the equivalent UNION ALL form. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "metric",
        valueColumnName = "value")

  val unpivotMetricsSql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin

  /** Regex group extraction: pull the numeric id out of the customer
    * name, with the all-matches variant alongside (regexp_extract /
    * regexp_extract_all share syntax and group semantics across
    * engines). */
  def regexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      regexp_extract(col("c_name"), "Customer#([0-9]+)", 1).as("num_str"),
      regexp_extract(col("c_name"), "Customer#([0-9]+)", 1)
        .try_cast("bigint").as("num_val"),
      size(regexp_extract_all(col("c_name"), lit("[0-9]+"), lit(0)))
        .as("n_digit_runs"))

  val regexExtractSql: String =
    """SELECT c_custkey,
      |       regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS num_str,
      |       TRY_CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS num_val,
      |       len(regexp_extract_all(c_name, '[0-9]+', 0)) AS n_digit_runs
      |FROM customer""".stripMargin

  /** Null-handling scalar suite: nullif / coalesce / least / greatest
    * composed into a grouped aggregate (the synthetic data is
    * null-free, so nullif MANUFACTURES the nulls being tested). */
  def nullFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        nullif(col("l_discount"), lit(0.0)).as("d0"),
        col("l_discount"), col("l_tax"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("d0").isNull, 1L).otherwise(0L)).as("n_zero_disc"),
        // cents-exact: a global-group money sum (6 flag groups over the
        // whole table) — the r11 drift class
        (sum(expr("cast(round(coalesce(d0, l_tax) * 100) as bigint)"))
          .cast("double") / 100.0).as("sum_disc_or_tax"),
        round(min(least(col("l_discount"), col("l_tax"))), 2).as("min_lt"),
        round(max(greatest(col("l_discount"), col("l_tax"))), 2).as("max_gt"))

  val nullFuncsSql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_disc,
      |       CAST(sum(CAST(round(coalesce(nullif(l_discount, 0.0), l_tax) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_or_tax,
      |       round(min(least(l_discount, l_tax)), 2) AS min_lt,
      |       round(max(greatest(l_discount, l_tax)), 2) AS max_gt
      |FROM lineitem GROUP BY 1""".stripMargin

  /** FULL OUTER join + aggregate: per-customer order stats INCLUDING
    * customers with no orders (count over the null-extended side is 0;
    * totals coalesced). One shuffle per side on the key; null-extension
    * happens inside the join, not via a second anti-join pass. */
  def outerJoinOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey"),
      col("o_totalprice"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        // cents-exact: per-customer spend grows with order history
        (coalesce(sum(expr("cast(round(o_totalprice * 100) as bigint)")), lit(0L))
          .cast("double") / 100.0).as("total_spend"))
  }

  val outerJoinOrdersSql: String =
    """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      |       count(o.o_orderkey) AS n_orders,
      |       CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0) AS DOUBLE) / 100.0 AS total_spend
      |FROM customer c FULL JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY 1""".stripMargin

  /** Scalar subquery in the SELECT clause (vs. q27's WHERE-clause
    * form): Catalyst decorrelates it into a left outer join against the
    * grouped aggregate — per-row subquery execution never happens. */
  def selectScalarSubquery(spark: SparkSession, dir: String): DataFrame =
    withTempViews(spark,
      "graft_cust_ss" -> Tables.customer(spark, dir),
      "graft_ord_ss"  -> Tables.orders(spark, dir)) { v =>
      spark.sql(
        s"""SELECT c_custkey,
           |       (SELECT round(max(o_totalprice), 2) FROM ${v(1)}
           |        WHERE o_custkey = c_custkey) AS max_order
           |FROM ${v(0)}""".stripMargin)
    }

  val selectScalarSubquerySql: String =
    """SELECT c_custkey,
      |       (SELECT round(max(o_totalprice), 2) FROM orders
      |        WHERE o_custkey = c_custkey) AS max_order
      |FROM customer""".stripMargin

  /** Value-navigation windows: first_value / last_value / nth_value
    * over the full partition frame plus the rank cut — one shuffle,
    * one sort, all five functions in the same window pass. */
  def valueWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        first_value(col("o_orderkey")).over(full).as("top_key"),
        last_value(col("o_orderkey")).over(full).as("bottom_key"),
        nth_value(col("o_orderkey"), 3).over(full).as("third_key"))
      .filter(col("rn") <= 5)
  }

  val valueWindowsSql: String =
    """SELECT o_orderpriority, o_orderkey, CAST(rn AS INT) AS rn,
      |       top_key, bottom_key, third_key
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |         row_number() OVER w AS rn,
      |         first_value(o_orderkey) OVER wf AS top_key,
      |         last_value(o_orderkey)  OVER wf AS bottom_key,
      |         nth_value(o_orderkey, 3) OVER wf AS third_key
      |  FROM orders
      |  WINDOW w  AS (PARTITION BY o_orderpriority
      |                ORDER BY o_totalprice DESC, o_orderkey),
      |         wf AS (PARTITION BY o_orderpriority
      |                ORDER BY o_totalprice DESC, o_orderkey
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |WHERE rn <= 5""".stripMargin

  /** Array aggregation: collect_set + deterministic sort (collect_list
    * order is execution-dependent, so the SET form is the
    * cross-engine-stable one) plus the distinct count it implies. */
  def collectAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      // joined to a scalar: the driver's comparator can't hash ARRAY columns
      .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct(col("l_shipdate")).as("n_ship_dates"))

  val collectAggsSql: String =
    """SELECT l_returnflag,
      |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
      |       count(DISTINCT l_shipdate) AS n_ship_dates
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Predicate aggregates + exact median: bool_and / bool_or /
    * count_if, and median over integral doubles (the .5 interpolation
    * midpoint of two integers is exact in binary — engine-identical). */
  def predicateAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // cast to int: aligns the output type across engines (DuckDB
        // BOOLEAN vs Spark boolean hash differently in the comparator)
        bool_and(col("l_quantity") > 0).cast("int").as("all_qty_pos"),
        bool_or(col("l_discount") > 0.09).cast("int").as("any_deep_discount"),
        count_if(col("l_tax") > 0.05).as("n_high_tax"),
        median(col("l_quantity")).as("median_qty"))

  // count_if is CAST to BIGINT: DuckDB returns HUGEINT, which pandas
  // loads as float64 (6172.0) and hash-mismatches Spark's bigint 6172.
  val predicateAggsSql: String =
    """SELECT l_returnflag,
      |       CAST(bool_and(l_quantity > 0) AS INT) AS all_qty_pos,
      |       CAST(bool_or(l_discount > 0.09) AS INT) AS any_deep_discount,
      |       CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_high_tax,
      |       median(l_quantity) AS median_qty
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Statistical aggregates (sample stddev/variance, correlation,
    * sample covariance), rounded to absorb accumulation-order ulps —
    * single-pass co-moment implementations on both engines. */
  def statsAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"))

  val statsAggsSql: String =
    """SELECT l_returnflag,
      |       round(stddev_samp(l_quantity), 4) AS sd_qty,
      |       round(var_samp(l_quantity), 4) AS var_qty,
      |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |       round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Hard relative-error bound the q45 oracle checks (accuracy=1000 ⇒
    * rank error ≤ 0.1%; the VALUE error that implies depends on the
    * local density — 2% absorbs it comfortably on this distribution). */
  val ApproxPctMaxErr = 0.02

  /** GK-sketch approximate percentiles (q33's scale path: bounded-state
    * mergeable sketch instead of a per-group sort) checked against the
    * exact percentile_disc values, same contract as [[approxDistinct]]:
    * the query emits the exact values plus a `within_bound` flag, the
    * oracle emits the exact values plus literal 1 — green iff the
    * sketch's error bound holds on both quantiles. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("exact_p50"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)").as("exact_p95"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("approx_p95"))
      .select(col("l_returnflag"), col("exact_p50"), col("exact_p95"),
        ((abs(col("approx_p50") - col("exact_p50"))
            <= col("exact_p50") * ApproxPctMaxErr) &&
         (abs(col("approx_p95") - col("exact_p95"))
            <= col("exact_p95") * ApproxPctMaxErr)).cast("int").as("within_bound"))

  val approxPercentilesSql: String =
    """SELECT l_returnflag,
      |       min(CASE WHEN cd >= 0.5 THEN x END) AS exact_p50,
      |       min(CASE WHEN cd >= 0.95 THEN x END) AS exact_p95,
      |       CAST(1 AS INT) AS within_bound
      |FROM (SELECT l_returnflag, l_extendedprice AS x,
      |             cume_dist() OVER (PARTITION BY l_returnflag
      |                               ORDER BY l_extendedprice) AS cd
      |      FROM lineitem)
      |GROUP BY 1""".stripMargin

  /** MERGE / upsert (SCD type 1) — the incremental-maintenance shape
    * that replaces the reference's WRITE_TRUNCATE full rewrite
    * (`dataflow_transform.py:157`) at scale: a change set is applied to
    * a base snapshot with update / insert / keep semantics via ONE
    * full-outer join on the key (shuffle both sides on custkey, no
    * driver loop, no full-table rewrite of untouched rows — paired with
    * dynamic partition overwrite on the write side, ScalePlanSpec).
    * Changes are derived deterministically from orders: existing
    * customers with orders get their balance replaced by their order
    * total (update); synthetic keys (custkey+200000 for every 97th
    * custkey) model late-arriving new customers (insert); order-less
    * customers pass through (keep). */
  def upsertCustomers(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val fromOrders = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      // cents-exact: per-customer spend grows with order history
      .agg((sum(expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("double") / 100.0).as("new_bal"))
    // one Generate instead of a union of two branches — Catalyst does
    // not CSE a unioned aggregate, and at scale the orders agg is the
    // expensive half of the merge
    val changes = fromOrders.select(
      explode(when(col("o_custkey") % 97 === 0,
        array(col("o_custkey"), col("o_custkey") + 200000))
        .otherwise(array(col("o_custkey")))).as("key"),
      col("new_bal"))
    base.join(changes, col("c_custkey") === col("key"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("key")).as("custkey"),
        coalesce(col("c_name"), lit("NEW")).as("name"),
        round(coalesce(col("new_bal"), col("c_acctbal")), 2).as("acctbal"),
        when(col("c_custkey").isNull, "I")
          .when(col("new_bal").isNull, "K").otherwise("U").as("op"))
  }

  val upsertCustomersSql: String =
    """WITH fo AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS new_bal
      |  FROM orders GROUP BY 1),
      |changes AS (
      |  SELECT o_custkey AS key, new_bal FROM fo
      |  UNION ALL
      |  SELECT o_custkey + 200000 AS key, new_bal FROM fo
      |  WHERE o_custkey % 97 = 0)
      |SELECT coalesce(c.c_custkey, g.key) AS custkey,
      |       coalesce(c.c_name, 'NEW') AS name,
      |       round(coalesce(g.new_bal, c.c_acctbal), 2) AS acctbal,
      |       CASE WHEN c.c_custkey IS NULL THEN 'I'
      |            WHEN g.new_bal IS NULL THEN 'K' ELSE 'U' END AS op
      |FROM customer c FULL JOIN changes g ON c.c_custkey = g.key""".stripMargin
  // ---------------------------------------------------- co-purchase pairs

  /** Minimum co-occurrence count for an emitted pair. */
  val CopurchaseMinSupport = 2L

  /** Market-basket co-purchase pairs: parts appearing in the same order,
    * with the number of co-occurring orders (support ≥
    * [[CopurchaseMinSupport]]). Delegates to the join-free
    * [[graft.plans.BasketPairs]] aggregate (collect_set per basket +
    * in-array posexplode/slice pair expansion — see its scaladoc for
    * the plan shape and the C(basket, 2) fanout bound); the pair
    * rollup is keyed by (part_a, part_b) and map-side combines. The
    * item-item similarity primitive recommendation pipelines
    * aggregate. */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    graft.plans.BasketPairs(
        Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey")
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
        col("n").as("n_orders"))
      .filter(col("n_orders") >= CopurchaseMinSupport)

  val copurchasePairsSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |       count(*) AS n_orders
       |FROM li a JOIN li b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |GROUP BY 1, 2 HAVING count(*) >= $CopurchaseMinSupport""".stripMargin

  // -------------------------------------------- q238 association rules

  /** Directed association rules (Agrawal & Srikant's support/confidence
    * frame, 1994) over the q120 co-purchase pairs: each supported pair
    * emits A→B and B→A with EXACT integer confidence and lift —
    * conf(A→B) = n_ab·10⁶ div n_a, lift = n_ab·N·10⁶ div (n_a·n_b),
    * lift's triple product widened through DECIMAL(38,0)/HUGEINT. Lift
    * is the independence-corrected signal (conf alone just rediscovers
    * popular consequents — the classic critique); `lift_ppm > 10⁶`
    * marks genuinely associated pairs.
    *
    * Scale shape: pair supports come from q120's basket-bounded
    * self-join; item supports are one distinct-pair aggregate on the
    * same scan shape; the rule join keys on the part id against the
    * catalog-sized support table (AQE broadcast territory). */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOfBaskets(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")))

  /** The rule derivation on explicit (l_orderkey, l_partkey) basket
    * rows — exposed for hand-computed fixture specs. */
  def assocRulesOfBaskets(baskets: DataFrame): DataFrame = {
    val li = baskets.distinct()
      .transform(Barrier.eager(_))
    val nOrders = li.select(col("l_orderkey")).distinct().count()
    val item = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    // li is already distinct AND checkpointed: the self-join form reuses
    // the cached blocks on both sides for one repartition-by-basket,
    // where the aggregate form re-built per-basket sets on top of them
    // (ObjectHashAggregate + per-position slice churn) — the measured
    // r14 verdict-#2 2× regression. Seam mirrors GraphOps.edges.
    val pairsImpl = baskets.sparkSession.conf
      .get("graft.plans.basketPairsImpl", "join")
    val pairsRaw =
      if (pairsImpl == "agg") graft.plans.BasketPairs(li, "l_orderkey", "l_partkey")
      else graft.plans.BasketPairs.viaJoinOfDistinct(li, "l_orderkey", "l_partkey")
    val pairs = pairsRaw
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("n").as("n_ab"))
      .filter(col("n_ab") >= CopurchaseMinSupport)
    val directed = pairs.select(
        col("part_a").as("antecedent"), col("part_b").as("consequent"), col("n_ab"))
      .unionAll(pairs.select(
        col("part_b").as("antecedent"), col("part_a").as("consequent"), col("n_ab")))
    directed
      .join(item.select(col("l_partkey").as("antecedent"), col("n_item").as("n_a")),
        "antecedent")
      .join(item.select(col("l_partkey").as("consequent"), col("n_item").as("n_c")),
        "consequent")
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_a"), col("n_c"),
        expr("n_ab * 1000000 div n_a").as("conf_ppm"),
        expr(s"""cast(cast(n_ab as decimal(38,0)) * ${nOrders}L * 1000000
                |  div (cast(n_a as decimal(38,0)) * n_c) as bigint)""".stripMargin)
          .as("lift_ppm"))
  }

  val assocRulesSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |nn AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM li),
       |item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
       |         FROM li GROUP BY 1),
       |pairs AS (
       |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |         CAST(count(*) AS BIGINT) AS n_ab
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $CopurchaseMinSupport),
       |directed AS (
       |  SELECT part_a AS antecedent, part_b AS consequent, n_ab FROM pairs
       |  UNION ALL
       |  SELECT part_b, part_a, n_ab FROM pairs)
       |SELECT d.antecedent, d.consequent, d.n_ab,
       |       ia.n_item AS n_a, ic.n_item AS n_c,
       |       CAST(d.n_ab * 1000000 // ia.n_item AS BIGINT) AS conf_ppm,
       |       CAST(CAST(d.n_ab AS HUGEINT) * (SELECT n FROM nn) * 1000000
       |            // (CAST(ia.n_item AS HUGEINT) * ic.n_item) AS BIGINT) AS lift_ppm
       |FROM directed d
       |JOIN item ia ON ia.l_partkey = d.antecedent
       |JOIN item ic ON ic.l_partkey = d.consequent""".stripMargin

  // -------------------------------------------- q240 RFM segmentation

  /** RFM customer segmentation (the classic direct-marketing
    * recency/frequency/monetary quintile grid): each customer scores
    * 1–5 on all three axes against EXACT value-quantile cutoffs, and
    * the ledger rolls up the 125-cell segment grid — the "champions /
    * at-risk / hibernating" table a retention pipeline reads.
    *
    * Cutoffs are `percentile_disc(0.2/0.4/0.6/0.8)` over the customer
    * rollup (the q33 contract — the oracle re-derives each as
    * min(v | cume_dist ≥ f)), so scoring is pure integer comparison:
    * frequency/monetary score 1 + Σ(v > cut); recency (lower = better)
    * scores 5 − Σ(v > cut). Value quantiles (not equal-count ntile)
    * make ties deterministic without any ordering luck.
    *
    * Scale shape: the corpus collapses to one row per customer in ONE
    * map-side-combinable aggregate; the 12 cutoffs are a 1-row
    * broadcast; scoring is a narrow map and the output is a ≤125-row
    * rollup. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmOfOrders(Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice")))

  /** The segmentation on explicit (o_custkey, o_orderdate,
    * o_totalprice) rows — exposed for planted-cohort specs. */
  def rfmOfOrders(orders: DataFrame): DataFrame = {
    val mx = orders.agg(max(col("o_orderdate")).as("mxd"))
    val cust = orders.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("freq"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("mon_c"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey"), datediff(col("mxd"), col("lastd")).cast("long").as("rec"),
        col("freq"), col("mon_c"))
      .transform(Barrier.eager(_))
    def cuts(c: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map { case (f, i) =>
      expr(s"percentile_disc($f) WITHIN GROUP (ORDER BY $c)").as(s"${c}_$i")
    }
    val cut = cust.agg(cuts("rec").head, (cuts("rec").tail ++ cuts("freq") ++ cuts("mon_c")): _*)
    def score(c: String) =
      (0 to 3).map(i => when(col(c) > col(s"${c}_$i"), 1L).otherwise(0L))
        .reduce(_ + _)
    cust.crossJoin(broadcast(cut))
      .select(col("o_custkey"), col("mon_c"),
        (lit(5L) - score("rec")).as("r_score"),
        (lit(1L) + score("freq")).as("f_score"),
        (lit(1L) + score("mon_c")).as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("mon_c")).as("monetary_c"))
  }

  val rfmSegmentsSql: String = {
    def cutSql(c: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map { case (f, i) =>
      s"min(CASE WHEN cd_$c >= $f THEN $c END) AS ${c}_$i"
    }.mkString(",\n         ")
    def scoreSql(c: String) =
      (0 to 3).map(i => s"(CASE WHEN $c > ${c}_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH cust AS (
       |  SELECT o_custkey,
       |         CAST(date_diff('day', max(o_orderdate),
       |              (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS rec,
       |         CAST(count(*) AS BIGINT) AS freq,
       |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon_c
       |  FROM orders GROUP BY 1),
       |cd AS (
       |  SELECT *, cume_dist() OVER (ORDER BY rec) AS cd_rec,
       |         cume_dist() OVER (ORDER BY freq) AS cd_freq,
       |         cume_dist() OVER (ORDER BY mon_c) AS cd_mon_c
       |  FROM cust),
       |cut AS (
       |  SELECT ${cutSql("rec")},
       |         ${cutSql("freq")},
       |         ${cutSql("mon_c")}
       |  FROM cd),
       |scored AS (
       |  SELECT c.o_custkey, c.mon_c,
       |         5 - (${scoreSql("rec")}) AS r_score,
       |         1 + (${scoreSql("freq")}) AS f_score,
       |         1 + (${scoreSql("mon_c")}) AS m_score
       |  FROM cust c CROSS JOIN cut)
       |SELECT CAST(r_score AS BIGINT) AS r_score,
       |       CAST(f_score AS BIGINT) AS f_score,
       |       CAST(m_score AS BIGINT) AS m_score,
       |       CAST(count(*) AS BIGINT) AS n_customers,
       |       CAST(sum(mon_c) AS BIGINT) AS monetary_c
       |FROM scored GROUP BY 1, 2, 3""".stripMargin
  }

  /** Per-part recommendation size. */
  val CopurchaseTopK = 5

  /** "Customers also bought": per part, the top-[[CopurchaseTopK]]
    * co-purchased parts by shared-order count (tie → lower part id),
    * via the custom [[graft.plans.GroupedTopK]] physical operator —
    * one shuffle on the part id, bounded-heap per group, no global or
    * per-group full sort. The symmetric view doubles q120's pair list
    * (each pair recommends in both directions) before ranking. */
  def copurchaseTopK(spark: SparkSession, dir: String): DataFrame = {
    val p = copurchasePairs(spark, dir)
    val sym = p.select(col("part_a").as("part"), col("part_b").as("reco"), col("n_orders"))
      .unionAll(
        p.select(col("part_b").as("part"), col("part_a").as("reco"), col("n_orders")))
    graft.plans.GroupedTopK(sym,
      groupCols = Seq("part"),
      orderBy = Seq("n_orders" -> false, "reco" -> true),
      k = CopurchaseTopK)
  }

  val copurchaseTopKSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |                 count(*) AS n_orders
       |          FROM li a JOIN li b
       |            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |          GROUP BY 1, 2 HAVING count(*) >= $CopurchaseMinSupport),
       |sym AS (SELECT part_a AS part, part_b AS reco, n_orders FROM pairs
       |        UNION ALL
       |        SELECT part_b, part_a, n_orders FROM pairs)
       |SELECT part, reco, n_orders, rank FROM (
       |  SELECT part, reco, n_orders,
       |         row_number() OVER (PARTITION BY part
       |                            ORDER BY n_orders DESC, reco) AS rank
       |  FROM sym)
       |WHERE rank <= $CopurchaseTopK""".stripMargin

  /** Frequent triple itemsets via Apriori (q186) — the level-3 step
    * above q120's co-purchase pairs, exactly as published (Agrawal &
    * Srikant, "Fast Algorithms for Mining Association Rules",
    * VLDB'94): candidate (a,b,c) triples are generated ONLY by
    * joining frequent pairs sharing their first item and PRUNED by
    * requiring the third sub-pair (b,c) frequent too — the downward-
    * closure property makes the pruning lossless, and the ORACLE is
    * the naive cubic self-join, so a green hash IS the losslessness
    * proof on this data. Exact support then counts only the pruned
    * candidates against the baskets.
    *
    * Scale shape: the frequent-pair table is the (already thresholded)
    * q120 aggregate; candidate generation is a self-join of that
    * SMALL table plus a semi-join prune; support counting joins the
    * candidate list (broadcast at real support thresholds) to the
    * basket table three times on (order, part) — never the cubic
    * basket×basket×basket the oracle formulation implies. */
  def tripleItemsets(spark: SparkSession, dir: String): DataFrame =
    aprioriTriples(basketItems(spark, dir), CopurchaseMinSupport)

  /** (order, part) basket items — the Apriori input relation. */
  private def basketItems(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()

  /** The Apriori level-3 chain at an arbitrary min-support (see
    * [[tripleItemsets]] for the algorithm and scale notes). */
  private def aprioriTriples(b: DataFrame, minSupport: Long): DataFrame = {
    val fp = graft.plans.BasketPairs(b, "o", "p")
      .filter(col("n") >= minSupport)
      .select(col("pa").as("p1"), col("pb").as("p2"))
    val cand = fp.as("u").join(fp.as("v"),
        col("u.p1") === col("v.p1") && col("u.p2") < col("v.p2"))
      .select(col("u.p1").as("part_a"), col("u.p2").as("part_b"),
        col("v.p2").as("part_c"))
      .join(fp.select(col("p1").as("part_b"), col("p2").as("part_c")),
        Seq("part_b", "part_c"), "left_semi")
    cand
      .join(b.select(col("o"), col("p").as("part_a")), Seq("part_a"))
      .join(b.select(col("o"), col("p").as("part_b")), Seq("part_b", "o"))
      .join(b.select(col("o"), col("p").as("part_c")), Seq("part_c", "o"))
      .groupBy("part_a", "part_b", "part_c")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minSupport)
  }

  /** Denominator of the RELATIVE min-support: one basket in 75,000
    * (≈1.33 basis points — twice the q186 absolute floor at the
    * sf0.1 basket count). Chosen so the computed threshold is exact
    * in double arithmetic at every gate scale (15k/75k = 0.2,
    * 150k/75k = 2, 1.5M/75k = 20 — no ceil-of-epsilon hazard between
    * the JVM and DuckDB, both IEEE-754). */
  val RelSupportBaskets = 75000.0

  /** Frequent triples at a RELATIVE min-support (q251) — the
    * production Apriori form: the threshold is a basket FRACTION
    * (Agrawal & Srikant's s%), so it is scale-invariant — ×10 data
    * raises the absolute floor ×10 and the pruning bites at every
    * scale. The absolute-threshold q186 is the reference semantics;
    * this is the variant a 100 TB corpus would actually run (the
    * round-10 sf1 gate showed a FIXED floor degenerating to 1.6M
    * rules on a densified corpus — support was ×10 but the floor
    * stayed 2). One bounded scalar action computes the basket count;
    * the Apriori chain itself is unchanged. */
  def tripleItemsetsRelSup(spark: SparkSession, dir: String): DataFrame = {
    val b = basketItems(spark, dir)
    val nBaskets = b.select("o").distinct().count() // bounded scalar
    val thr = math.max(CopurchaseMinSupport,
      math.ceil(nBaskets / RelSupportBaskets).toLong)
    aprioriTriples(b, thr)
  }

  /** Oracle: same Apriori with the threshold from a scalar subquery —
    * `ceil(count/75000.0)` is the identical IEEE-754 expression the
    * engine evaluates. */
  val tripleItemsetsRelSupSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |thr AS (SELECT greatest($CopurchaseMinSupport,
       |                        CAST(ceil(count(DISTINCT o) / 75000.0) AS BIGINT)) AS t
       |        FROM b),
       |fp AS (
       |  SELECT x.p AS p1, y.p AS p2
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2
       |  HAVING count(*) >= (SELECT t FROM thr)),
       |cand AS (
       |  SELECT u.p1 AS part_a, u.p2 AS part_b, v.p2 AS part_c
       |  FROM fp u JOIN fp v ON u.p1 = v.p1 AND u.p2 < v.p2
       |  WHERE EXISTS (SELECT 1 FROM fp w
       |                WHERE w.p1 = u.p2 AND w.p2 = v.p2))
       |SELECT c.part_a, c.part_b, c.part_c,
       |       CAST(count(*) AS BIGINT) AS n_orders
       |FROM cand c
       |JOIN b a  ON a.p  = c.part_a
       |JOIN b b2 ON b2.o = a.o AND b2.p = c.part_b
       |JOIN b b3 ON b3.o = a.o AND b3.p = c.part_c
       |GROUP BY 1, 2, 3
       |HAVING count(*) >= (SELECT t FROM thr)""".stripMargin

  /** Oracle: DuckDB's own Apriori — frequent pairs, candidate triples
    * by the join-and-prune step, exact support count of the pruned
    * candidates. Downward closure (every subset of a frequent set is
    * frequent, Agrawal & Srikant VLDB'94 Thm) makes the pruning
    * LOSSLESS, so this is equivalent to the naive cubic basket
    * self-join — which the r1–r9 gates in fact ran as the oracle,
    * hash-proving the equivalence on this data before the swap. The
    * cubic form exceeded DuckDB's 900 s budget on the 10× protocol
    * corpus (PERF.md r9); this form completes there, keeping the 10×
    * compare oracle-verified rather than oracle-bound. */
  val tripleItemsetsSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |fp AS (
       |  SELECT x.p AS p1, y.p AS p2
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $CopurchaseMinSupport),
       |cand AS (
       |  SELECT u.p1 AS part_a, u.p2 AS part_b, v.p2 AS part_c
       |  FROM fp u JOIN fp v ON u.p1 = v.p1 AND u.p2 < v.p2
       |  WHERE EXISTS (SELECT 1 FROM fp w
       |                WHERE w.p1 = u.p2 AND w.p2 = v.p2))
       |SELECT c.part_a, c.part_b, c.part_c,
       |       CAST(count(*) AS BIGINT) AS n_orders
       |FROM cand c
       |JOIN b a  ON a.p  = c.part_a
       |JOIN b b2 ON b2.o = a.o AND b2.p = c.part_b
       |JOIN b b3 ON b3.o = a.o AND b3.p = c.part_c
       |GROUP BY 1, 2, 3
       |HAVING count(*) >= $CopurchaseMinSupport""".stripMargin

  /** The NAIVE cubic basket self-join — the algorithm-independent
    * oracle form the r1–r9 gates ran before the Apriori reformulation.
    * Equivalent by downward closure (a triple with support ≥ s has all
    * sub-pairs with support ≥ s, so Apriori's join-and-prune loses
    * nothing). Kept runnable behind SPARK_GRAFT_CUBIC_ORACLE=true so
    * each NEW scale corpus retains a pruning-independent spot check
    * (Verify swaps this in at dump time); the default stays the pruned
    * form because the cubic join exceeded DuckDB's budget on the dense
    * replication corpus.
    *
    * The part-ordering inequalities are CASE-masked on purpose: written
    * as bare join predicates (`JOIN b y ON y.o = x.o AND x.p < y.p`),
    * DuckDB's planner promotes the inequality into the join condition
    * and picks PIECEWISE_MERGE_JOIN over the p ordering — quadratic in
    * the item table, >1800 s at a 1.5M-basket corpus — instead of
    * hash-joining on the basket key. The CASE form is opaque to
    * join-condition extraction, so both joins stay o-keyed HASH_JOINs
    * and the same check runs in ~2 s (measured, round 11). */
  val tripleItemsetsCubicSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
       |SELECT x.p AS part_a, y.p AS part_b, z.p AS part_c,
       |       CAST(count(*) AS BIGINT) AS n_orders
       |FROM b x
       |JOIN b y ON y.o = x.o
       |JOIN b z ON z.o = x.o
       |WHERE (CASE WHEN x.p < y.p THEN 1 ELSE 0 END) = 1
       |  AND (CASE WHEN y.p < z.p THEN 1 ELSE 0 END) = 1
       |GROUP BY 1, 2, 3
       |HAVING count(*) >= $CopurchaseMinSupport""".stripMargin

  // ------------------------------------------------------ constraint audit

  /** Declarative data-quality audit (the dbt-test shape): each row is
    * one constraint over the warehouse — referential integrity via
    * anti-join, domain checks via conditional counts — with the
    * violation count, the checked row count, and a 0/1 pass flag. Each
    * check is one aggregate or one anti-join keyed on the constraint's
    * key; nothing here is more expensive than the query family it
    * guards, and the union is evaluated in one job. */
  def constraintAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li  = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ev  = Tables.events(spark, dir)
    def check(name: String, viol: DataFrame, checked: DataFrame): DataFrame =
      viol.agg(count(lit(1)).as("n_violations"))
        .crossJoin(checked.agg(count(lit(1)).as("n_checked")))
        .select(lit(name).as("check_name"), col("n_violations"), col("n_checked"),
          when(col("n_violations") === 0, lit(1L)).otherwise(lit(0L)).as("pass"))
    check("lineitem_order_fk",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti"), li)
      .unionByName(check("order_customer_fk",
        ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti"), ord))
      .unionByName(check("lineitem_positive_qty",
        li.filter(col("l_quantity") <= 0), li))
      .unionByName(check("lineitem_discount_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 1), li))
      .unionByName(check("order_date_bounds",
        ord.filter(col("o_orderdate") < to_timestamp(lit("1992-01-01")) ||
                   col("o_orderdate") > to_timestamp(lit("2026-01-01"))), ord))
      .unionByName(check("events_user_present",
        ev.filter(col("user_id").isNull), ev))
  }

  val constraintAuditSql: String =
    """SELECT 'lineitem_order_fk' AS check_name,
      |       (SELECT count(*) FROM lineitem l
      |         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      |       (SELECT count(*) FROM lineitem) AS n_checked,
      |       CASE WHEN (SELECT count(*) FROM lineitem l
      |         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
      |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pass
      |UNION ALL
      |SELECT 'order_customer_fk',
      |       (SELECT count(*) FROM orders o
      |         WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |       (SELECT count(*) FROM orders),
      |       CASE WHEN (SELECT count(*) FROM orders o
      |         WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
      |            THEN 1 ELSE 0 END
      |UNION ALL
      |SELECT 'lineitem_positive_qty',
      |       (SELECT count(*) FROM lineitem WHERE l_quantity <= 0),
      |       (SELECT count(*) FROM lineitem),
      |       CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity <= 0) = 0 THEN 1 ELSE 0 END
      |UNION ALL
      |SELECT 'lineitem_discount_range',
      |       (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1),
      |       (SELECT count(*) FROM lineitem),
      |       CASE WHEN (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) = 0 THEN 1 ELSE 0 END
      |UNION ALL
      |SELECT 'order_date_bounds',
      |       (SELECT count(*) FROM orders
      |         WHERE o_orderdate < TIMESTAMP '1992-01-01' OR o_orderdate > TIMESTAMP '2026-01-01'),
      |       (SELECT count(*) FROM orders),
      |       CASE WHEN (SELECT count(*) FROM orders
      |         WHERE o_orderdate < TIMESTAMP '1992-01-01' OR o_orderdate > TIMESTAMP '2026-01-01') = 0
      |            THEN 1 ELSE 0 END
      |UNION ALL
      |SELECT 'events_user_present',
      |       (SELECT count(*) FROM events WHERE user_id IS NULL),
      |       (SELECT count(*) FROM events),
      |       CASE WHEN (SELECT count(*) FROM events WHERE user_id IS NULL) = 0 THEN 1 ELSE 0 END""".stripMargin
}

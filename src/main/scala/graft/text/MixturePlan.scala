package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables
import graft.functions.TextExprs._

/** Availability-constrained mixture allocation by waterfilling
  * (q182) — the planning step between "I want equal shares of every
  * source" and "small sources run out": given each source's
  * AVAILABLE token mass and a total token budget, the max-min fair
  * allocation takes small sources WHOLE (capped) and splits the
  * remaining budget evenly across the rest at a water LEVEL — the
  * classic waterfilling solution, all-integer here. The level index
  * uses the monotone predicate k* = max{k : a₍ₖ₎·(S−k) ≤ B − P₍ₖ₎}
  * (sources sorted ascending, prefix sums P; the predicate "capping
  * the k smallest leaves everyone else at least a₍ₖ₎" is monotone,
  * so k* is well-defined and the floor-division level L =
  * (B−P₍ₖ*₎) div (S−k*) then satisfies a₍ₖ*₎ ≤ L < a₍ₖ*₊₁₎), and the
  * integer remainder goes +1 each to the first sources in sort order
  * — Σ alloc = min(B, total) EXACTLY, no token unaccounted (the
  * "no silent caps" convention applied to the mixing budget itself).
  *
  * Budget: [[BudgetPct]]% of total corpus tokens — high enough that
  * the short-tail sources genuinely cap on this corpus (both
  * branches populated; the spec pins it).
  *
  * Scale shape: per-source token mass is one map-side-combinable
  * aggregate (the ONLY corpus-sized pass); everything after runs on
  * S source rows — the sort/window/scan is source-cardinality work,
  * microscopic at any corpus size. */
object MixturePlan {

  val BudgetPct = 90L

  def mixtureWaterfill(spark: SparkSession, dir: String): DataFrame =
    waterfillOn(Tables.spread(Tables.documents(spark, dir))
      .groupBy("source")
      .agg(sum(size(tokensCol(col("text")))).cast("long").as("avail")))

  /** The waterfill on an explicit `(source, avail)` availability table
    * — the seam the curation composition (q254) allocates through
    * (its availability is the post-dedup, post-gate token mass). */
  def waterfillOn(avail: DataFrame): DataFrame = {
    val tot = avail.agg(sum(col("avail")).as("total"),
      count(lit(1)).as("s"))
      .withColumn("budget", expr(s"($BudgetPct * total) div 100"))
    val w = Window.orderBy(col("avail"), col("source"))
    val ranked = avail.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("avail")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // k* = max rn with a·(S−rn) ≤ B − P (0 if none); its row carries
    // the prefix sum the level needs
    val kStar = ranked
      .filter(col("avail") * (col("s") - col("rn")) <= col("budget") - col("p"))
      .agg(coalesce(max(col("rn")), lit(0L)).as("k"),
        coalesce(max(struct(col("rn"), col("p"))).getField("p"), lit(0L)).as("pk"))
    val leveled = ranked.crossJoin(broadcast(kStar))
      .withColumn("level",
        when(col("k") < col("s"),
          expr("(budget - pk) div (s - k)")).otherwise(lit(Long.MaxValue)))
      .withColumn("rem",
        when(col("k") < col("s"),
          expr("(budget - pk) % (s - k)")).otherwise(lit(0L)))
      .withColumn("capped", when(col("rn") <= col("k"), 1L).otherwise(0L))
      .withColumn("alloc",
        when(col("capped") === 1L, col("avail"))
          .otherwise(col("level") +
            when(col("rn") - col("k") <= col("rem"), 1L).otherwise(0L)))
    leveled.select(col("source"), col("avail"), col("alloc"),
      col("capped"), col("budget"))
  }

  val mixtureWaterfillSql: String =
    waterfillSqlFrom(
      s"""SELECT source, CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS avail
         |  FROM documents GROUP BY 1""".stripMargin)

  /** The full waterfill query over an arbitrary avail-CTE body —
    * shared with the q254 oracle. */
  def waterfillSqlFrom(availBody: String): String =
    s"""WITH avail AS (
       |  $availBody),
       |tot AS (
       |  SELECT CAST(sum(avail) AS BIGINT) AS total,
       |         CAST(count(*) AS BIGINT) AS s,
       |         ($BudgetPct * CAST(sum(avail) AS BIGINT)) // 100 AS budget
       |  FROM avail),
       |r AS (
       |  SELECT source, avail, tot.s, tot.budget,
       |         CAST(row_number() OVER w AS BIGINT) AS rn,
       |         CAST(sum(avail) OVER (ORDER BY avail, source
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
       |  FROM avail CROSS JOIN tot
       |  WINDOW w AS (ORDER BY avail, source)),
       |ks AS (
       |  SELECT coalesce(max(rn), 0) AS k,
       |         coalesce(max_by(p, rn), 0) AS pk
       |  FROM r WHERE avail * (s - rn) <= budget - p),
       |lv AS (
       |  SELECT r.*, ks.k,
       |         CASE WHEN ks.k < r.s THEN (r.budget - ks.pk) // (r.s - ks.k)
       |              ELSE 9223372036854775807 END AS level,
       |         CASE WHEN ks.k < r.s THEN (r.budget - ks.pk) % (r.s - ks.k)
       |              ELSE 0 END AS rem
       |  FROM r CROSS JOIN ks)
       |SELECT source, avail,
       |       CAST(CASE WHEN rn <= k THEN avail
       |                 ELSE level + (CASE WHEN rn - k <= rem THEN 1 ELSE 0 END)
       |            END AS BIGINT) AS alloc,
       |       CAST(CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT) AS capped,
       |       budget
       |FROM lv""".stripMargin

  // ------------------------------------------ q246 importance weights + ESS

  /** Importance-weighting diagnostic of the q182 waterfill plan: each
    * source's sampling weight w = alloc/avail in exact floored ppm,
    * and the EFFECTIVE SAMPLE SIZE of the weighted mixture —
    * ESS = (Σ tᵢwᵢ)² / (Σ tᵢwᵢ²) (Kish 1965), the number every
    * importance-weighted training run reports because a budget met by
    * down-weighting giant sources can carry far fewer *effective*
    * tokens than Σ alloc suggests. The ppm scale cancels in the ratio,
    * so ESS is computed directly on the floored integer weights — a
    * defined, engine-identical statistic; products widen through
    * DECIMAL(38,0)/HUGEINT (exact to 10¹² tokens per source).
    *
    * Scale shape: inherits q182's one corpus-sized aggregate;
    * everything here is source-cardinality arithmetic plus a 1-row
    * broadcast of the three global sums. */
  def mixtureEss(spark: SparkSession, dir: String): DataFrame =
    essOfAllocation(mixtureWaterfill(spark, dir))

  /** The diagnostic on an explicit (source, avail, alloc, …) plan —
    * exposed for hand-computed fixture specs. */
  def essOfAllocation(plan: DataFrame): DataFrame = {
    val w = plan.select(col("source"), col("avail"), col("alloc"),
        // widen the ×10⁶ product through DECIMAL(38,0) like sw/sw2 —
        // int64 wraps silently past ~9.2e12 alloc tokens (the oracle's
        // BIGINT would error loudly; silent skew weights are worse)
        expr("""cast(cast(alloc as decimal(38,0)) * 1000000
               |  div greatest(avail, 1) as bigint)""".stripMargin).as("w_ppm"))
      .transform(graft.plans.Barrier.eager(_))
    val g = w.agg(
        sum(col("avail")).as("t_total"),
        sum(expr("cast(avail as decimal(38,0)) * w_ppm")).as("sw"),
        sum(expr("cast(avail as decimal(38,0)) * w_ppm * w_ppm")).as("sw2"),
        count(lit(1)).as("n_sources"))
      .select(col("n_sources"),
        when(col("sw2") === 0, lit(0L))
          .otherwise(expr("cast(sw * sw div sw2 as bigint)")).as("ess_tokens"),
        when(col("sw2") === 0, lit(0L))
          .otherwise(expr(
            """cast(cast(sw * sw div sw2 as decimal(38,0)) * 1000000
              |  div t_total as bigint)""".stripMargin)).as("ess_ratio_ppm"))
    w.crossJoin(broadcast(g))
  }

  val mixtureEssSql: String =
    s"""WITH plan0 AS ($mixtureWaterfillSql),
       |w AS (
       |  SELECT source, avail, alloc,
       |         CAST(CAST(alloc AS HUGEINT) * 1000000
       |              // greatest(avail, 1) AS BIGINT) AS w_ppm
       |  FROM plan0),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
       |         CAST(sum(avail) AS BIGINT) AS t_total,
       |         CAST(sum(CAST(avail AS HUGEINT) * w_ppm) AS HUGEINT) AS sw,
       |         CAST(sum(CAST(avail AS HUGEINT) * w_ppm * w_ppm) AS HUGEINT) AS sw2
       |  FROM w),
       |gs AS (
       |  SELECT n_sources,
       |         CAST(CASE WHEN sw2 = 0 THEN 0
       |                   ELSE sw * sw // sw2 END AS BIGINT) AS ess_tokens,
       |         CAST(CASE WHEN sw2 = 0 THEN 0
       |                   ELSE (sw * sw // sw2) * 1000000 // t_total
       |              END AS BIGINT) AS ess_ratio_ppm
       |  FROM g)
       |SELECT w.source, w.avail, w.alloc, w.w_ppm,
       |       gs.n_sources, gs.ess_tokens, gs.ess_ratio_ppm
       |FROM w, gs""".stripMargin
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables
import graft.functions.TextExprs.{tokensCol, tokensSql}

/** Cross-source quality-score calibration (q176) — the mixing
  * prerequisite q138's routing quietly assumes: raw quality scores
  * are NOT comparable across sources (a boilerplate-heavy crawl
  * scores systematically below a curated source on the same rubric),
  * so selecting a "global top quartile" by raw score silently
  * over-samples whichever sources run hot. The standard fix is RANK
  * calibration — map each document to its within-source rank
  * percentile, `cal = (rank−1)·10⁶ div (n−1)` (all-integer, ties
  * broken by doc_id so both engines rank identically) — after which
  * every source's score distribution is uniform by construction. The
  * emitted ledger shows the repair directly: per source, its share
  * of the global top quartile under the RAW score beside the share
  * under the CALIBRATED score (raw shares are skewed on this corpus;
  * calibrated shares are provably near-uniform — the spec pins both).
  *
  * Scale shape: within-source ranking is one shuffle+sort on
  * `source` (bounded partitions: sources ≫ docs-per-source at corpus
  * scale; a skewed mega-source would use the q155 histogram-quantile
  * path instead of a full sort); the global quartile cut is a scalar
  * count aggregate broadcast back; ledger aggregates are map-side
  * combinable. */
object CalibrateOps {

  /** Collocation floor and output size for [[pmiCollocations]]. */
  val MinPairCount = 5L
  val PmiTopK = 20

  /** PMI collocation mining (q192) — the statistical phrase detector
    * (Church & Hanks 1990): adjacent token pairs whose co-occurrence
    * beats the independence expectation, ranked by pointwise mutual
    * information. PMI's log is MONOTONE, so the ranking needs only
    * the log's argument — score_u = (c_ab·N·10⁶) div (c_a·c_b), an
    * exact integer — and no logarithm is ever taken (the q147
    * convention). A [[MinPairCount]] floor removes the rare-pair
    * noise PMI is notorious for. Integer-range note (round 9): the
    * product c_ab·N·10⁶ outgrows BIGINT past ~100× this corpus, so
    * the score is computed in 128-bit-exact form — DECIMAL(38,0) on
    * the Spark side, HUGEINT in DuckDB — and only the QUOTIENT (which
    * is ≤ 10⁶·N/c_ab², comfortably BIGINT at any corpus size) is cast
    * back down. Same exact integer at every scale, no overflow cliff.
    *
    * Scale shape: bigram pairs come from an in-row shifted zip (no
    * self-join); three map-side-combinable count aggregates
    * (bigrams, unigrams, scalar N); scoring joins the vocab-sized
    * count tables (broadcast); final top-k ranks the thresholded
    * pair table. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val pairs = toks
      .withColumn("a1", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("a2", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(explode(arrays_zip(col("a1"), col("a2"))).as("z"))
      .select(col("z.a1").as("w1"), col("z.a2").as("w2"))
    val cab = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= MinPairCount)
    val uni = Tables.spread(Tables.documents(spark, dir))
      .select(explode(tokensCol(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n_tok"))
    cab
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("score_u", expr(
        "cast((cast(c_ab as decimal(38,0)) * n_tok * 1000000) div (cast(c_a as decimal(38,0)) * c_b) as bigint)"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_u").desc, col("w1"), col("w2"))).cast("long"))
      .filter(col("rank") <= PmiTopK)
      .select(col("rank"), col("w1"), col("w2"), col("c_ab"),
        col("c_a"), col("c_b"), col("score_u"))
  }

  val pmiCollocationsSql: String =
    s"""WITH toks AS (SELECT ${tokensSql("text")} AS t FROM documents),
       |pairs AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
       |  WHERE len(t) >= 2),
       |cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
       |        FROM pairs GROUP BY 1, 2 HAVING count(*) >= $MinPairCount),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |          SELECT unnest(t) AS w FROM toks) GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
       |sc AS (
       |  SELECT cab.w1, cab.w2, cab.c_ab, a.c AS c_a, b.c AS c_b,
       |         CAST((CAST(cab.c_ab AS HUGEINT) * n.n_tok * 1000000)
       |              // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS score_u
       |  FROM cab
       |  JOIN uni a ON a.w = cab.w1
       |  JOIN uni b ON b.w = cab.w2
       |  CROSS JOIN n)
       |SELECT CAST(rank AS BIGINT) AS rank, w1, w2, c_ab, c_a, c_b, score_u
       |FROM (
       |  SELECT *, row_number() OVER (ORDER BY score_u DESC, w1, w2) AS rank
       |  FROM sc)
       |WHERE rank <= $PmiTopK""".stripMargin

  def rankCalibrate(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.qualityScore(spark, dir).select(col("doc_id"), col("quality_bp"))
    val src = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"))
    val scored = src.join(q, "doc_id")
    val bySrc = Window.partitionBy("source")
      .orderBy(col("quality_bp"), col("doc_id"))
    val cal = scored
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("rank_src", row_number().over(bySrc))
      .withColumn("cal_u",
        // greatest(n_src-1, 1): a singleton source's only document
        // defines percentile 0 instead of failing the whole query on
        // divide-by-zero under ANSI mode (oracle guards identically).
        // rank_src is INT (row_number): widen BEFORE the ×1e6 — at
        // ~2200+ docs/source the int product overflows, which the 10×
        // protocol caught as an ANSI ARITHMETIC_OVERFLOW (round 9)
        expr("((cast(rank_src as bigint) - 1) * 1000000) div greatest(n_src - 1, 1)"))
    val tq = cal.agg(expr("count(1) div 4").as("topq"))
      .transform(graft.plans.Barrier.eager(_))
    // Round 14: the global top-quartile membership WITHOUT a global
    // row sort (this was the last corpus-sized designed sort outside
    // the documented q76/q114/q219 cases). "rank ≤ topq under
    // (value DESC, doc_id)" decomposes exactly into a VALUE-HISTOGRAM
    // cutoff (q155/q193 ladder shape): the boundary value v* is the
    // first ladder value whose strictly-above cumulative count is
    // still short of topq; within v*'s tie group the remaining quota
    // admits the `quota` smallest doc_ids (a window PARTITIONED by the
    // boundary value — tie-group-sized, never corpus-sized); then
    // membership is a pure per-row predicate against the broadcast
    // (v*, d*) cutoff pair.
    def topqCut(df: DataFrame, valueCol: String): DataFrame = {
      val hist = df.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
      val above = hist.withColumn("cum_above",
        coalesce(sum(col("cnt")).over(Window.orderBy(col(valueCol).desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val bound = above.crossJoin(broadcast(tq))
        .filter(col("cum_above") < col("topq") &&
          col("cum_above") + col("cnt") >= col("topq"))
        .select(col(valueCol).as("vstar"),
          (col("topq") - col("cum_above")).as("quota"))
      val dstar = df.join(broadcast(bound), col(valueCol) === col("vstar"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col(valueCol)).orderBy(col("doc_id"))).cast("long"))
        .filter(col("rn") === col("quota"))
        .select(col("vstar"), col("doc_id").as("dstar"))
      // always exactly one row (nulls when topq = 0 → predicate false)
      dstar.agg(max(col("vstar")).as(s"${valueCol}_vstar"),
        max(col("dstar")).as(s"${valueCol}_dstar"))
    }
    def member(valueCol: String): Column =
      col(valueCol) > col(s"${valueCol}_vstar") ||
        (col(valueCol) === col(s"${valueCol}_vstar") &&
          col("doc_id") <= col(s"${valueCol}_dstar"))
    cal
      .crossJoin(broadcast(topqCut(cal, "quality_bp")))
      .crossJoin(broadcast(topqCut(cal, "cal_u")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(member("quality_bp"), 1L).otherwise(0L)).as("n_topq_raw"),
        sum(when(member("cal_u"), 1L).otherwise(0L)).as("n_topq_cal"))
  }

  /** Oracle: same two-level ranking relationally; the global quartile
    * size is count(*)/4 by integer division. */
  val rankCalibrateSql: String =
    s"""WITH q AS (${TextOps.qualityScoreSql}),
       |s AS (
       |  SELECT d.source, q.doc_id, q.quality_bp
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id),
       |c AS (
       |  SELECT source, doc_id, quality_bp,
       |         ((row_number() OVER (PARTITION BY source
       |                              ORDER BY quality_bp, doc_id) - 1) * 1000000)
       |           // greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS cal_u
       |  FROM s),
       |r AS (
       |  SELECT source,
       |         row_number() OVER (ORDER BY quality_bp DESC, doc_id) AS r_raw,
       |         row_number() OVER (ORDER BY cal_u DESC, doc_id) AS r_cal
       |  FROM c),
       |t AS (SELECT count(*) // 4 AS topq FROM r)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN r_raw <= t.topq THEN 1 ELSE 0 END) AS BIGINT) AS n_topq_raw,
       |       CAST(sum(CASE WHEN r_cal <= t.topq THEN 1 ELSE 0 END) AS BIGINT) AS n_topq_cal
       |FROM r CROSS JOIN t
       |GROUP BY 1""".stripMargin
}

package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.plans.Barrier

/** Distribution-drift monitor (q197) — the ingest-gate check a
  * training-data pipeline runs between corpus snapshots before letting
  * a new batch into the mix: has the per-stream value distribution
  * moved enough that downstream mixtures (q77/q89/q182) and trained
  * filters (q146/q149) were fit on stale data?
  *
  * The events table is split into a REFERENCE window and a CURRENT
  * window at the midpoint of its time span (scale-free: the boundary
  * derives from min/max event time, never from a constant). Each
  * event_type's value distribution is histogrammed into fixed
  * [[DriftOps.BandCents]]-wide bands, and the drift statistic is the
  * exact total-variation distance in parts-per-million:
  * TV = Σ_bands |p_ref − p_cur| / 2 with both sides in integer ppm —
  * the repo's FP-safe discipline (no KL/PSI logarithm: TV is the
  * metric with an exact integer form, bounded [0, 1e6], and it is the
  * statistic PSI thresholds approximate anyway). A stream whose TV
  * exceeds [[DriftOps.DriftTvPpmThreshold]] is flagged.
  *
  * Scale shape: ONE scan — a single map-side-combinable
  * (event_type, band, window) count aggregate (the window tag is a
  * scalar comparison against a broadcast 1-row min/max aggregate),
  * pivoted to ref/cur columns by conditional sums in the SAME
  * aggregate, then a tiny per-type rollup. Shuffled keys are
  * (type, band) tuples — bounded by type-count × band-count, never by
  * event count, so the plan is identical at 100 TB. The oracle derives
  * the same ledger from two INDEPENDENT per-window histograms
  * FULL-OUTER-joined — a green hash certifies the fused single-pass
  * pivot against the naive two-pass form.
  *
  * Integer-range: cnt·10⁶ needs a per-(type,band) count < 9.2e12 —
  * comfortably true even at 10¹² events per type (counts split across
  * ~100 bands); the per-band quotient is ≤ 10⁶ so the TV sum is tiny.
  * Empty-window guard: a type seen in only one window divides by
  * greatest(n, 1) on the empty side (its TV reads ~10⁶ ppm = maximal
  * drift, the correct signal for a brand-new stream).
  */
object DriftOps {

  /** Histogram band width in value cents (5.00 units/band). */
  val BandCents = 500L

  /** TV distance (ppm) above which a stream is flagged as drifted. */
  val DriftTvPpmThreshold = 20000L

  def driftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      unix_millis(col("ts")).as("ms"),
      expr(s"cast(round(value * 100, 0) as bigint) div $BandCents").as("band"))
    // 1-row broadcast: the midpoint of the observed time span
    val bound = ev.agg(
      expr("(min(ms) + max(ms)) div 2").as("mid_ms"))
    val tagged = ev.crossJoin(broadcast(bound))
      .withColumn("win", when(col("ms") < col("mid_ms"), 0L).otherwise(1L))
    val hist = tagged.groupBy(col("event_type"), col("band"))
      .agg(sum(when(col("win") === 0L, 1L).otherwise(0L)).as("cnt_ref"),
           sum(when(col("win") === 1L, 1L).otherwise(0L)).as("cnt_cur"))
    tvLedger(hist)
  }

  /** The per-type TV rollup over a (event_type, band, cnt_ref,
    * cnt_cur) histogram — shared by the batch monitor and its
    * streaming twin [[driftStream]]. */
  def tvLedger(hist: DataFrame): DataFrame = {
    val totals = hist.groupBy(col("event_type"))
      .agg(sum(col("cnt_ref")).as("n_ref"), sum(col("cnt_cur")).as("n_cur"))
    hist.join(totals, "event_type")
      .groupBy(col("event_type"))
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur"),
        count(lit(1)).as("n_bands"),
        expr("sum(abs(cnt_ref * 1000000 div greatest(n_ref, 1) " +
             "- cnt_cur * 1000000 div greatest(n_cur, 1))) div 2").as("tv_ppm"))
      .withColumn("drifted",
        (col("tv_ppm") > DriftTvPpmThreshold).cast("int"))
  }

  /** q203: the drift monitor as a LIVE ingest gate — the current
    * window is a Structured Streaming aggregate (the arriving batch),
    * the reference histogram is static (the blessed corpus), and the
    * ledger must hash-equal the q197 batch form. The stream side
    * keeps only (event_type, band) count state — bounded by
    * type-count × band-count, never event count — and the midpoint
    * boundary is a 1-row batch pre-pass (bounded driver collect, the
    * model-artifact pattern). After the AvailableNow drain the
    * reference join and TV rollup run as plain batch plans. */
  def driftStream(spark: SparkSession, dir: String): DataFrame = {
    def proj(df: DataFrame): DataFrame = df.select(
      col("event_type"),
      unix_millis(col("ts")).as("ms"),
      expr(s"cast(round(value * 100, 0) as bigint) div $BandCents").as("band"))
    val evB = proj(Tables.events(spark, dir))
    val mid = evB.agg(expr("(min(ms) + max(ms)) div 2")).collect()(0).getLong(0)
    val cur = proj(graft.streaming.EventsStream.source(spark, dir))
      .filter(col("ms") >= mid)
      .groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("cnt_cur"))
    val drained = graft.streaming.EventsStream.runAvailableNow(
      spark, cur, "q203_stream_drift", outputMode = "complete")
    val ref = evB.filter(col("ms") < mid)
      .groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("cnt_ref"))
    val hist = ref.join(drained, Seq("event_type", "band"), "full_outer")
      .select(col("event_type"), col("band"),
        coalesce(col("cnt_ref"), lit(0L)).as("cnt_ref"),
        coalesce(col("cnt_cur"), lit(0L)).as("cnt_cur"))
    tvLedger(hist)
  }

  // ------------------------------------------- q237 lexical drift matrix

  /** The shared vocabulary the pairwise comparison runs over: the top
    * [[LexTvTopV]] corpus tokens by count (ties → lexicographic) — a
    * FIXED-size contract, so the pair stage's state is sources × V at
    * any corpus scale. */
  val LexTvTopV = 2000L

  /** Cross-source lexical drift matrix: exact total-variation distance
    * between every source pair's unigram distributions over the shared
    * top-V vocabulary — q197's TV statistic moved from value bands to
    * token space (the "does source B write like source A" screen a
    * mixture designer reads before trusting one source's quality
    * thresholds on another). TV decomposes as Σ_common |p_a − p_b| +
    * (T_a − Σ_common p_a) + (T_b − Σ_common p_b), so only the INNER
    * join over shared tokens is evaluated — tokens private to one
    * source enter through the per-source totals, never as null-padded
    * rows. All shares are integer ppm (floor), the q197 discipline.
    *
    * Scale shape: one corpus-wide (source, token) count, one vocab
    * top-V rank (V fixed), then every stage runs on sources × V rows.
    */
  def lexicalDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExprs.tokensCol
    val cnt = Tables.spread(Tables.documents(spark, dir))
      .select(col("source"), explode(tokensCol(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .transform(Barrier.eager(_))
    lexicalDriftOfCounts(cnt)
  }

  /** The pairwise TV stage on an explicit (source, tok, c) count table
    * — exposed for hand-computed fixture specs. */
  def lexicalDriftOfCounts(cnt: DataFrame): DataFrame = {
    // orderBy+limit plans as TakeOrdered (bounded heap per partition +
    // driver merge of V rows) — no global sort of the vocabulary
    val vocab = cnt.groupBy(col("tok")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("tok").asc).limit(LexTvTopV.toInt)
      .select(col("tok"))
    val rc = cnt.join(broadcast(vocab), "tok")
    val n = rc.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val p = rc.join(broadcast(n), "source")
      .select(col("source"), col("tok"), expr("c * 1000000 div n_src").as("p"))
      .transform(Barrier.eager(_))
    val t = p.groupBy(col("source"))
      .agg(sum(col("p")).as("tp"), count(lit(1)).as("n_toks"))
    val common = p.as("a").join(p.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(abs(col("a.p") - col("b.p"))).as("d_common"),
        sum(col("a.p")).as("ca"), sum(col("b.p")).as("cb"),
        count(lit(1)).as("n_common"))
    t.as("ta").join(t.as("tb"), col("ta.source") < col("tb.source"))
      .select(col("ta.source").as("src_a"), col("tb.source").as("src_b"),
        col("ta.tp").as("tpa"), col("tb.tp").as("tpb"))
      .join(common, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr("""(coalesce(d_common, 0) + (tpa - coalesce(ca, 0))
               |  + (tpb - coalesce(cb, 0))) div 2""".stripMargin).as("tv_ppm"))
  }

  val lexicalDriftSql: String = {
    val toks = graft.functions.TextExprs.tokensSql("lower(text)")
    s"""WITH cnt AS (
       |  SELECT source, unnest($toks) AS tok, 1 AS one
       |  FROM documents),
       |c0 AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       |       FROM cnt GROUP BY 1, 2),
       |vocab AS (
       |  SELECT tok FROM c0 GROUP BY tok
       |  ORDER BY sum(c) DESC, tok ASC LIMIT $LexTvTopV),
       |rc AS (SELECT c0.* FROM c0 JOIN vocab USING (tok)),
       |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM rc GROUP BY 1),
       |p AS (SELECT rc.source, rc.tok, rc.c * 1000000 // n.n_src AS p
       |      FROM rc JOIN n ON rc.source = n.source),
       |t AS (SELECT source, CAST(sum(p) AS BIGINT) AS tp,
       |             CAST(count(*) AS BIGINT) AS n_toks FROM p GROUP BY 1),
       |common AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         CAST(sum(abs(a.p - b.p)) AS BIGINT) AS d_common,
       |         CAST(sum(a.p) AS BIGINT) AS ca, CAST(sum(b.p) AS BIGINT) AS cb,
       |         CAST(count(*) AS BIGINT) AS n_common
       |  FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT ta.source AS src_a, tb.source AS src_b,
       |       CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
       |       CAST((coalesce(cm.d_common, 0) + (ta.tp - coalesce(cm.ca, 0))
       |             + (tb.tp - coalesce(cm.cb, 0))) // 2 AS BIGINT) AS tv_ppm
       |FROM t ta JOIN t tb ON ta.source < tb.source
       |LEFT JOIN common cm ON cm.src_a = ta.source AND cm.src_b = tb.source""".stripMargin
  }

  /** Oracle: two independent per-window histograms FULL-OUTER-joined —
    * the naive two-pass formulation of the same ledger. */
  val driftMonitorSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, epoch_ms(ts) AS ms,
       |         CAST(round(value * 100, 0) AS BIGINT) // $BandCents AS band
       |  FROM events),
       |b AS (SELECT (min(ms) + max(ms)) // 2 AS mid_ms FROM ev),
       |hr AS (SELECT event_type, band, count(*) AS cnt_ref
       |       FROM ev, b WHERE ms < mid_ms GROUP BY 1, 2),
       |hc AS (SELECT event_type, band, count(*) AS cnt_cur
       |       FROM ev, b WHERE ms >= mid_ms GROUP BY 1, 2),
       |h AS (SELECT coalesce(hr.event_type, hc.event_type) AS event_type,
       |             coalesce(hr.band, hc.band) AS band,
       |             coalesce(cnt_ref, 0) AS cnt_ref,
       |             coalesce(cnt_cur, 0) AS cnt_cur
       |      FROM hr FULL OUTER JOIN hc
       |        ON hr.event_type = hc.event_type AND hr.band = hc.band),
       |t AS (SELECT event_type, sum(cnt_ref) AS n_ref, sum(cnt_cur) AS n_cur
       |      FROM h GROUP BY 1)
       |SELECT h.event_type,
       |       CAST(max(n_ref) AS BIGINT) AS n_ref,
       |       CAST(max(n_cur) AS BIGINT) AS n_cur,
       |       CAST(count(*) AS BIGINT) AS n_bands,
       |       CAST(sum(abs(cnt_ref * 1000000 // greatest(n_ref, 1)
       |                  - cnt_cur * 1000000 // greatest(n_cur, 1))) // 2
       |            AS BIGINT) AS tv_ppm,
       |       CAST(CASE WHEN sum(abs(cnt_ref * 1000000 // greatest(n_ref, 1)
       |                            - cnt_cur * 1000000 // greatest(n_cur, 1))) // 2
       |                      > $DriftTvPpmThreshold
       |            THEN 1 ELSE 0 END AS INTEGER) AS drifted
       |FROM h JOIN t ON h.event_type = t.event_type
       |GROUP BY 1""".stripMargin
}

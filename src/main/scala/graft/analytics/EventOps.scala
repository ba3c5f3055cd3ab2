package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.plans.Barrier

/** Event-stream operators over the `events` table (SURVEY.md §7
  * extensions; batch forms here so the DuckDB oracle can verify —
  * graft.streaming.EventsStream carries the Structured Streaming
  * equivalents with watermarks).
  *
  * NOTE on timestamps: events.ts is nanosecond-precision parquet; Spark
  * truncates to microseconds while DuckDB keeps ns, so every emitted
  * timestamp is date_trunc'd to seconds on both sides.
  */
object EventOps {

  /** JSON column extraction + grouped aggregate (props is a JSON string;
    * at scale prefer from_json with an explicit schema once, which this
    * compiles to — no per-row schema inference). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
           count(col("k")).as("n_with_k"),
           round(avg(col("k")), 2).as("avg_k"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
      |FROM events GROUP BY 1""".stripMargin

  /** Reaggregatable distinct-count sketches (q156) — the pattern q44's
    * single-shot `approx_count_distinct` cannot express: per-(type, day)
    * DataSketches HLL PARTIALS are materialized once (the daily-rollup
    * artifact a 100 TB pipeline persists), then MERGED via
    * `hll_union_agg` into per-type estimates WITHOUT re-reading raw
    * events — sketch-as-column, the only shape under which "distinct
    * users this month" costs a sketch-table scan instead of a raw
    * re-scan. The estimate is checked against the exact distinct count
    * in-query (lgK=12 → RSE ≈ 1.6%; gated at 5% — the q44/q45 bound
    * convention, oracle emits literal 1), so a sketch outside its
    * guarantee turns the row red rather than silently drifting. */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val rolled = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("exact_users"),
        when(abs(col("est") - col("exact_users")) * 100
          <= col("exact_users") * 5, 1L).otherwise(0L).as("within_bound"))
  }

  val hllRollupSql: String =
    """SELECT event_type,
      |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       CAST(1 AS BIGINT) AS within_bound
      |FROM events GROUP BY 1""".stripMargin

  /** Temporal-split leakage audit (q159) — the pre-training sanity
    * gate for any time-split dataset: partition events into train
    * (first [[LeakSplitDays]] days from the corpus's own first event)
    * and eval (the rest), then measure ENTITY leakage across the
    * boundary — users present on both sides mean the "held-out" eval
    * window is not held out at the user level (the temporal analog of
    * test-set contamination; cf. q75/q94's content-level forms). One
    * summary row: per-split event/user counts, the cross-boundary
    * user count, and the leak rate in basis points of eval users.
    * Scale shape: the split point is one min() aggregate (broadcast
    * scalar); counts are one pass with conditional aggregates; the
    * cross count is a distinct-(user, side) aggregate — shuffle
    * carries (user_id, bool) only. */
  val LeakSplitDays = 21

  def leakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val t0 = ev.agg(date_trunc("day", min(col("ts"))).as("d0"))
    val sided = ev.crossJoin(broadcast(t0))
      .select(col("user_id"),
        (col("ts") < col("d0") + expr(s"INTERVAL $LeakSplitDays DAYS"))
          .as("is_train"))
    val counts = sided.agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_eval"),
      countDistinct(when(col("is_train"), col("user_id"))).as("users_train"),
      countDistinct(when(!col("is_train"), col("user_id"))).as("users_eval"))
    val both = sided.select(col("user_id"), col("is_train")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("sides"))
      .agg(sum(when(col("sides") === 2, 1L).otherwise(0L)).as("users_both"))
    counts.crossJoin(both)
      .withColumn("leak_bp", expr("(10000 * users_both) div users_eval"))
  }

  val leakageAuditSql: String =
    s"""WITH t0 AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events),
       |sided AS (
       |  SELECT user_id,
       |         ts < d0 + INTERVAL $LeakSplitDays DAY AS is_train
       |  FROM events CROSS JOIN t0),
       |c AS (
       |  SELECT CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |         CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       |         CAST(count(DISTINCT CASE WHEN is_train THEN user_id END) AS BIGINT) AS users_train,
       |         CAST(count(DISTINCT CASE WHEN NOT is_train THEN user_id END) AS BIGINT) AS users_eval
       |  FROM sided),
       |b AS (
       |  SELECT CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS users_both
       |  FROM (SELECT user_id, count(*) AS sides
       |        FROM (SELECT DISTINCT user_id, is_train FROM sided)
       |        GROUP BY 1))
       |SELECT c.*, b.users_both,
       |       CAST((10000 * b.users_both) // c.users_eval AS BIGINT) AS leak_bp
       |FROM c CROSS JOIN b""".stripMargin

  /** Permissive JSON parsing with corrupt-record dead-lettering
    * (q177) — the schema-on-read ingestion gate (the D3/D13 split at
    * the JSON layer): real event streams carry malformed payloads,
    * type-mismatched fields, and missing keys, and the parse must
    * ROUTE each class rather than fail the job. Three failure classes
    * are planted deterministically (id ≡ 0 mod 13 → truncated/invalid
    * JSON; mod 17 → type mismatch, "k" is a string; mod 19 → key
    * absent) and parsed with `from_json` in PERMISSIVE mode with a
    * corrupt-record column: malformed documents land whole in `_bad`,
    * a type-mismatched FIELD nulls out (also recorded in `_bad` —
    * Spark's partial-result semantics), an absent key is silently
    * null. The ledger counts each class per event type and sums the
    * surviving `k` mass — schema drift becomes a monitored number,
    * not a crash.
    *
    * Scale shape: one narrow codegen'd projection (JacksonParser per
    * row, no UDF); the ledger aggregates map-side. */
  def jsonDeadletter(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"),
      // corruption at byte 0: Jackson tolerates trailing garbage
      // after a complete root object, so a truncated HEAD is the
      // reliably-malformed plant
      when(col("event_id") % 13 === 0, concat(lit("{{"), col("props")))
        .when(col("event_id") % 17 === 0, lit("""{"k": "x"}"""))
        .when(col("event_id") % 19 === 0, lit("{}"))
        .otherwise(col("props")).as("j"))
    val parsed = planted.withColumn("p",
      from_json(col("j"), "k BIGINT, _bad STRING",
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")))
    parsed
      .withColumn("parse_class",
        when(col("p._bad").isNotNull && col("p.k").isNull,
          when(get_json_object(col("j"), "$.k").isNotNull, lit("type_mismatch"))
            .otherwise(lit("malformed")))
          .when(col("p.k").isNull, lit("missing_key"))
          .otherwise(lit("ok")))
      .groupBy("event_type", "parse_class")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("p.k"), lit(0L))).as("sum_k"))
  }

  /** Oracle: classification re-derived from the PLANTING arithmetic
    * (the generator-family convention — DuckDB's json functions throw
    * on malformed input rather than returning null, so the oracle
    * never parses a corrupted string); `k` mass comes from the
    * original valid payloads of the 'ok' class. A green hash
    * certifies the parser ROUTED every planted row to its true
    * class. */
  val jsonDeadletterSql: String =
    """WITH cls AS (
      |  SELECT event_type,
      |         CASE WHEN event_id % 13 = 0 THEN 'malformed'
      |              WHEN event_id % 17 = 0 THEN 'type_mismatch'
      |              WHEN event_id % 19 = 0 THEN 'missing_key'
      |              ELSE 'ok' END AS parse_class,
      |         CASE WHEN event_id % 13 != 0 AND event_id % 17 != 0
      |                   AND event_id % 19 != 0
      |              THEN coalesce(try_cast(json_extract_string(props, '$.k') AS BIGINT), 0)
      |              ELSE 0 END AS k
      |  FROM events)
      |SELECT event_type, parse_class,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(k) AS BIGINT) AS sum_k
      |FROM cls GROUP BY 1, 2""".stripMargin

  /** Trailing-window rate-anomaly audit (q173) — the pipeline-health
    * monitor every ingest system runs over its own telemetry: per
    * (event type, hour), compare the hour's event count against the
    * trailing 24 observed hours and flag hours deviating from the
    * trailing mean by more than 100%. The test is EXACT INTEGER
    * cross-multiplication — |n·tn − Σ| > Σ ⇔ |n − Σ/tn| > Σ/tn —
    * so no float mean ever exists to disagree across engines. A
    * 12-hour warm-up gates the flag (a 1-hour history would call
    * everything anomalous). Trailing window is over OBSERVED hours
    * (q111's gap-fill would make it calendar hours — composable, not
    * conflated). ~5% of hours flag on this corpus — both classes are
    * genuinely populated.
    *
    * Scale shape: one map-side-combinable hourly pre-aggregate (the
    * only corpus-sized pass), then a per-type ordered window over the
    * tiny hour series — the window input is |types|·|hours| rows, not
    * events. */
  val AnomWarmup = 12

  def rateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tw = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("trail_n", count(col("n_events")).over(tw))
      .withColumn("trail_sum", coalesce(sum(col("n_events")).over(tw), lit(0L)))
      .withColumn("is_anom",
        when(col("trail_n") >= AnomWarmup &&
          abs(col("n_events") * col("trail_n") - col("trail_sum"))
            > col("trail_sum"), 1L).otherwise(0L))
  }

  val rateAnomalySql: String =
    s"""WITH h AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour,
       |         CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, hour, n_events,
       |       CAST(count(n_events) OVER tw AS BIGINT) AS trail_n,
       |       CAST(coalesce(sum(n_events) OVER tw, 0) AS BIGINT) AS trail_sum,
       |       CAST(CASE WHEN count(n_events) OVER tw >= $AnomWarmup
       |                  AND abs(n_events * (count(n_events) OVER tw)
       |                          - coalesce(sum(n_events) OVER tw, 0))
       |                      > coalesce(sum(n_events) OVER tw, 0)
       |                 THEN 1 ELSE 0 END AS BIGINT) AS is_anom
       |FROM h
       |WINDOW tw AS (PARTITION BY event_type ORDER BY hour
       |              ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)""".stripMargin

  /** Tumbling 1-hour event-time window aggregate. Spark's window()
    * aligns to the epoch, so 1-hour tumbling window starts coincide with
    * date_trunc('hour'). */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           // cents-exact: per-(window, type) groups grow with corpus
           // volume — the r11 money-sum drift class (PERF.md)
           (sum(expr("cast(round(value * 100) as bigint)"))
             .cast("double") / 100.0).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"), col("sum_value"))

  val tumblingCountsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** SLIDING (hopping) windows — 2-hour duration, 1-hour slide: every
    * event lands in exactly two overlapping windows (the one starting
    * at its hour and the one starting an hour before). Spark's `window`
    * expands each row to its windows BEFORE the hash aggregate — one
    * Expand + one shuffle, the same cost shape as a tumbling window ×
    * overlap factor; the oracle re-derives membership by unnesting the
    * two epoch-aligned starts. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           // cents-exact: per-(window, type) groups grow with corpus
           // volume — the r11 money-sum drift class (PERF.md)
           (sum(expr("cast(round(value * 100) as bigint)"))
             .cast("double") / 100.0).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"), col("sum_value"))

  val slidingCountsSql: String =
    """SELECT window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM (SELECT unnest([date_trunc('hour', ts),
      |                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
      |             event_type, value
      |      FROM events)
      |GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap): lag to detect
    * session starts, running sum to assign session ids, then per-session
    * aggregate. Two window passes + one groupBy, all partitioned by
    * user_id — a single shuffle lineage at scale. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           date_trunc("second", min(col("ts"))).as("session_start"),
           date_trunc("second", max(col("ts"))).as("session_end"),
           round(sum(col("value")), 2).as("sum_value"))

  }

  /** Multi-touch linear attribution (q195) — the complement of q137's
    * last-touch rule: each purchase distributes ONE unit of credit
    * (10⁶ micro-units) EQUALLY across all of the same user's clicks in
    * the preceding [[AttribWindowH]] hours; the integer remainder goes
    * to the most recent click, so Σ credit = 10⁶ · attributed
    * purchases EXACTLY (conservation, not approximation). Output is
    * the TIME-TO-CONVERSION CURVE — credit mass by click age in hours
    * before the purchase — the shape marketing uses to set lookback
    * windows. Purchases with no prior click are ledgered in the
    * age = −1 row (unattributed), so nothing vanishes.
    *
    * Scale shape: one bounded interval join (purchase × same-user
    * clicks within the window — the q60 machinery; user-keyed, window-
    * bounded candidate mass), one per-purchase window for the click
    * count/recency rank, then a map-side-combinable age-bucket
    * aggregate. */
  val AttribWindowH = 168L

  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_millis(col("ts")).as("pms"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"),
        unix_millis(col("ts")).as("cms"))
    val joined = purch.join(clicks, Seq("user_id"))
      .filter(col("cms") <= col("pms") &&
        col("pms") - col("cms") <= AttribWindowH * 3600000L)
    val perPurchase = Window.partitionBy("pid")
    val byRecency = Window.partitionBy("pid")
      .orderBy(col("cms").desc, col("cid"))
    val credited = joined
      .withColumn("n_touch", count(lit(1)).over(perPurchase))
      .withColumn("r", row_number().over(byRecency))
      .withColumn("credit_u",
        expr("1000000 div n_touch")
          + when(col("r") === 1, expr("1000000 % n_touch")).otherwise(0L))
      .withColumn("age_h", expr("(pms - cms) div 3600000"))
    val curve = credited.groupBy("age_h")
      .agg(count(lit(1)).as("n_clicks"), sum(col("credit_u")).as("credit_u"))
    val unattributed = purch.join(
        credited.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n_clicks"))
      .select(lit(-1L).as("age_h"), col("n_clicks"),
        lit(0L).as("credit_u"))
    curve.unionByName(unattributed)
  }

  val linearAttributionSql: String =
    s"""WITH purch AS (
       |  SELECT user_id, event_id AS pid, epoch_ms(ts) AS pms
       |  FROM events WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id, event_id AS cid, epoch_ms(ts) AS cms
       |  FROM events WHERE event_type = 'click'),
       |j AS (
       |  SELECT p.pid, p.pms, c.cid, c.cms
       |  FROM purch p JOIN clicks c ON c.user_id = p.user_id
       |  WHERE c.cms <= p.pms
       |    AND p.pms - c.cms <= $AttribWindowH * 3600000),
       |cr AS (
       |  SELECT pid, pms, cms,
       |         count(*) OVER (PARTITION BY pid) AS n_touch,
       |         row_number() OVER (PARTITION BY pid
       |                            ORDER BY cms DESC, cid) AS r
       |  FROM j),
       |cu AS (
       |  SELECT (pms - cms) // 3600000 AS age_h,
       |         1000000 // n_touch
       |           + CASE WHEN r = 1 THEN 1000000 % n_touch ELSE 0 END AS credit_u
       |  FROM cr),
       |curve AS (
       |  SELECT age_h, CAST(count(*) AS BIGINT) AS n_clicks,
       |         CAST(sum(credit_u) AS BIGINT) AS credit_u
       |  FROM cu GROUP BY 1),
       |un AS (
       |  SELECT CAST(-1 AS BIGINT) AS age_h,
       |         CAST(count(*) AS BIGINT) AS n_clicks,
       |         CAST(0 AS BIGINT) AS credit_u
       |  FROM purch WHERE pid NOT IN (SELECT DISTINCT pid FROM j))
       |SELECT * FROM curve UNION ALL SELECT * FROM un""".stripMargin

  /** Forward-fill imputation (q188) — LOCF (last observation carried
    * forward), the standard repair for telemetry streams whose value
    * field drops intermittently: each missing value takes the SAME
    * user's most recent observed value (never another user's, never
    * the future). Missingness is planted deterministically (event_id
    * ≡ 0 mod 7 → value masked) so the repair is measurable: the
    * ledger emits per-type observed/imputed/unfillable counts and the
    * imputed-value mass. The fill is `last(value, ignoreNulls)` over
    * an unbounded-preceding user window — one shuffle on user_id, no
    * self-join (the naive formulation joins each null row to its
    * predecessor set; the oracle uses a max_by formulation, a THIRD
    * derivation). A user's leading nulls have no donor and stay null
    * (`unfillable`) — imputation honesty requires saying so.
    *
    * Scale shape: one user-keyed window pass (running last), then a
    * map-side-combinable per-type ledger. */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Value carried as integer CENTS (round(value*100) at plant time):
    // a double sum's accumulation order varies with partitioning, so a
    // float mass on a .005 boundary could flip the 2-decimal hash
    // between runs; long sums are order-invariant — the repo-wide
    // all-integer ledger contract.
    val planted = Tables.events(spark, dir)
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(round(col("value") * 100).cast("long")))
    planted
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(byUser))
      .groupBy("event_type")
      .agg(
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_observed"),
        sum(when(col("v").isNull && col("filled").isNotNull, 1L).otherwise(0L))
          .as("n_imputed"),
        sum(when(col("filled").isNull, 1L).otherwise(0L)).as("n_unfillable"),
        sum(when(col("v").isNull, coalesce(col("filled"), lit(0L)))
          .otherwise(0L)).as("imputed_mass_c"))
  }

  /** Oracle: the fill re-derived via max_by over the preceding
    * observed rows (an independent formulation of LOCF). */
  val forwardFillSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN event_id % 7 = 0 THEN NULL
      |              ELSE CAST(round(value * 100, 0) AS BIGINT) END AS v
      |  FROM events),
      |f AS (
      |  SELECT event_type, v,
      |         last_value(v IGNORE NULLS) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM p)
      |SELECT event_type,
      |       CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_observed,
      |       CAST(sum(CASE WHEN v IS NULL AND filled IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
      |       CAST(sum(CASE WHEN filled IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unfillable,
      |       CAST(sum(CASE WHEN v IS NULL THEN coalesce(filled, 0) ELSE 0 END) AS BIGINT) AS imputed_mass_c
      |FROM f GROUP BY 1""".stripMargin

  /** Bot-run detection via gaps-and-islands (q189) — the classic
    * run-length SQL pattern the suite lacked: consecutive identical
    * event types from one user form an ISLAND (island id = running
    * count of type CHANGES — the lag-flag cumulative sum), and a user
    * whose longest island reaches [[BotRunLen]] is flagged bot-like
    * (threshold placed inside this corpus's run distribution so both
    * flag classes are populated — max observed run is 6)
    * (real clickstream QA: scripted agents repeat one action; humans
    * interleave). Per-user ledger: events, islands, longest island,
    * flag.
    *
    * Scale shape: one user-keyed window pass for the change flags +
    * running sum, then two map-side-combinable aggregates (island
    * sizes, user rollup) on the same key — no self-join, no
    * re-shuffle (all three stages share the user_id partitioning). */
  val BotRunLen = 5L

  def botRuns(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val isl = Tables.events(spark, dir)
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("chg")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy("user_id", "island")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("user_id")
      .agg(sum(col("run_len")).as("n_events"),
        count(lit(1)).as("n_islands"),
        max(col("run_len")).as("max_run"))
      .withColumn("is_bot",
        when(col("max_run") >= BotRunLen, 1L).otherwise(0L))
  }

  val botRunsSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id,
       |         CASE WHEN lag(event_type) OVER w IS NULL
       |                OR lag(event_type) OVER w != event_type
       |              THEN 1 ELSE 0 END AS chg,
       |         ts, event_id
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |isl AS (
       |  SELECT user_id,
       |         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flagged),
       |runs AS (SELECT user_id, island, count(*) AS run_len
       |         FROM isl GROUP BY 1, 2)
       |SELECT user_id,
       |       CAST(sum(run_len) AS BIGINT) AS n_events,
       |       CAST(count(*) AS BIGINT) AS n_islands,
       |       CAST(max(run_len) AS BIGINT) AS max_run,
       |       CAST(CASE WHEN max(run_len) >= $BotRunLen THEN 1 ELSE 0 END AS BIGINT) AS is_bot
       |FROM runs GROUP BY 1""".stripMargin

  /** Log-scale dwell-time histogram (q187) — the observability
    * standard for latency-like quantities: inter-event gaps span six
    * orders of magnitude, so linear bins waste the range and a
    * log-scale histogram (bucket k = smallest k with gap < 4^k
    * seconds) captures the whole distribution in ~11 buckets — the
    * HDR-histogram/Prometheus-bucket shape, here as a pure integer
    * CASE ladder (no log call, no float). Dwell = seconds to the SAME
    * user's next event (epoch-ms difference via lead, floor-divided),
    * per event type of the earlier event; the final event per user
    * has no dwell and is excluded by the lead null.
    *
    * Scale shape: one user-keyed window pass (the q40 lead shape),
    * then a map-side-combinable (type, bucket) aggregate — the
    * histogram is the shuffle payload, ~types·buckets rows. */
  def dwellHistogram(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .withColumn("next_ms", lead(unix_millis(col("ts")), 1).over(byUser))
      .filter(col("next_ms").isNotNull)
      .withColumn("dwell_s", expr("(next_ms - unix_millis(ts)) div 1000"))
    val bucket = (0 to 10).foldLeft(when(lit(false), lit(0L))) { (acc, k) =>
      acc.when(col("dwell_s") < math.pow(4, k).toLong, k.toLong)
    }.otherwise(lit(11L))
    gaps.withColumn("bucket", bucket)
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        min(col("dwell_s")).as("min_s"), max(col("dwell_s")).as("max_s"))
  }

  val dwellHistogramSql: String = {
    val ladder = (0 to 10)
      .map(k => s"WHEN dwell_s < ${math.pow(4, k).toLong} THEN $k")
      .mkString("\n      |              ")
    s"""WITH g AS (
       |  SELECT event_type,
       |         (lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |          - epoch_ms(ts)) // 1000 AS dwell_s
       |  FROM events),
       |b AS (
       |  SELECT event_type,
       |         CASE $ladder
       |              ELSE 11 END AS bucket,
       |         dwell_s
       |  FROM g WHERE dwell_s IS NOT NULL)
       |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(min(dwell_s) AS BIGINT) AS min_s,
       |       CAST(max(dwell_s) AS BIGINT) AS max_s
       |FROM b GROUP BY 1, 2""".stripMargin
  }

  /** Session path mining (q181) — the navigation-pattern rollup on
    * top of q14's sessionization: each session's first [[PathCap]]
    * events (ordered by (ts, event_id) — the same total order the
    * session windows use, so ties cannot reshuffle a path) join into
    * a `a>b>c` path string, and the TOP-[[TopPaths]] paths by session
    * count come back ranked. Ordered concatenation inside an
    * aggregate is done order-safely: collect (step, type) structs,
    * array_sort (struct order = step order), transform+join — never
    * `collect_list` order luck.
    *
    * Scale shape: sessionization's one user-shuffle + in-session
    * window; path counting aggregates map-side on the path string
    * (bounded: ≤ PathCap event types long); the final top-k ranks a
    * path-cardinality-sized table (q08's caveat applies — the global
    * window is fine because distinct paths ≪ corpus). */
  val PathCap = 8
  val TopPaths = 20

  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val inSess = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    val paths = sess
      .withColumn("step", row_number().over(inSess))
      .filter(col("step") <= PathCap)
      .groupBy("user_id", "session_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("step"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
    val counts = paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
    counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .filter(col("rank") <= TopPaths)
      .select(col("rank").cast("long").as("rank"), col("path"), col("n_sessions"))
  }

  val sessionPathsSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
       |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged),
       |stepped AS (
       |  SELECT user_id, session_id, event_type,
       |         row_number() OVER (PARTITION BY user_id, session_id
       |                            ORDER BY ts, event_id) AS step
       |  FROM sess),
       |paths AS (
       |  SELECT user_id, session_id,
       |         string_agg(event_type, '>' ORDER BY step) AS path
       |  FROM stepped WHERE step <= $PathCap
       |  GROUP BY 1, 2),
       |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
       |      FROM paths GROUP BY 1)
       |SELECT CAST(rank AS BIGINT) AS rank, path, n_sessions FROM (
       |  SELECT path, n_sessions,
       |         row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
       |  FROM c)
       |WHERE rank <= $TopPaths""".stripMargin

  /** As-of join — an operator Spark lacks natively, composed scalably
    * from built-ins (union + window, the single-shuffle formulation):
    * for each `purchase` event, the same user's latest `click` event at
    * or before it. Probe and build sides are unioned, sorted per user by
    * (ts, side) with the build side first on ties, and the build
    * attributes are carried forward with last(_, ignoreNulls) — one
    * shuffle on user_id regardless of build-side density. The oracle is
    * the independent quadratic formulation (join + row_number), so the
    * two engines verify each other's semantics, including the
    * max-ts-then-max-event-id tie-break. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("side"), lit(null).cast("long").as("b_event"),
        lit(null).cast("double").as("b_value"))
    val build = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(0).as("side"), col("event_id").as("b_event"),
        col("value").as("b_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probe.unionAll(build)
      .withColumn("m_event", last(col("b_event"), ignoreNulls = true).over(w))
      .withColumn("m_value", last(col("b_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("m_event").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("m_event").as("click_id"), round(col("m_value"), 2).as("click_value"))
  }

  val asofJoinSql: String =
    """SELECT a.event_id AS purchase_id, a.user_id,
      |       b.event_id AS click_id, round(b.value, 2) AS click_value
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts <= a.ts
      | AND a.event_type = 'purchase' AND b.event_type = 'click'
      |QUALIFY row_number() OVER (PARTITION BY a.event_id
      |                           ORDER BY b.ts DESC, b.event_id DESC) = 1""".stripMargin

  /** LEAD/LAG window navigation: per-user inter-event gaps (lag) and
    * next-value direction (lead), rolled up per event type. All emitted
    * aggregates derive from integers (ms gaps, counts) so double
    * summation order cannot flip the hash. One shuffle on user_id for
    * the window, one small aggregate. */
  def leadLagDeltas(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_ms", unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("next_up",
        when(lead(col("value"), 1).over(byUser) > col("value"), 1L).otherwise(0L))
      .withColumn("has_next",
        when(lead(col("value"), 1).over(byUser).isNotNull, 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(col("gap_ms")).as("n_gaps"),
        max(col("gap_ms")).as("max_gap_ms"),
        round(avg(col("gap_ms")), 2).as("avg_gap_ms"),
        sum(col("next_up")).as("n_next_up"),
        sum(col("has_next")).as("n_with_next"))
  }

  val leadLagDeltasSql: String =
    """WITH nav AS (
      |  SELECT event_type,
      |         epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms,
      |         CASE WHEN lead(value) OVER w > value THEN 1 ELSE 0 END AS next_up,
      |         CASE WHEN lead(value) OVER w IS NOT NULL THEN 1 ELSE 0 END AS has_next
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type, count(gap_ms) AS n_gaps, max(gap_ms) AS max_gap_ms,
      |       round(avg(gap_ms), 2) AS avg_gap_ms,
      |       CAST(sum(next_up) AS BIGINT) AS n_next_up,
      |       CAST(sum(has_next) AS BIGINT) AS n_with_next
      |FROM nav GROUP BY 1""".stripMargin

  /** Oracle for the STREAMING session-window query (q46): the
    * lag-formulation sessions of [[sessionizeSql]], re-aggregated to the
    * native session_window output shape (no session_id — the streaming
    * operator doesn't number sessions). */
  val streamSessionizeSql: String =
    // NOTE: native session_window windows are [t, t+gap) with an
    // EXCLUSIVE end, so a gap of exactly 30 minutes starts a NEW
    // session — hence `>=` here, unlike q14's lag formulation whose
    // own (batch) semantics use strict `>` on both sides. The running
    // sum orders by (ts, event_id) like the flag window, so timestamp
    // ties cannot reshuffle session assignment.
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, date_trunc('second', min(ts)) AS session_start,
      |       count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM sessions GROUP BY user_id, session_id""".stripMargin

  /** MapType surface: parse the JSON props column into a real
    * map<string,bigint> ONCE (`from_json` with an explicit schema — no
    * per-row inference), then key inventory, cardinality, and null-safe
    * element access. At scale this is the "parse once, use many"
    * pattern that replaces repeated get_json_object calls. */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
    Tables.events(spark, dir)
      .select(col("event_id"), m.as("m"))
      .select(col("event_id"),
        size(col("m")).as("n_keys"),
        // serialized to a scalar: the driver's comparator can't hash ARRAY
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"),
        try_element_at(col("m"), lit("k")).as("k_val"),
        try_element_at(col("m"), lit("missing")).as("missing_val"))
  }

  val mapFuncsSql: String =
    """SELECT event_id,
      |       len(json_keys(props)) AS n_keys,
      |       array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
      |       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      |       TRY_CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_val
      |FROM events""".stripMargin

  /** Interval (range) join: every purchase paired with EVERY click by
    * the same user in the trailing 1-hour window — the general form of
    * the as-of join (q28 keeps only the latest; this keeps the set).
    * Equi-key on user + a time-band predicate: Spark plans the shuffle
    * on user_id and filters the band inside the join, so per-user
    * density bounds the cost at any scale. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("gap_ms"))
  }

  val intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""".stripMargin

  /** Oracle for the mapGroupsWithState per-user stats (q47). */
  val userStatsSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
      |       date_trunc('second', min(ts)) AS first_s,
      |       date_trunc('second', max(ts)) AS last_s
      |FROM events GROUP BY 1""".stripMargin

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       date_trunc('second', min(ts)) AS session_start,
      |       date_trunc('second', max(ts)) AS session_end,
      |       round(sum(value), 2) AS sum_value
      |FROM sessions GROUP BY 1, 2""".stripMargin

  /** SCD type-2 history build (q87) — the versioned-dimension companion
    * of the q86 type-1 merge: every (user, event) becomes a version row
    * with an effective range [valid_from, valid_to) and a current flag;
    * valid_to of the latest version is the standard far-future sentinel
    * (2200-01-01 — chosen inside pandas' datetime64[ns] range rather
    * than 9999-12-31, which the driver's comparator cannot represent).
    * One window pass per user partition — no self-join; at scale this
    * shuffles once on the dimension key, which is the minimum for any
    * ordered-versioning operator. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"),
        date_trunc("second", col("ts")).as("valid_from"),
        date_trunc("second",
          coalesce(col("next_ts"), lit("2200-01-01 00:00:00").cast("timestamp")))
          .as("valid_to"),
        round(col("value"), 2).as("value"),
        when(col("next_ts").isNull, 1).otherwise(0).as("is_current"))
  }

  val scd2HistorySql: String =
    """SELECT user_id,
      |       date_trunc('second', ts) AS valid_from,
      |       date_trunc('second',
      |         coalesce(lead(ts) OVER (PARTITION BY user_id
      |                                 ORDER BY ts, event_id),
      |                  TIMESTAMP '2200-01-01 00:00:00')) AS valid_to,
      |       round(value, 2) AS value,
      |       CASE WHEN lead(ts) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) IS NULL
      |            THEN 1 ELSE 0 END AS is_current
      |FROM events""".stripMargin

  /** Typed COGROUP (`KeyValueGroupedDataset.cogroup`) — the two-sided
    * arbitrary per-key iteration API, the escape hatch when a
    * reconciliation needs imperative logic over BOTH sides' rows at
    * once (here: event activity vs order spend per user key, emitting
    * keys present on either side). A plain full-outer join of two
    * aggregates expresses THIS query — the declarative twin is the
    * oracle — but cogroup is the API a sessionizer-with-lookup or a
    * merge-by-sequence reconciler needs. Scale shape: one shuffle per
    * side on the key (the minimum for any keyed merge), state is one
    * accumulator per key, never the row sets. */
  def cogroupReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("value")).as[(Long, Double)]
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
    // cents-exact accumulators (r12 sweep): per-user histories grow
    // without bound, the r11 money-sum drift class
    // math.round is half-up toward +inf and disagrees with the
    // oracle's round() (half away from zero) on negative exact-half
    // cents — same signum·round(|v|) form as the stream state
    // (EventsStream.scala), r13 ADVICE #1
    def cents(v: Double): Long = math.signum(v).toLong * math.round(math.abs(v) * 100)
    ev.groupByKey(_._1).cogroup(ord.groupByKey(_._1)) { (k, evs, ords) =>
      var ne = 0L; var sv = 0L
      evs.foreach { e => ne += 1; sv += cents(e._2) }
      var no = 0L; var sp = 0L
      ords.foreach { o => no += 1; sp += cents(o._2) }
      Iterator((k, ne, sv, no, sp))
    }.toDF("user_id", "n_events", "sum_value", "n_orders", "sum_spend")
      .select(col("user_id"), col("n_events"),
        (col("sum_value").cast("double") / 100.0).as("sum_value"),
        col("n_orders"), (col("sum_spend").cast("double") / 100.0).as("sum_spend"))
  }

  val cogroupReconcileSql: String =
    """WITH e AS (
      |  SELECT user_id, count(*) AS n_events,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |  FROM events GROUP BY 1),
      |o AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_spend
      |  FROM orders GROUP BY 1)
      |SELECT coalesce(e.user_id, o.o_custkey) AS user_id,
      |       CAST(coalesce(e.n_events, 0) AS BIGINT) AS n_events,
      |       coalesce(e.sum_value, 0.0) AS sum_value,
      |       CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
      |       coalesce(o.sum_spend, 0.0) AS sum_spend
      |FROM e FULL OUTER JOIN o ON e.user_id = o.o_custkey""".stripMargin

  /** Ordered conversion FUNNEL (view → click → purchase): a user counts
    * at a stage only if the stage event happens AT OR AFTER their entry
    * into the previous stage (first-view, then first-click-after-view,
    * then first-purchase-after-that-click). The canonical product-
    * analytics query, and the shape matters: each stage is one
    * map-side-combined conditional-min aggregate keyed by user_id plus
    * an equi-join on user_id — three shuffles on the SAME key (AQE
    * reuses the partitioning), never a per-user sort or a cross-stage
    * pair join. Output is a single all-integer row (counts + basis-
    * point conversion rates), so the result is engine-exact. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") >= col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        // view-free corpus: ANSI mode would throw on div 0 — both
        // rates are 0 by definition there (same guard as triangleStats)
        when(col("n_view") === 0, lit(0L))
          .otherwise(expr("(n_click * 10000) div n_view")).as("click_bp"),
        when(col("n_view") === 0, lit(0L))
          .otherwise(expr("(n_purchase * 10000) div n_view")).as("purchase_bp"))
  }

  val eventFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS c_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS p_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase,
      |       CASE WHEN (SELECT count(*) FROM v) = 0 THEN 0
      |            ELSE (SELECT count(*) FROM c) * 10000 // (SELECT count(*) FROM v)
      |       END AS click_bp,
      |       CASE WHEN (SELECT count(*) FROM v) = 0 THEN 0
      |            ELSE (SELECT count(*) FROM p) * 10000 // (SELECT count(*) FROM v)
      |       END AS purchase_bp""".stripMargin

  /** Gap-filled hourly resample: the dense (hour × event_type) grid with
    * explicit zero rows for silent hours — what a monitoring/forecast
    * consumer needs (a missing row and a zero are different facts).
    * Shape: the only full-data pass is the hourly count aggregate
    * (map-side combined, one shuffle); the hour spine is generated from
    * a 1-row min/max aggregate via `sequence` + `explode` (never a
    * driver loop), and the spine × types grid is tiny, so the zero-fill
    * left join broadcasts the AGGREGATED side — no second shuffle of
    * raw events at any scale. */
  def gapfillHourly(spark: SparkSession, dir: String): DataFrame =
    gapfillHourlyOf(Tables.events(spark, dir))

  /** The dense-grid zero-fill on an explicit events frame (needs ts,
    * event_type) — shared with q217 and its planted-series specs. */
  def gapfillHourlyOf(ev: DataFrame): DataFrame =
    denseGridOfCounts(ev
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n")))

  /** Dense (hour × type) grid from pre-aggregated hourly counts
    * `(window_start, event_type, n)`: the spine spans the observed
    * hour range, absent cells zero-fill. The min/max hour of the
    * counts table equals the min/max event hour, so building the grid
    * from counts is identical to building it from raw events — which
    * is what lets the streaming twin (q231) keep only hourly-count
    * state and still land on the q226 batch grid exactly. */
  def denseGridOfCounts(hourly: DataFrame): DataFrame = {
    val spine = hourly
      .agg(min(col("window_start")).as("lo"), max(col("window_start")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("window_start"))
    // triple-reference of one input (spine/types/cells): aliasing mints
    // fresh attribute ids so a table-backed input (the streaming twin's
    // drained memory sink) can't trip the self-join attribute conflict
    val types = hourly.select(col("event_type").as("et")).distinct()
      .select(col("et").as("event_type"))
    spine.crossJoin(types)
      .join(broadcast(hourly), Seq("window_start", "event_type"), "left")
      .select(col("window_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** Hourly active users: exact DISTINCT-aggregate under a time window.
    * Spark plans COUNT(DISTINCT) as the two-phase expand/partial-agg —
    * the per-(window,user) pre-aggregate map-side combines before the
    * one shuffle, so the distinct state never concentrates on one task
    * at any scale (the sketch alternative for when exactness can be
    * traded is the q44 HLL++ convention). */
  def windowDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))

  val windowDistinctUsersSql: String =
    """SELECT date_trunc('hour', ts) AS window_start,
      |       count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1""".stripMargin

  /** Cohort retention: users grouped by first-seen day; for every
    * (cohort_day, day_offset) the number of cohort members active that
    * many days later — the classic retention triangle. Three aggregates,
    * each map-side combined: first-seen per user (shuffle on user_id),
    * distinct activity days per user (same key — AQE reuses the
    * exchange), then the (cohort, offset) rollup on a tiny key space.
    * No row ever joins outside its own user_id, so the shape holds at
    * any user count. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val active = ev.distinct()
    active.join(firstSeen, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  val cohortRetentionSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |first_seen AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
      |active AS (SELECT DISTINCT user_id, day FROM ev)
      |SELECT f.cohort_day,
      |       CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
      |       count(DISTINCT a.user_id) AS n_active
      |FROM active a JOIN first_seen f ON a.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Event-type transition matrix (path analysis): per user, each
    * consecutive event pair ordered by time contributes one
    * (from_type, to_type) transition; output is the global transition
    * count plus its basis-point share of all transitions — the Markov
    * view a product-flow analysis reads. One window pass partitioned by
    * user (shuffle on user_id, per-user sort bounded by user activity)
    * + one map-side-combined rollup on a 5×5 key space. Deterministic
    * ordering: ties within a timestamp break on event_id. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 10000) div total").as("share_bp"))
  }

  val eventTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS from_type,
      |         event_type AS to_type
      |  FROM events),
      |counts AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
      |SELECT from_type, to_type, n, (n * 10000) // total AS share_bp
      |FROM counts CROSS JOIN tot""".stripMargin

  /** q206: next-event Markov predictor with temporal holdout — q119's
    * transition matrix promoted to a TRAINED-AND-EVALUATED model (the
    * q146/q149 discipline applied to sequence prediction): transitions
    * whose source event falls in the first 80 % of the observed time
    * span train a first-order Markov predictor (per from_type, the
    * most frequent next type, ties broken lexicographically), and the
    * last 20 % is the held-out test window the ledger scores —
    * per-from_type hit counts and exact accuracy in ppm. The split
    * boundary is scale-free (min + 8·span div 10 from a broadcast
    * 1-row aggregate, the q197 midpoint pattern) and time-based, so
    * the eval answers the deployment question: does yesterday's
    * transition structure predict tomorrow?
    *
    * Scale shape: one window pass per user (the q119 shuffle), one
    * map-side-combinable count aggregate on the 5×5 type key space,
    * a broadcast model join, and a tiny rollup — nothing grows with
    * event count except the two scans. */
  def markovEval(spark: SparkSession, dir: String): DataFrame =
    markovEvalOf(Tables.events(spark, dir))

  /** The train/eval pipeline over any (user_id, ts, event_id,
    * event_type) table — split out so specs can plant sequences with a
    * hand-computable model and score. */
  def markovEvalOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("from_us", lag(col("us"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"), col("from_us"))
    val bound = pairs.agg(
      expr("min(from_us) + ((max(from_us) - min(from_us)) * 8) div 10").as("cut"))
    val tagged = pairs.crossJoin(broadcast(bound))
      .withColumn("is_train", col("from_us") < col("cut"))
    val trainCounts = tagged.filter(col("is_train"))
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
    val model = trainCounts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("from_type")).orderBy(desc("n"), col("to_type"))))
      .filter(col("rk") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
    val trainN = trainCounts.groupBy(col("from_type")).agg(sum(col("n")).as("n_train"))
    tagged.filter(!col("is_train"))
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy(col("from_type"), coalesce(col("predicted"), lit("(none)")).as("predicted"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L)).as("hits"))
      .join(broadcast(trainN), Seq("from_type"), "left")
      .select(col("from_type"), col("predicted"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        col("n_test"), col("hits"),
        expr("(hits * 1000000) div greatest(n_test, 1)").as("acc_ppm"))
  }

  val markovEvalSql: String =
    """WITH pairs AS (
      |  SELECT lag(event_type) OVER w AS from_type,
      |         event_type AS to_type,
      |         lag(epoch_us(ts)) OVER w AS from_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |p AS (SELECT * FROM pairs WHERE from_type IS NOT NULL),
      |b AS (SELECT min(from_us) + ((max(from_us) - min(from_us)) * 8) // 10 AS cut
      |      FROM p),
      |tagged AS (SELECT p.*, p.from_us < b.cut AS is_train FROM p CROSS JOIN b),
      |tc AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |       FROM tagged WHERE is_train GROUP BY 1, 2),
      |model AS (
      |  SELECT from_type, to_type AS predicted FROM (
      |    SELECT from_type, to_type,
      |           row_number() OVER (PARTITION BY from_type
      |             ORDER BY n DESC, to_type) AS rk
      |    FROM tc) WHERE rk = 1),
      |tn AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_train FROM tc GROUP BY 1),
      |ev AS (
      |  SELECT t.from_type, coalesce(m.predicted, '(none)') AS predicted,
      |         CAST(count(*) AS BIGINT) AS n_test,
      |         CAST(sum(CASE WHEN t.to_type = m.predicted THEN 1 ELSE 0 END)
      |              AS BIGINT) AS hits
      |  FROM tagged t LEFT JOIN model m ON m.from_type = t.from_type
      |  WHERE NOT t.is_train GROUP BY 1, 2)
      |SELECT ev.from_type, ev.predicted,
      |       coalesce(tn.n_train, 0) AS n_train, ev.n_test, ev.hits,
      |       (ev.hits * 1000000) // greatest(ev.n_test, 1) AS acc_ppm
      |FROM ev LEFT JOIN tn ON tn.from_type = ev.from_type""".stripMargin

  val gapfillHourlySql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |             date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws FROM b),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT spine.ws AS window_start, types.event_type,
      |       CAST(coalesce(hourly.n, 0) AS BIGINT) AS n_events
      |FROM spine CROSS JOIN types
      |LEFT JOIN hourly ON hourly.ws = spine.ws AND hourly.event_type = types.event_type""".stripMargin

  // --------------------------------------------- purchase attribution (q137)

  /** Attribution lookback: a click/view only earns the purchase if it
    * happened within this many microseconds before it (30 min). */
  val AttribLookbackUs: Long = 30L * 60 * 1000000

  /** Last-touch purchase attribution (q137): each purchase is credited
    * to the user's most recent STRICTLY-preceding click within the
    * lookback, else the most recent view, else 'direct', and the
    * result rolls up revenue per channel. "Strictly preceding" is a
    * RANGE frame ending at 1-preceding on epoch-micros — unlike a ROWS
    * frame it is deterministic when a click and a purchase share a
    * timestamp (the tie counts as NOT preceding on both engines).
    *
    * Scale shape: ONE user-keyed window pass over the events (running
    * conditional max carries the last click/view timestamp — no
    * self-join of purchases against the event history), then a
    * channel-keyed rollup of purchase rows only. At 100 TB this is the
    * sessionize shape: per-user state, map-side-combined rollup,
    * nothing ever pairs events across users. */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("tus"))
    val before = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(Window.unboundedPreceding, -1)
    e.withColumn("last_click",
        max(when(col("event_type") === "click", col("tus"))).over(before))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("tus"))).over(before))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("last_click").isNotNull &&
          col("tus") - col("last_click") <= AttribLookbackUs, "click")
          .when(col("last_view").isNotNull &&
            col("tus") - col("last_view") <= AttribLookbackUs, "view")
          .otherwise("direct"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        // cents-exact: 3 channel groups over every purchase — global
        // money sums, the r11 drift class
        (sum(expr("cast(round(value * 100) as bigint)"))
          .cast("double") / 100.0).as("total_value"))
  }

  val purchaseAttributionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, value, epoch_us(ts) AS tus FROM events),
       |w AS (
       |  SELECT user_id, event_type, value, tus,
       |         max(CASE WHEN event_type = 'click' THEN tus END)
       |           OVER (PARTITION BY user_id ORDER BY tus
       |                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click,
       |         max(CASE WHEN event_type = 'view' THEN tus END)
       |           OVER (PARTITION BY user_id ORDER BY tus
       |                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
       |  FROM e),
       |p AS (
       |  SELECT CASE WHEN last_click IS NOT NULL
       |                   AND tus - last_click <= $AttribLookbackUs THEN 'click'
       |              WHEN last_view IS NOT NULL
       |                   AND tus - last_view <= $AttribLookbackUs THEN 'view'
       |              ELSE 'direct' END AS channel,
       |         user_id, value
       |  FROM w WHERE event_type = 'purchase')
       |SELECT channel,
       |       CAST(count(*) AS BIGINT) AS n_purchases,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
       |FROM p GROUP BY 1""".stripMargin

  // ------------------------------------- seasonal-naive forecast (q217)

  /** Seasonal period in hours for [[seasonalNaiveError]]. */
  val SeasonLagH = 24

  /** q217: seasonal-naive forecast-error ledger — the MASE baseline
    * (Hyndman & Koehler, "Another look at measures of forecast
    * accuracy", IJF 2006) every monitoring/forecasting stage must
    * beat: per event type on the DENSE hourly grid (q111's zero-fill
    * spine, so silent-gap hours forecast as 0 rather than vanish),
    * forecast each hour as the same hour yesterday; the ledger carries
    * the summed absolute seasonal error, the summed one-step-naive
    * error (the MASE denominator), and their exact ratio in ppm —
    * mase_ppm < 10⁶ ⟺ daily seasonality is real signal for this type.
    * All-integer: counts, absolute differences, one guarded div.
    *
    * Scale shape: one grouped count, the 1-row spine aggregate, a
    * broadcast type catalog, then ONE type-keyed window pass for both
    * lags — per-type series are independent, so the window partitions
    * by the parallelism key; scored hours (both lags exist) roll up
    * map-side. */
  def seasonalNaiveError(spark: SparkSession, dir: String): DataFrame =
    seasonalNaiveErrorOf(Tables.events(spark, dir))

  /** The MASE ladder on an explicit events frame — exposed for
    * planted-seasonality specs. */
  def seasonalNaiveErrorOf(ev: DataFrame): DataFrame = {
    val dense = gapfillHourlyOf(ev)
    val w = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
    dense
      .withColumn("lag1", lag(col("n_events"), 1).over(w))
      .withColumn("lagS", lag(col("n_events"), SeasonLagH).over(w))
      .filter(col("lag1").isNotNull && col("lagS").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("n_events") - col("lagS"))).as("err_seasonal"),
        sum(abs(col("n_events") - col("lag1"))).as("err_naive1"))
      .select(col("event_type"), col("n_scored"),
        col("err_seasonal"), col("err_naive1"),
        expr("(err_seasonal * 1000000) div greatest(err_naive1, 1)")
          .as("mase_ppm"))
  }

  val seasonalNaiveErrorSql: String =
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS window_start, event_type,
       |         count(*) AS n FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo,
       |         date_trunc('hour', max(ts)) AS hi FROM events),
       |spine AS (
       |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
       |           AS window_start FROM bounds),
       |types AS (SELECT DISTINCT event_type FROM events),
       |dense AS (
       |  SELECT s.window_start, t.event_type,
       |         coalesce(h.n, 0) AS n_events
       |  FROM spine s CROSS JOIN types t
       |  LEFT JOIN hourly h ON h.window_start = s.window_start
       |                    AND h.event_type = t.event_type),
       |lagged AS (
       |  SELECT event_type, n_events,
       |         lag(n_events, 1) OVER (PARTITION BY event_type
       |           ORDER BY window_start) AS lag1,
       |         lag(n_events, $SeasonLagH) OVER (PARTITION BY event_type
       |           ORDER BY window_start) AS lagS
       |  FROM dense),
       |agg AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
       |         CAST(sum(abs(n_events - lagS)) AS BIGINT) AS err_seasonal,
       |         CAST(sum(abs(n_events - lag1)) AS BIGINT) AS err_naive1
       |  FROM lagged WHERE lag1 IS NOT NULL AND lagS IS NOT NULL
       |  GROUP BY 1)
       |SELECT event_type, n_scored, err_seasonal, err_naive1,
       |       (err_seasonal * 1000000) // greatest(err_naive1, 1) AS mase_ppm
       |FROM agg""".stripMargin

  // ------------------------------------------ sequential patterns (q213)

  /** Positional gap bound and relative support floor (percent of all
    * users) for [[seqPatterns]]. */
  val SeqGap = 3
  val SeqMinSupPct = 30L

  /** q213: frequent sequential patterns — GSP/SPAM-style mining
    * (Srikant & Agrawal, EDBT'96) of ordered event-type TRIPLES
    * occurring as a gapped subsequence of a user's timeline: positions
    * i < j < k with j−i ≤ [[SeqGap]] and k−j ≤ [[SeqGap]], support =
    * DISTINCT users containing the pattern (the sequence-mining
    * support measure — repeat occurrences within one user count once),
    * kept when support ≥ [[SeqMinSupPct]]% of all users. This is the
    * ORDERED complement to q186's unordered Apriori triples and the
    * length-3/gapped generalization of q119's adjacent transitions —
    * the "what do journeys look like" question behind funnel design
    * (q110 then MEASURES a chosen pattern).
    *
    * Scale shape: candidate occurrences come from ONE user-keyed
    * window pass (2·[[SeqGap]] lead columns) expanded SeqGap²-fold per
    * row — a constant-factor narrow map, never a timeline self-join —
    * then (user, pattern) dedup and a pattern-keyed count, both
    * map-side-combinable with 5³-bounded key cardinality; the user
    * total is a 1-row broadcast. */
  def seqPatterns(spark: SparkSession, dir: String): DataFrame =
    seqPatternsOf(Tables.events(spark, dir))

  /** The mining ladder on an explicit (user_id, ts, event_id,
    * event_type) frame — exposed for planted-timeline specs (the
    * uniform synthetic corpus keeps every triple above the support
    * floor, so gap exclusion and sub-threshold drop are proven on
    * fixtures). */
  def seqPatternsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val leads = (1 to 2 * SeqGap).map(d =>
      lead(col("event_type"), d).over(w).as(s"l$d"))
    val base = events
      .select(Seq(col("user_id"), col("event_type").as("t0")) ++ leads: _*)
    val triples = array(
      (for (d1 <- 1 to SeqGap; d2 <- 1 to SeqGap) yield
        struct(col("t0").as("t1"), col(s"l$d1").as("t2"),
          col(s"l${d1 + d2}").as("t3"))): _*)
    val occ = base.select(col("user_id"), explode(triples).as("tr"))
      .select(col("user_id"), col("tr.t1"), col("tr.t2"), col("tr.t3"))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .distinct()
    val users = events
      .agg(countDistinct(col("user_id")).as("n_total"))
    occ.groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(users))
      .filter(col("n_users") * 100 >= col("n_total") * SeqMinSupPct)
      .select(col("t1"), col("t2"), col("t3"), col("n_users"),
        expr("(n_users * 10000) div n_total").as("support_bp"))
  }

  val seqPatternsSql: String = {
    val leadCols = (1 to 2 * SeqGap)
      .map(d => s"lead(event_type, $d) OVER (PARTITION BY user_id " +
        s"ORDER BY ts, event_id) AS l$d").mkString(",\n         ")
    val arms = (for (d1 <- 1 to SeqGap; d2 <- 1 to SeqGap) yield
      s"SELECT user_id, t0 AS t1, l$d1 AS t2, l${d1 + d2} AS t3 FROM base")
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (
       |  SELECT user_id, event_type AS t0,
       |         $leadCols
       |  FROM events),
       |occ AS (
       |  SELECT DISTINCT user_id, t1, t2, t3 FROM (
       |  $arms)
       |  WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
       |tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total
       |        FROM events),
       |pat AS (SELECT t1, t2, t3, count(*) AS n_users
       |        FROM occ GROUP BY 1, 2, 3)
       |SELECT t1, t2, t3, n_users, (n_users * 10000) // n_total AS support_bp
       |FROM pat CROSS JOIN tot
       |WHERE n_users * 100 >= n_total * $SeqMinSupPct""".stripMargin
  }

  // ------------------------------------------- q239 Kaplan-Meier survival

  // NOT private: the deserializer codegen instantiates it from
  // generated bytecode outside this object's access scope
  final case class KmCell(target: String, day: Long, d: Long, c: Long, n_risk: Long)

  /** Kaplan-Meier survival curves (Kaplan & Meier 1958) for
    * time-to-conversion: per target event type, the probability a user
    * is still unconverted t days after their first view, with users
    * who never convert RIGHT-CENSORED at the observation end — the
    * estimator that makes "median days to purchase" honest (a naive
    * mean over converters only is survivorship-biased, the textbook
    * failure).
    *
    * Semantics: origin = each user's first 'view'; conversion = first
    * target event strictly after it; censor day = global max event day.
    * Same-day deaths precede censors (the standard convention), so
    * n_risk(t) counts both. Survival is the iterated integer floor
    * S_t = S_{t−1}·(n_t−d_t) div n_t in ppm — deterministic and
    * engine-identical; the true product lies within (rows·10⁻⁶) above
    * the floored value. The engine folds per target inside
    * flatMapGroups over CALENDAR-bounded day cells (the q204 PAVA
    * pattern); the oracle re-derives the fold as a recursive CTE — two
    * independent formulations of the same recurrence.
    *
    * Scale shape: two user-keyed aggregates (first view, first
    * conversion per type) + one anti-join for the censored side — all
    * map-side-combinable on user_id; everything after runs on
    * targets × days cells. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vts"))
      .transform(Barrier.eager(_))
    val nTotal = fv.count()
    val maxDay = ev.agg(max(to_date(col("ts"))).as("mx"))
    val conv = ev.join(fv, "user_id")
      .filter(col("event_type") =!= "view" && col("ts") > col("vts"))
      .groupBy(col("user_id"), col("event_type").as("target"))
      .agg(min(datediff(to_date(col("ts")), to_date(col("vts")))).cast("long").as("dur"))
      .transform(Barrier.eager(_))
    val targets = conv.select(col("target")).distinct()
    val dCells = conv.groupBy(col("target"), col("dur").as("day"))
      .agg(count(lit(1)).as("d"))
    val cCells = fv.crossJoin(broadcast(targets))
      .join(conv.select(col("user_id"), col("target")), Seq("user_id", "target"),
        "left_anti")
      .crossJoin(broadcast(maxDay))
      .groupBy(col("target"),
        datediff(col("mx"), to_date(col("vts"))).cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
    val cells = dCells.join(cCells, Seq("target", "day"), "full_outer")
      .select(col("target"), col("day"),
        coalesce(col("d"), lit(0L)).as("d"), coalesce(col("c"), lit(0L)).as("c"))
    kmOfCells(cells, nTotal)
  }

  /** The at-risk window + iterated-floor fold on explicit
    * (target, day, d, c) cells — exposed for hand-computed specs. */
  def kmOfCells(cells: DataFrame, nTotal: Long): DataFrame = {
    import cells.sparkSession.implicits._
    val wr = Window.partitionBy("target").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risky = cells.withColumn("n_risk",
      lit(nTotal) - coalesce(sum(col("d") + col("c")).over(wr), lit(0L)))
    risky.as[KmCell].groupByKey(_.target).flatMapGroups { (t, it) =>
      var s = 1000000L
      it.toArray.sortBy(_.day).iterator.map { cell =>
        s = s * (cell.n_risk - cell.d) / cell.n_risk
        (t, cell.day, cell.n_risk, cell.d, cell.c,
          cell.d * 1000000L / cell.n_risk, s)
      }
    }.toDF("target", "day", "n_risk", "d", "c", "hazard_ppm", "surv_ppm")
  }

  /** Oracle: the same recurrence as a recursive CTE over row-numbered
    * day cells. */
  val kaplanMeierSql: String =
    """WITH RECURSIVE ev AS (SELECT user_id, ts, event_type FROM events),
      |fv AS (SELECT user_id, min(ts) AS vts FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |mx AS (SELECT CAST(max(ts) AS DATE) AS mxd FROM ev),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM fv),
      |conv AS (
      |  SELECT e.user_id, e.event_type AS target,
      |         CAST(min(date_diff('day', CAST(f.vts AS DATE), CAST(e.ts AS DATE)))
      |              AS BIGINT) AS dur
      |  FROM ev e JOIN fv f ON e.user_id = f.user_id
      |  WHERE e.event_type != 'view' AND e.ts > f.vts
      |  GROUP BY 1, 2),
      |targets AS (SELECT DISTINCT target FROM conv),
      |dcells AS (SELECT target, dur AS day, CAST(count(*) AS BIGINT) AS d
      |           FROM conv GROUP BY 1, 2),
      |ccells AS (
      |  SELECT t.target,
      |         CAST(date_diff('day', CAST(f.vts AS DATE), m.mxd) AS BIGINT) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM fv f CROSS JOIN targets t CROSS JOIN mx m
      |  WHERE NOT EXISTS (SELECT 1 FROM conv cv
      |                    WHERE cv.user_id = f.user_id AND cv.target = t.target)
      |  GROUP BY 1, 2),
      |cells AS (
      |  SELECT coalesce(dc.target, cc.target) AS target,
      |         coalesce(dc.day, cc.day) AS day,
      |         coalesce(dc.d, 0) AS d, coalesce(cc.c, 0) AS c
      |  FROM dcells dc FULL OUTER JOIN ccells cc
      |    ON dc.target = cc.target AND dc.day = cc.day),
      |risky AS (
      |  SELECT target, day, d, c,
      |         (SELECT n_total FROM nt)
      |           - coalesce(sum(d + c) OVER (PARTITION BY target ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk,
      |         row_number() OVER (PARTITION BY target ORDER BY day) AS i
      |  FROM cells),
      |km AS (
      |  SELECT target, day, n_risk, d, c, i,
      |         CAST(1000000 * (n_risk - d) // n_risk AS BIGINT) AS surv_ppm
      |  FROM risky WHERE i = 1
      |  UNION ALL
      |  SELECT r.target, r.day, r.n_risk, r.d, r.c, r.i,
      |         CAST(k.surv_ppm * (r.n_risk - r.d) // r.n_risk AS BIGINT)
      |  FROM risky r JOIN km k ON r.target = k.target AND r.i = k.i + 1)
      |SELECT target, day, CAST(n_risk AS BIGINT) AS n_risk, d, c,
      |       CAST(d * 1000000 // n_risk AS BIGINT) AS hazard_ppm, surv_ppm
      |FROM km""".stripMargin

  // ----------------------------------- q236 absorbing-chain conversion

  /** Unrolled absorption rounds. */
  val AbsorbRounds = 8
  /** The absorbing state: reaching a purchase ends the walk. */
  val AbsorbTarget = "purchase"

  /** Absorbing-Markov-chain conversion probability (the fundamental-
    * matrix question answered iteratively): from each event type, the
    * probability that a user's next [[AbsorbRounds]] steps under q119's
    * empirical transition matrix reach the absorbing `purchase` state —
    * the "how close is this state to converting" number funnel
    * analyses (q110/q129) read off structurally rather than from one
    * fixed stage order. reach₀(i) = 10⁶·[i = target]; each round
    * reach_k(i) = Σ_j cnt(i,j)·reach_{k−1}(j) div out(i) with the
    * target pinned at 10⁶ — all-integer, every dividend nonnegative,
    * so the K-round fixpoint is bit-identical across engines (q124's
    * discipline on q119's matrix).
    *
    * Scale shape: ONE user-keyed window pass builds the transition
    * counts (the q119 shuffle); every round after that is a join on
    * the type×type matrix — catalog-sized state, corpus touched
    * exactly once. */
  def absorbProb(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .transform(Barrier.eager(_))
    absorbProbOfCounts(counts)
  }

  /** The K-round absorption fold on an explicit (from_type, to_type, n)
    * count matrix — exposed for closed-form chain fixtures. */
  def absorbProbOfCounts(counts: DataFrame): DataFrame = {
    val out = counts.groupBy(col("from_type")).agg(sum(col("n")).as("out_n"))
    val types = counts.select(col("from_type").as("t"))
      .unionAll(counts.select(col("to_type").as("t"))).distinct()
      .transform(Barrier.eager(_))
    var state = types.select(col("t"),
      when(col("t") === AbsorbTarget, lit(1000000L)).otherwise(lit(0L)).as("p"))
    for (_ <- 1 to AbsorbRounds) {
      val folded = counts
        .join(state.select(col("t").as("to_type"), col("p")), "to_type")
        .groupBy(col("from_type")).agg(sum(col("n") * col("p")).as("mass"))
        .join(out, "from_type")
        .select(col("from_type").as("t"), expr("mass div out_n").as("p_new"))
      state = types.join(folded, Seq("t"), "left_outer")
        .select(col("t"),
          when(col("t") === AbsorbTarget, lit(1000000L))
            .otherwise(coalesce(col("p_new"), lit(0L))).as("p"))
    }
    state.join(out.select(col("from_type").as("t"), col("out_n")), Seq("t"), "left_outer")
      .select(col("t").as("event_type"),
        coalesce(col("out_n"), lit(0L)).as("out_n"),
        col("p").as("reach_ppm"),
        (col("t") === AbsorbTarget).cast("long").as("absorbing"))
  }

  val absorbProbSql: String = {
    val rounds = (1 to AbsorbRounds).map { k =>
      s"""r$k AS (
         |  SELECT ty.t,
         |         CASE WHEN ty.t = '$AbsorbTarget' THEN 1000000
         |              ELSE coalesce(f.p_new, 0) END AS p
         |  FROM types ty LEFT JOIN (
         |    SELECT c.from_type AS t,
         |           CAST(sum(c.n * r.p) AS BIGINT) // max(o.out_n) AS p_new
         |    FROM counts c
         |    JOIN r${k - 1} r ON r.t = c.to_type
         |    JOIN outd o ON o.from_type = c.from_type
         |    GROUP BY 1) f ON f.t = ty.t)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS from_type,
       |         event_type AS to_type
       |  FROM events),
       |counts AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
       |outd AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS out_n
       |         FROM counts GROUP BY 1),
       |types AS (SELECT from_type AS t FROM counts
       |          UNION SELECT to_type FROM counts),
       |r0 AS (SELECT t, CAST(CASE WHEN t = '$AbsorbTarget' THEN 1000000
       |                           ELSE 0 END AS BIGINT) AS p FROM types),
       |$rounds
       |SELECT r.t AS event_type,
       |       CAST(coalesce(o.out_n, 0) AS BIGINT) AS out_n,
       |       CAST(r.p AS BIGINT) AS reach_ppm,
       |       CAST(CASE WHEN r.t = '$AbsorbTarget' THEN 1 ELSE 0 END AS BIGINT)
       |         AS absorbing
       |FROM r$AbsorbRounds r LEFT JOIN outd o ON o.from_type = r.t""".stripMargin
  }

  // ------------------------------------------------------ q226 CUSUM

  /** Calibration window: the first [[CusumRefHours]] hours of the dense
    * grid fix the in-control hourly mean per event type. */
  val CusumRefHours = 48L
  /** Allowance (slack) in basis points of the reference hourly mean —
    * drift smaller than this never accumulates. */
  val CusumSlackBp = 2500L
  /** Alarm threshold in reference hourly means of cumulative excess. */
  val CusumH = 5L

  /** Tabular CUSUM changepoint detection (Page 1954) over the q111
    * dense hourly grid: per event type, the one-sided cumulative sum
    * S_i = max(0, S_{i-1} + x_i − μ − k) alarms when sustained drift
    * accumulates past H·μ — the classic sequential level-shift
    * detector that q173's trailing-mean z-shape cannot see (a slow
    * ramp stays under any per-hour threshold; CUSUM integrates it).
    *
    * Exactness: the recursive max is NOT window-expressible, but the
    * textbook identity S_i = P_i − min(0, min_{j≤i} P_j) with
    * P_i = Σ_{t≤i}(x_t − μ − k) is — one running sum + one running min
    * per type. μ is carried cross-multiplied (d_u = n_ref·x − sum_ref −
    * slack_u), so every quantity is an exact BIGINT; the only division
    * (slack) has a nonnegative dividend, so Spark's trunc-`div` and
    * DuckDB's floor-`//` agree.
    *
    * Scale shape: the grid is calendar×types sized (independent of
    * event cardinality), the reference stats are a tiny broadcast, and
    * the sweep is ONE type-keyed window pass. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumOf(gapfillHourlyOf(Tables.events(spark, dir)))

  /** The CUSUM sweep on an explicit dense (window_start, event_type,
    * n_events) grid — exposed for planted level-shift specs and the
    * streaming twin. */
  def cusumOf(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
    val idx = grid.withColumn("idx", row_number().over(w).cast("long"))
    val ref = idx.filter(col("idx") <= CusumRefHours)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_ref"), sum(col("n_events")).as("sum_ref"))
    val pw = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, 0)
    idx.filter(col("idx") > CusumRefHours)
      .join(broadcast(ref), "event_type")
      .withColumn("d_u",
        col("n_ref") * col("n_events") - col("sum_ref")
          - expr(s"(sum_ref * $CusumSlackBp) div 10000"))
      .withColumn("pre_u", sum(col("d_u")).over(pw))
      .withColumn("cusum_u",
        col("pre_u") - least(lit(0L), min(col("pre_u")).over(pw)))
      .withColumn("alarm",
        (col("cusum_u") > col("sum_ref") * CusumH).cast("long"))
      .select(col("event_type"), col("window_start"), col("n_events"),
        col("cusum_u"), col("alarm"))
  }

  /** q231: the CUSUM detector as a LIVE ingest monitor — q226's twin on
    * the q203/q214 sketch-as-state principle: the streaming aggregate's
    * state is the per-(event_type, hour) count cell table, bounded by
    * calendar × type-count forever (never event or user cardinality),
    * and each micro-batch only increments counters. After the
    * AvailableNow drain the shared dense-grid builder and the shared
    * [[cusumOf]] sweep run as plain batch plans over the drained cells
    * — the ledger must hash-equal the q226 batch oracle, so a green
    * hash pins the streaming accumulation, the grid reconstruction,
    * and the sweep together. (On a production unbounded stream the
    * complete-mode drain becomes a windowed append + periodic sweep;
    * the state bound is the part that matters.) */
  def cusumStream(spark: SparkSession, dir: String): DataFrame = {
    val cur = graft.streaming.EventsStream.source(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val drained = graft.streaming.EventsStream.runAvailableNow(
      spark, cur, "q231_stream_cusum", outputMode = "complete")
    cusumOf(denseGridOfCounts(drained))
  }

  val cusumChangepointSql: String =
    s"""WITH grid AS ($gapfillHourlySql),
       |idx AS (
       |  SELECT event_type, window_start, n_events,
       |         CAST(row_number() OVER (PARTITION BY event_type
       |           ORDER BY window_start) AS BIGINT) AS idx
       |  FROM grid),
       |ref AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_ref,
       |         CAST(sum(n_events) AS BIGINT) AS sum_ref
       |  FROM idx WHERE idx <= $CusumRefHours GROUP BY 1),
       |post AS (
       |  SELECT i.event_type, i.window_start, i.n_events, r.sum_ref,
       |         r.n_ref * i.n_events - r.sum_ref
       |           - ((r.sum_ref * $CusumSlackBp) // 10000) AS d_u
       |  FROM idx i JOIN ref r USING (event_type) WHERE i.idx > $CusumRefHours),
       |c AS (
       |  SELECT event_type, window_start, n_events, sum_ref,
       |         CAST(sum(d_u) OVER (PARTITION BY event_type ORDER BY window_start
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pre_u
       |  FROM post),
       |m AS (
       |  SELECT event_type, window_start, n_events, sum_ref,
       |         pre_u - least(CAST(0 AS BIGINT),
       |           CAST(min(pre_u) OVER (PARTITION BY event_type ORDER BY window_start
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS cusum_u
       |  FROM c)
       |SELECT event_type, window_start, n_events, CAST(cusum_u AS BIGINT) AS cusum_u,
       |       CAST(CASE WHEN cusum_u > sum_ref * $CusumH THEN 1 ELSE 0 END AS BIGINT) AS alarm
       |FROM m""".stripMargin
}

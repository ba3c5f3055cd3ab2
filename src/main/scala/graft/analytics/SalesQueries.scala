package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's four BigQuery analytics queries, re-expressed as
  * DataFrame transforms over the clean sales table
  * (composer/sales_etl_dag.py:74-84, 93-101; README.md:99-103, 142-147).
  */
object SalesQueries {

  /** Data-quality gate (R9/R13, sales_etl_dag.py:74-84): global agg +
    * post-agg filter (BQ's HAVING-without-GROUP-BY). Returns 1 row iff
    * all three invariants hold — non-empty, id-unique, total_sale
    * consistent — else 0 rows. */
  def validateQuality(sales: DataFrame): DataFrame =
    sales.agg(
      count(lit(1)).as("total_records"),
      countDistinct(col("id")).as("unique_ids"),
      sum(when(col("total_sale") === col("price") * col("quantity"), 1)
        .otherwise(0)).as("correct_totals"))
      .filter(col("total_records") > 0 &&
        col("unique_ids") === col("total_records") &&
        col("correct_totals") === col("total_records"))

  /** Daily summary report (R2, sales_etl_dag.py:93-101). */
  def summaryReport(sales: DataFrame): DataFrame =
    sales.agg(
      count(lit(1)).as("total_sales"),
      round(sum(col("total_sale")), 2).as("total_revenue"),
      round(avg(col("total_sale")), 2).as("avg_sale_value"),
      countDistinct(col("product")).as("unique_products"),
      max(col("sale_date")).as("latest_sale_date"))

  /** Revenue by product (R3/R12, README.md:99-103). */
  def revenueByProduct(sales: DataFrame): DataFrame =
    sales.groupBy(col("product"))
      .agg(round(sum(col("total_sale")), 2).as("revenue"))
      .orderBy(desc("revenue"), col("product"))

  /** Verification stats (R2/R4/R5/R6, README.md:142-147). */
  def recordStats(sales: DataFrame): DataFrame =
    sales.agg(
      count(lit(1)).as("total_records"),
      countDistinct(col("id")).as("unique_ids"),
      round(sum(col("total_sale")), 2).as("revenue"))
}

/** E2 orchestration as a sequential driver program, replacing the
  * Airflow DAG (composer/sales_etl_dag.py:42-106, O1–O4): input check →
  * ETL → quality gate (throws, ≡ BigQueryCheckOperator failing the DAG)
  * → summary report. O5 failure alerting: the DAG's EmailOperator with
  * `trigger_rule='one_failed'` (sales_etl_dag.py:109-115,119) fires
  * when ANY upstream task fails — here, `onFailure` is invoked with the
  * failing stage's exception before it propagates (the alert transport
  * — email, pager, log — is the caller's choice, as in Airflow). */
object SalesPipeline {
  final case class Result(cleanRows: Long, errorRows: Long, report: Array[org.apache.spark.sql.Row])

  /** O6 retries (sales_etl_dag.py:27-28: `retries=2,
    * retry_delay=timedelta(minutes=5)`): re-run the WHOLE pipeline up
    * to `retries` extra times on transient failure, sleeping
    * `retryDelayMs` between attempts (the Airflow default_args applied
    * per-task; the pipeline here is the task). Alerting semantics are
    * preserved exactly: `onFailure` fires once per FAILED ATTEMPT (each
    * Airflow task failure alerts), and the final attempt's exception —
    * carrying earlier attempts as suppressed — propagates. Scheduling
    * itself (daily cadence, max_active_runs) stays with the external
    * scheduler per SURVEY.md §2c. */
  def runWithRetries(spark: SparkSession, input: String, outDir: String,
      retries: Int = 2, retryDelayMs: Long = 5 * 60 * 1000L,
      onFailure: Throwable => Unit = _ => (),
      sleep: Long => Unit = Thread.sleep): Result = {
    var last: Throwable = null
    for (attempt <- 0 to retries) {
      if (attempt > 0) sleep(retryDelayMs)
      try {
        val r = run(spark, input, outDir, onFailure)
        if (last != null) () // earlier failures already alerted
        return r
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (last != null && (last ne e)) e.addSuppressed(last)
          last = e
      }
    }
    throw last
  }

  def run(spark: SparkSession, input: String, outDir: String,
          onFailure: Throwable => Unit = _ => ()): Result =
    try {
      // O1: input-existence gate (GCSObjectExistenceSensor analog).
      require(new java.io.File(input).exists(), s"input not found: $input")
      // O2: the ETL job.
      val (nClean, nErr) = graft.etl.SalesEtl.runPipeline(spark, input, outDir)
      // read with the schema the ETL wrote: no schema-inference job
      val clean = spark.read.schema(graft.etl.SalesEtl.cleanSchema)
        .parquet(s"$outDir/clean")
      // O3: quality gate — abort on failure like BigQueryCheckOperator.
      require(SalesQueries.validateQuality(clean).count() == 1,
        "data quality check failed")
      // O4: summary report.
      Result(nClean, nErr, SalesQueries.summaryReport(clean).collect())
    } catch {
      case scala.util.control.NonFatal(e) =>
        // O5: one_failed fan-in — alert, then still fail the run. A
        // broken alert transport must not mask the root cause (Airflow
        // likewise fails the DAG on the task error, not the email error).
        try onFailure(e)
        catch { case scala.util.control.NonFatal(t) => e.addSuppressed(t) }
        throw e
    }
}

package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Streaming form of the reference ETL: the Airflow
  * sensor → Dataflow-run loop (composer/sales_etl_dag.py:42-69) becomes
  * a file-source stream — "process whatever CSV files have arrived,
  * then stop" with `Trigger.AvailableNow`, re-run per schedule.
  *
  * Each micro-batch is pushed through the SAME batch validate chain as
  * [[SalesEtl.runPipeline]] via `foreachBatch` (one persisted validated
  * frame per batch feeds both appends) — and the
  * first-wins id dedup therefore claims ids WITHIN one micro-batch,
  * which is precisely the reference's per-worker-bundle dedup semantics
  * (dataflow_transform.py:44-45,67-69: a new bundle forgets previously
  * seen ids). Clean and dead-letter rows are appended per batch;
  * WRITE_TRUNCATE semantics live at the orchestration layer (delete the
  * output dir before a re-run), since a continuous stream appends by
  * definition.
  *
  * Scale notes: the file source lists and check-points processed files
  * (exactly-once per file); `maxFilesPerTrigger` bounds per-batch work;
  * the only shuffle per batch is the dedup window.
  */
object SalesEtlStream {

  /** Drain `inputDir` (CSV text files) through the validate/clean chain
    * into `outDir/clean` + `outDir/errors` parquet, then stop.
    * Returns (cleanRows, errorRows) written across all batches. */
  def run(spark: SparkSession, inputDir: String, outDir: String,
          quoteAware: Boolean = false,
          maxFilesPerTrigger: Option[Int] = None): (Long, Long) = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val lines = reader.text(inputDir)
    val q = lines.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SalesEtl.withValidated(batch, quoteAware) { (clean, errors) =>
          clean.write.mode("append").parquet(s"$outDir/clean")
          errors.write.mode("append").parquet(s"$outDir/errors")
        }
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // an empty drain (sensor fired before any file arrived) writes no
    // batches, so the output dirs may not exist yet — report 0, don't throw
    def countOrZero(path: String): Long =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        spark.read.parquet(path).count()
      else 0L
    (countOrZero(s"$outDir/clean"), countOrZero(s"$outDir/errors"))
  }
}

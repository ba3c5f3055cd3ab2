package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native re-expression of the reference's Beam ETL
  * (reference: dataflow/dataflow_transform.py:37-125 `ParseAndValidateRow`).
  *
  * The reference processes CSV text lines one at a time in a Python DoFn;
  * here the whole validate/clean/derive chain is pure Column expressions,
  * so Tungsten whole-stage codegen applies and the only shuffle is the
  * global first-wins dedup window (an upgrade over the reference's
  * per-worker-bundle dedup, dataflow_transform.py:67-69). Every line is
  * validated once into one frame that both outputs are split from; the
  * pipelines persist that frame, so writing the clean and dead-letter
  * sinks scans and parses the input once and runs the window once.
  *
  * Faithful semantics preserved (SURVEY.md §2 D2–D12):
  *   - naive comma split, NOT quote-aware (dataflow_transform.py:53) —
  *     a quoted field containing a comma becomes an error row by design;
  *   - first-wins dedup where an id is CLAIMED before later validations
  *     run (dataflow_transform.py:71-74): a row that later fails type or
  *     date checks still blocks subsequent rows with the same id;
  *   - error precedence = the DoFn's early-return order;
  *   - two date formats, strict (month 18 is an error);
  *   - `int()` parity: quantity must be digits-only (Python int("1.5")
  *     raises; Spark cast would truncate), price via double cast;
  *   - product cleaning strips ALL double/single quotes after trim.
  */
object SalesEtl {

  // Output schema mirrors the BigQuery REQUIRED-mode schema
  // (dataflow_transform.py:24-33 == terraform/main.tf:74-105).
  val cleanSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("product", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("quantity", LongType, nullable = false),
    StructField("sale_date", DateType, nullable = false),
    StructField("total_sale", DoubleType, nullable = false)
  ))

  val errorSchema: StructType = StructType(Seq(
    StructField("error", StringType, nullable = false),
    StructField("row", StringType, nullable = false)
  ))

  final case class SaleRecord(id: String, product: String, price: Double,
                              quantity: Long, saleDate: java.sql.Date, totalSale: Double)
  final case class BadRecord(error: String, row: String)

  // Error messages, verbatim from dataflow_transform.py:55,64,72,81,84,99,105,111.
  object Err {
    val Malformed   = "Malformed row, not enough fields"
    val Missing     = "Missing required field"
    val Duplicate   = "Duplicate id in this bundle"
    val BadType     = "Invalid price or quantity"
    val NonPositive = "Non-positive price or quantity"
    val BadDate     = "Invalid sale_date"
    val BadProduct  = "Invalid product name"
    val BadId       = "Non-numeric id"
  }

  /** ANSI-safe cast (Spark 4 defaults ansi=true; reference semantics are
    * null-on-failure like Python's try/except around float()/int()). */
  private def tryCast(c: Column, to: DataType): Column =
    c.try_cast(to)

  /** Multi-format date parse, strict calendar (Python strptime rejects
    * month 18; so does Spark's default ISO-8601 formatter). */
  private def parseDate(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd")),
      try_to_timestamp(c, lit("yyyy/MM/dd"))
    ).cast(DateType)

  /** Every body line once, validated: `error` (null when the row is
    * clean), the raw line `value`, the line-order proxy `_lineno` and the
    * six clean output columns.
    *
    * Scale note: `monotonically_increasing_id` encodes (partitionId,
    * offset) and file splits are assigned in order, so it is a valid
    * global line-order proxy for first-wins dedup without collapsing to
    * one partition. The dedup window is the single shuffle: one hash
    * exchange on (id, early-error flag) after a narrow scan and parse per
    * split; AQE handles id skew.
    */
  private def validate(lines: DataFrame, quoteAware: Boolean): DataFrame = {
    // D2: header skip (dataflow_transform.py:49-50)
    val body = lines
      .withColumn("_lineno", monotonically_increasing_id())
      .filter(!lower(col("value")).startsWith("id,"))

    // D4: naive split + trim each part. split keeps trailing empties
    // (limit -1), matching Python str.split(',').
    // `quoteAware=true` is the documented deviation (SURVEY.md §7
    // "faithful-vs-sane CSV parsing"): split on commas OUTSIDE
    // double-quoted fields (regex lookahead: a comma followed by an even
    // number of remaining quotes), then strip the enclosing quotes, so
    // `"Bluetooth Speaker, Portable"` parses as one field instead of
    // becoming a dead-letter row like the reference's naive split.
    val rawParts =
      if (quoteAware)
        split(col("value"), ",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1)
      else split(col("value"), ",", -1)
    val parts = transform(rawParts, p => trim(p))

    val withParts = body
      .withColumn("parts", parts)
      .withColumn("id_raw", get(col("parts"), lit(0)))
      .withColumn("product_raw", get(col("parts"), lit(1)))
      .withColumn("price_raw", get(col("parts"), lit(2)))
      .withColumn("quantity_raw", get(col("parts"), lit(3)))
      .withColumn("date_raw", get(col("parts"), lit(4)))
      // D5: arity check; extra trailing columns tolerated (parts[:5]).
      // D6: required-field check (empty after trim).
      .withColumn("err_early",
        when(size(col("parts")) < 5, lit(Err.Malformed))
        .when(col("id_raw") === "" || col("product_raw") === "" ||
              col("price_raw") === "" || col("quantity_raw") === "" ||
              col("date_raw") === "", lit(Err.Missing)))

    // D7: first-wins claim; the id is claimed even if the row later
    // fails type/date/product checks (dataflow_transform.py:71-84).
    // Rows failing arity/missing checks return BEFORE the reference
    // claims the id (dataflow_transform.py:54-65 return before :74), so
    // they rank in a window partition of their own and never claim one.
    val wId = Window.partitionBy(col("id_raw"), col("err_early").isNull)
      .orderBy(col("_lineno"))

    // D8–D11: remaining validations, in the DoFn's early-return order.
    val price = tryCast(col("price_raw"), DoubleType)
    // Python int() parity: digits only (no "1.5", no "1e2"); sign allowed.
    val quantity = when(col("quantity_raw").rlike("^[+-]?[0-9]+$"),
      tryCast(col("quantity_raw"), LongType))
    val saleDate = parseDate(col("date_raw"))
    val cleanProduct = translate(col("product_raw"), "\"'", "")

    withParts
      .withColumn("_rn", row_number().over(wId))
      .withColumn("price", price)
      .withColumn("quantity", quantity)
      .withColumn("sale_date", saleDate)
      .withColumn("product", cleanProduct)
      .withColumn("error", coalesce(col("err_early"),
        when(col("_rn") > 1, lit(Err.Duplicate))
        .when(col("price").isNull || col("quantity").isNull, lit(Err.BadType))
        .when(col("price") <= 0 || col("quantity") <= 0, lit(Err.NonPositive))
        .when(col("sale_date").isNull, lit(Err.BadDate))
        .when(col("product") === "", lit(Err.BadProduct))
        .when(!col("id_raw").rlike("^[0-9]+$"), lit(Err.BadId))))
      .select(
        col("error"),
        col("value"),
        col("_lineno"),
        col("id_raw").as("id"),
        col("product"),
        col("price"),
        col("quantity"),
        col("sale_date"),
        // D12: derived column total_sale = price * quantity.
        (col("price") * col("quantity")).as("total_sale"))
  }

  /** (clean, errors) of a [[validate]] frame: clean rows with the
    * 6-column output schema, error rows as (error, row) in line order. */
  private def splitValidated(rows: DataFrame): (DataFrame, DataFrame) = {
    val clean = rows.filter(col("error").isNull)
      .select(cleanSchema.fieldNames.map(col).toSeq: _*)
    val errors = rows.filter(col("error").isNotNull)
      .orderBy(col("_lineno")).select(col("error"), col("value").as("row"))
    (clean, errors)
  }

  /** Parse + validate raw CSV text lines.
    *
    * @param lines DataFrame with a single string column `value` (one CSV
    *              line per row, header included), as from spark.read.text.
    * @return (clean, errors): clean rows with the 6-column output schema,
    *         error rows as (error, row).
    */
  def parseAndValidate(lines: DataFrame,
                       quoteAware: Boolean = false): (DataFrame, DataFrame) =
    splitValidated(validate(lines, quoteAware))

  /** Runs `f` on the (clean, errors) pair of ONE persisted validated
    * frame, so writing both sinks scans, parses and shuffles the input
    * once; the frame is unpersisted when `f` returns or throws. */
  private[etl] def withValidated[T](lines: DataFrame, quoteAware: Boolean)(
      f: (DataFrame, DataFrame) => T): T = {
    val rows = validate(lines, quoteAware).persist()
    try {
      val (clean, errors) = splitValidated(rows)
      f(clean, errors)
    } finally rows.unpersist()
  }

  /** Sink seam for cloud deployment: the pipeline writes through a
    * (format, options) pair and a caller-supplied base URI rather than
    * a hard-coded local parquet call, so swapping the reference's
    * actual sinks in (BigQuery WRITE_TRUNCATE + `gs://` staging,
    * dataflow_transform.py:147,152-160) is a CONFIG change, not an
    * operator change: `Sink("bigquery", Map("table" -> ...))` with a
    * `gs://bucket/...` outDir once the connector jars are on the
    * cluster classpath (this sandbox has no network, so the bundled
    * formats — parquet/orc/json/csv — are what the spec exercises).
    * Overwrite mode is the WRITE_TRUNCATE contract either way. */
  final case class Sink(format: String = "parquet",
                        options: Map[String, String] = Map.empty)

  /** E1 pipeline: read text CSV → validate → write clean + dead-letter
    * datasets from one persisted validated frame through the [[Sink]]
    * seam (SaveMode.Overwrite ≡ WRITE_TRUNCATE,
    * dataflow_transform.py:157; the dead-letter dataset upgrades the
    * reference's log-only errors, dataflow_transform.py:163-168).
    * `outDir` is any Hadoop-FS URI — local path here, `gs://`/`s3a://`
    * on a real cluster. The clean dataset keeps the dedup window's
    * partitioning (`spark.sql.shuffle.partitions` files): AQE does not
    * coalesce the output of a cached plan. */
  def runPipeline(spark: SparkSession, input: String, outDir: String,
                  quoteAware: Boolean = false,
                  sink: Sink = Sink()): (Long, Long) = {
    def write(df: DataFrame, part: String): Unit =
      df.write.mode("overwrite").format(sink.format)
        .options(sink.options).save(s"$outDir/$part")
    val (cleanWritten, errorsWritten) =
      withValidated(spark.read.text(input), quoteAware) { (clean, errors) =>
        write(clean, "clean")
        write(errors, "errors")
        (clean.schema, errors.schema)
      }
    // csv round-trip fidelity: a dead-letter `raw_line` can carry an
    // embedded newline, which the csv writer quotes correctly but the
    // default (line-splitting) csv reader would split into two rows,
    // skewing the returned counts — multiLine makes the reader honor
    // the quoting. Other formats are record-framed and need nothing.
    val readOpts =
      if (sink.format == "csv") sink.options + ("multiLine" -> "true")
      else sink.options
    def read(part: String, schema: StructType) =
      spark.read.format(sink.format).options(readOpts).schema(schema)
        .load(s"$outDir/$part")
    (read("clean", cleanWritten).count(), read("errors", errorsWritten).count())
  }
}

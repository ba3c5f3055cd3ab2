package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Golden E2E test: run the full parse/validate chain on the canonical
  * dirty fixture and assert field-level equality with the golden output
  * derived from the reference's logic (FIXTURES.md §1: 12 clean rows,
  * 14 error rows, 8-message taxonomy). */
class SalesEtlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  def fixture: String = getClass.getResource("/messy_sales_data.csv").getPath

  lazy val (clean, errors) = {
    val lines = spark.read.text(fixture)
    SalesEtl.parseAndValidate(lines)
  }

  test("golden split: exactly 12 clean rows and 14 error rows") {
    assert(clean.count() === 12)
    assert(errors.count() === 14)
  }

  test("clean rows match the golden table field-for-field") {
    val got = clean.collect().map(r => (
      r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3),
      r.getDate(4).toString, r.getDouble(5))).toSet
    val want = Set(
      ("1", "Laptop", 1299.99, 2L, "2024-01-15", 2599.98),
      ("004", "Monitor", 449.0, 1L, "2024-01-18", 449.0),
      ("7", "Webcam", 79.99, 3L, "2024-01-21", 239.96999999999997),
      ("8", "Phone", 899.0, 1L, "2024-01-22", 899.0),
      ("9", "Charger", 24.99, 6L, "2024-01-23", 149.94),
      ("0010", "Speaker", 199.95, 2L, "2024-01-24", 399.9),
      ("16", "Mousepad", 12.5, 1L, "2024-01-30", 12.5),
      ("17", "Monitor Stand", 29.99, 1L, "2024-01-31", 29.99),
      ("18", "USB Cable A to B", 5.0, 2L, "2024-02-01", 10.0),
      ("19", "Phone Case", 15.99, 1L, "2024-02-02", 15.99),
      ("21", "Webcam", 79.99, 2L, "2024-02-04", 159.98),
      ("23", "Monitor", 449.0, 1L, "2024-01-18", 449.0))
    assert(got === want)
  }

  test("error taxonomy matches the golden counts per message") {
    val got = errors.groupBy("error").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map(
      SalesEtl.Err.BadType -> 3L,     // lines 3, 14 (quoted comma), 18
      SalesEtl.Err.Missing -> 4L,     // lines 4, 8, 15, 25
      SalesEtl.Err.BadDate -> 2L,     // lines 5, 7
      SalesEtl.Err.Duplicate -> 2L,   // lines 11, 27
      SalesEtl.Err.NonPositive -> 2L, // lines 16, 17
      SalesEtl.Err.BadId -> 1L)       // line 23
    assert(got === want)
  }

  test("quality gate passes on clean output and report matches goldens") {
    import graft.analytics.SalesQueries
    assert(SalesQueries.validateQuality(clean).count() === 1)
    val rep = SalesQueries.summaryReport(clean).collect()(0)
    assert(rep.getLong(0) === 12L)
    assert(rep.getDouble(1) === 5415.25)
    assert(rep.getDouble(2) === 451.27)
    assert(rep.getLong(3) === 10L)
    assert(rep.getDate(4).toString === "2024-02-04")
  }

  test("first-wins dedup claims an id even when the claimer is invalid") {
    // Two rows with the same id where the FIRST fails date validation:
    // the second must still be rejected as a duplicate (reference claims
    // the id before validating, dataflow_transform.py:71-84).
    import spark.implicits._
    val lines = Seq(
      "id,product,price,quantity,sale_date",
      "50,Widget,10.0,1,notadate",
      "50,Widget,10.0,1,2024-01-01").toDF("value")
    val (c, e) = SalesEtl.parseAndValidate(lines)
    assert(c.count() === 0)
    val msgs = e.collect().map(_.getString(0)).toSeq
    assert(msgs === Seq(SalesEtl.Err.BadDate, SalesEtl.Err.Duplicate))
  }

  // Early (arity/missing) errors share the dedup window with the rest but
  // rank apart, so they never claim an id (dataflow_transform.py:54-74).
  private def validateLines(body: String*): (Seq[String], Seq[(String, String)]) = {
    import spark.implicits._
    val (c, e) = SalesEtl.parseAndValidate(
      ("id,product,price,quantity,sale_date" +: body).toDF("value"))
    (c.collect().map(_.getString(0)).toSeq,
     e.collect().map(r => (r.getString(0), r.getString(1))).toSeq)
  }

  test("a missing-field row does not claim its id from a later valid row") {
    val (c, e) = validateLines("60,Widget,,1,2024-01-01", "60,Widget,10.0,1,2024-01-01")
    assert(c === Seq("60"))
    assert(e === Seq((SalesEtl.Err.Missing, "60,Widget,,1,2024-01-01")))
  }

  test("a malformed row after a valid row with its id is Malformed, not Duplicate") {
    val (c, e) = validateLines("61,Widget,10.0,1,2024-01-01", "61,Widget")
    assert(c === Seq("61"))
    assert(e === Seq((SalesEtl.Err.Malformed, "61,Widget")))
  }

  test("dead letters come out in line order across early and late errors") {
    val (c, e) = validateLines(
      "70,Widget,10.0,1,2024-01-01",
      "71,Widget",
      "70,Widget,10.0,1,2024-01-02",
      "72,Widget,abc,1,2024-01-01",
      "73,,10.0,1,2024-01-01",
      "74,Widget,10.0,1,2024-13-01",
      "75,Widget,10.0",
      "75,Widget,10.0,0,2024-01-01")
    assert(c === Seq("70"))
    assert(e === Seq(
      (SalesEtl.Err.Malformed, "71,Widget"),
      (SalesEtl.Err.Duplicate, "70,Widget,10.0,1,2024-01-02"),
      (SalesEtl.Err.BadType, "72,Widget,abc,1,2024-01-01"),
      (SalesEtl.Err.Missing, "73,,10.0,1,2024-01-01"),
      (SalesEtl.Err.BadDate, "74,Widget,10.0,1,2024-13-01"),
      (SalesEtl.Err.Malformed, "75,Widget,10.0"),
      (SalesEtl.Err.NonPositive, "75,Widget,10.0,0,2024-01-01")))
  }
}

/** The documented quote-aware deviation (SURVEY.md §7): same pipeline,
  * but quoted fields containing commas parse instead of dead-lettering. */
class SalesEtlQuoteAwareSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("quoteAware=true rescues the quoted-comma row, all else unchanged") {
    val spark = SparkTestSession.get
    val path = getClass.getResource("/messy_sales_data.csv").getPath
    val lines = spark.read.text(path)
    val (clean, errors) = SalesEtl.parseAndValidate(lines, quoteAware = true)
    val cleanRows = clean.collect()
    // reference golden split is 12/14; the quoted row (id 11, "Bluetooth
    // Speaker, Portable", fixture line 14) moves from errors to clean
    assert(cleanRows.length === 13)
    assert(errors.count() === 13)
    val rescued = cleanRows.find(_.getAs[String]("id") == "11").get
    assert(rescued.getAs[String]("product") === "Bluetooth Speaker, Portable")
    assert(rescued.getAs[Double]("total_sale") === 399.9)
  }
}

/** The sink/URI seam (SURVEY residual: the reference writes BigQuery +
  * gs://; the engine must make that a config swap, not an operator
  * change). Proven by running the WHOLE pipeline end-to-end through a
  * non-default bundled format and landing on the same golden split and
  * values as the parquet path. */
class SalesEtlSinkSeamSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("full pipeline through an ORC sink: golden 12/14 split and identical clean values") {
    val spark = SparkTestSession.get
    val path = getClass.getResource("/messy_sales_data.csv").getPath
    val out = java.nio.file.Files.createTempDirectory("etl_orc_sink")
    graft.sources.TempDirs.deleteOnExit(out)
    val (nClean, nErr) = SalesEtl.runPipeline(spark, path, out.toString,
      sink = SalesEtl.Sink("orc"))
    assert((nClean, nErr) === ((12L, 14L)))
    // the landed ORC data is the SAME table the parquet sink writes
    val orc = spark.read.orc(s"$out/clean")
    val sums = orc.selectExpr("count(*)", "round(sum(total_sale), 2)").head
    assert(sums.getLong(0) === 12L)
    assert(sums.getDouble(1) === 5415.25)
    assert(spark.read.orc(s"$out/errors").count() === 14L)
  }

  test("csv sink round-trips through the same seam (schema supplied on read)") {
    val spark = SparkTestSession.get
    val path = getClass.getResource("/messy_sales_data.csv").getPath
    val out = java.nio.file.Files.createTempDirectory("etl_csv_sink")
    graft.sources.TempDirs.deleteOnExit(out)
    val (nClean, nErr) = SalesEtl.runPipeline(spark, path, out.toString,
      sink = SalesEtl.Sink("csv", Map("header" -> "true")))
    assert((nClean, nErr) === ((12L, 14L)))
  }
}

/** `runPipeline` builds the validated rows once and writes both sinks
  * from one persisted copy: the CSV is scanned once, the dedup exchange
  * runs once, and the copy is released whether or not the sinks succeed. */
class SalesEtlSharedFrameSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}

  private lazy val spark = SparkTestSession.get
  private def fixture = getClass.getResource("/messy_sales_data.csv").getPath

  private def cacheEntries: (Int, Int) =
    (spark.sparkContext.getPersistentRDDs.size,
     org.apache.spark.sql.SparkTestInternals.numCachedEntries(spark))

  /** The baseline with other specs' leftovers dropped first: the
    * ContextCleaner unpersists their garbage RDDs at GC-driven times,
    * which would move the count while `runPipeline` runs. */
  private def cleanBaseline: (Int, Int) = {
    graft.plans.Barrier.releaseAll(spark, blocking = true)
    cacheEntries
  }

  /** Stages completed while `f` ran. */
  private def stagesOf(f: => Unit): Seq[StageInfo] = {
    val sc = spark.sparkContext
    val seen = scala.collection.mutable.ArrayBuffer[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        seen.synchronized { seen += e.stageInfo }
    }
    org.apache.spark.sql.SparkTestInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try f
    finally {
      org.apache.spark.sql.SparkTestInternals.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    seen.synchronized(seen.toList)
  }

  private def has(s: StageInfo, scope: String => Boolean) =
    s.rddInfos.exists(_.scope.exists(sc => scope(sc.name)))

  test("one stage scans the CSV and one writes the dedup shuffle; the cache is released") {
    val out = java.nio.file.Files.createTempDirectory("etl_one_scan")
    graft.sources.TempDirs.deleteOnExit(out)
    val before = cleanBaseline
    var counts = (0L, 0L)
    val stages = stagesOf {
      counts = SalesEtl.runPipeline(spark, fixture, out.toString)
    }
    assert(counts === ((12L, 14L)))
    def scansCsv(s: StageInfo) = has(s, _.startsWith("Scan text"))
    assert(stages.count(scansCsv) === 1,
      s"stages scanning the CSV: ${stages.filter(scansCsv).map(_.stageId)}")
    // the dedup exchange's map side: a shuffle of parsed lines, written
    // upstream of the Window that ranks them
    val dedupWrites = stages.filter(s => scansCsv(s) && !has(s, _ == "Window") &&
      s.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
    assert(dedupWrites.size === 1)
    assert(cacheEntries === before)
  }

  test("a failing sink write still releases the cached copy") {
    val out = java.nio.file.Files.createTempDirectory("etl_bad_sink")
    graft.sources.TempDirs.deleteOnExit(out)
    // a copy of its own, so no other spec's cache entry matches its plan
    val input = out.resolve("sales.csv")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture), input)
    val before = cleanBaseline
    intercept[Exception] {
      SalesEtl.runPipeline(spark, input.toString, s"$out/out",
        sink = SalesEtl.Sink("no_such_format"))
    }
    assert(cacheEntries === before)
  }
}

package graft.tools

/** CLI entry for the sales ETL pipeline — the Spark-native equivalent of
  * `python dataflow_transform.py --input … --output …`
  * (reference: dataflow/dataflow_transform.py:135-143).
  *
  * Usage: runMain graft.tools.EtlDemo <input.csv> <outDir>
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: EtlDemo <input.csv> <outDir>")
    // SPARK_MASTER: a deployment's master URL in place of local mode
    val spark = graft.Session(overrides = graft.Session.envOverrides ++
      sys.env.get("SPARK_MASTER").map("spark.master=" + _))
    try {
      val res = graft.analytics.SalesPipeline.run(spark, args(0), args(1))
      println(s"[etl] clean=${res.cleanRows} errors=${res.errorRows}")
      println(s"[etl] report=${res.report.mkString("; ")}")
      println("[etl] clean rows:")
      spark.read.parquet(s"${args(1)}/clean").orderBy("id").show(100, truncate = false)
      println("[etl] dead-letter rows:")
      spark.read.parquet(s"${args(1)}/errors").groupBy("error").count().show(truncate = false)
    } finally spark.stop()
  }
}

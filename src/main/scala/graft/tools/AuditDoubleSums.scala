package graft.tools

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Dev-only: the cents-exact AUDIT SWEEP (r11 verdict ask #4). The
  * round-11 money-sum fix (order-dependent double accumulation drift,
  * caught by the organic gate on q01/q30/q96) was failure-driven;
  * this tool closes the CLASS by machine-enumerating every `Sum`
  * aggregate over a Double/Float child across every SparkEntry
  * query's ANALYZED plan — window sums included — so the PERF.md
  * verdict table is generated from the plans themselves, not from a
  * grep a reviewer has to trust. Classification into
  * integer-valued / bounded-magnitude / cents-quantized / at-risk
  * stays a human judgment recorded next to each row.
  * Usage: runMain graft.tools.AuditDoubleSums [sfDir] */
object AuditDoubleSums {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val df = fn(spark, dir)
        val plan = df.queryExecution.analyzed
        val sums = plan.flatMap { op =>
          op.expressions.flatMap(_.collect {
            case s: Sum if s.child.dataType == DoubleType ||
                           s.child.dataType == FloatType =>
              s.child.sql
          })
        }.distinct
        sums.foreach(c => rows += name -> c)
      } catch {
        case e: Throwable =>
          rows += name -> s"AUDIT-ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(120)}"
      }
      graft.plans.Barrier.releaseAll(spark)
    }
    println("=== double/float Sum children per query (analyzed plans) ===")
    rows.foreach { case (q, c) => println(s"[dsum] $q\t$c") }
    println(s"[dsum-total] ${rows.size} sites across ${rows.map(_._1).distinct.size} queries")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import graft.plans.Barrier

/** Dev-only: time individual SparkEntry queries (count-forced), with
  * optional conf overrides `k=v` passed after the query list. Usage:
  *   runMain graft.tools.TimeQueries <sfDir> q34,q72,q88 [k=v ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val confs = args.drop(2).map(DevArgs.conf)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val qs = graft.SparkEntry.queries
    for (arg <- names; (name, fn) <- qs if DevArgs.selects(arg, name)) {
      // warm-up then 3 timed runs, min wins (bench convention)
      fn(spark, dir).count()
      val times = (1 to 3).map { _ =>
        Barrier.releaseAll(spark, blocking = true)
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      Barrier.releaseAll(spark, blocking = true)
      println(f"[time] $name%-24s min=${times.min}%6.2f s  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

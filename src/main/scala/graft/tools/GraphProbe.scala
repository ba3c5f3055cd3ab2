package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for the graph queries (q122/q123). */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for (a <- si.submissionTime; b <- si.completionTime) yield (b - a) / 1e3
        if (dur.exists(_ > 0.3))
          println(f"[stage] ${si.stageId}%4d ${dur.get}%7.2f s  gc=${si.taskMetrics.jvmGCTime / 1e3}%6.2f s  tasks=${si.numTasks}  ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($r)")
      graft.plans.Barrier.releaseAll(spark)
    }
    time("q122 bfs")(graft.graph.GraphOps.graphBfs(spark, dir).count())
    time("q123 triangles")(
      graft.graph.GraphOps.triangleStats(spark, dir).collect().mkString)
    time("q122 bfs again")(graft.graph.GraphOps.graphBfs(spark, dir).count())
    spark.stop()
  }
}

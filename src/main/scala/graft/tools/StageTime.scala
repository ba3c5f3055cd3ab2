package graft.tools

import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentLinkedQueue

/** Dev-only: per-stage timing of one SparkEntry query. */
object StageTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val q = args(1)
    val confs = args.drop(2).map(DevArgs.conf)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val fn = graft.SparkEntry.queries(q)
    fn(spark, dir).count() // warm-up
    // the warm-up's leaked barrier blocks would GC-storm the timed run
    graft.plans.Barrier.releaseAll(spark, blocking = true)
    val events = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (a <- si.submissionTime; b <- si.completionTime) yield (b - a) / 1e3).getOrElse(-1.0)
        val m = si.taskMetrics
        val io = f"in=${m.inputMetrics.recordsRead}%,d sr=${m.shuffleReadMetrics.recordsRead}%,d sw=${m.shuffleWriteMetrics.recordsWritten}%,d cpu=${m.executorCpuTime / 1e9}%.1f"
        events.add(f"[stage] ${si.stageId}%4d ${dur}%6.2f s tasks=${si.numTasks}%3d $io ${si.name.takeWhile(_ != '\n').take(60)}")
      }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        events.add(s"[job ${js.jobId} start t=${js.time}]")
    })
    val t0 = System.nanoTime()
    fn(spark, dir).count()
    println(f"[total] ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Thread.sleep(1500)
    events.forEach(println(_))
    spark.stop()
  }
}

package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.plans.Barrier

/** Dev tool: time, stage-trace and explain SparkEntry queries on the
  * standard [[graft.Session]]. Usage:
  *   runMain graft.tools.Inspect <sfDir> <q,…|all> [--runs N] [--stages] [--plan <outDir>] [k=v …]
  *
  * Per selected query (exact name or number, see [[DevArgs.selects]]):
  *  - `--plan`: the formatted plan is written to `<outDir>/<name>.txt`;
  *  - then, unless `--runs 0`, an untimed warm-up pass over the selected
  *    queries and N timed passes (default 3) in the same order, as
  *    `Bench` runs them: each run count-forced, with barrier blocks
  *    released before it. One line per query gives the min, every run's
  *    seconds and its codegen compiles, so classes a pass evicts from
  *    Spark's codegen cache show as compiles in the next pass;
  *  - `--stages`: job and stage lines of the timed runs as they finish.
  *
  * `all` is every query except the `_stream_` ones, which execute on
  * construction and so have no plan to show. `k=v` arguments are
  * session overrides, applied after `SPARK_GRAFT_CONF`. */
object Inspect {
  final case class Opts(sfDir: String, queries: String, runs: Int = 3,
      stages: Boolean = false, planDir: Option[String] = None,
      overrides: Seq[String] = Nil)

  private val Usage =
    "usage: Inspect <sfDir> <q,…|all> [--runs N] [--stages] [--plan <outDir>] [k=v …]"

  def parse(args: Seq[String]): Opts = {
    require(args.size >= 2, Usage)
    @annotation.tailrec
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--runs" :: n :: t => go(t, o.copy(runs = n.toInt))
      case "--stages" :: t => go(t, o.copy(stages = true))
      case "--plan" :: dir :: t => go(t, o.copy(planDir = Some(dir)))
      case kv :: t => DevArgs.conf(kv); go(t, o.copy(overrides = o.overrides :+ kv))
    }
    go(args.drop(2).toList, Opts(args(0), args(1)))
  }

  def selected(arg: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    if (arg == "all") all.filterNot(_._1.contains("_stream_"))
    else arg.split(',').toSeq.flatMap(a => all.filter(q => DevArgs.selects(a, q._1)))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val spark = graft.Session(overrides = graft.Session.envOverrides ++ o.overrides)
    // stop() drains the listener bus, so the last run's lines print too
    if (o.stages) spark.sparkContext.addSparkListener(new StageLines)
    try run(spark, o) finally spark.stop()
  }

  private val Timed = "graft-inspect-timed"

  /** Job and stage lines of the jobs run under the [[Timed]] job group.
    * Keyed on the group, not on a flag around the action: Spark delivers
    * listener events after the action returns. */
  private final class StageLines extends SparkListener {
    private val traced = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == Timed)) {
        j.stageIds.foreach(traced.add)
        println(s"[job] ${j.jobId} ${j.properties.getProperty("spark.job.description")} " +
          s"stages=${j.stageIds.mkString(",")}")
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (traced.remove(s.stageInfo.stageId)) {
        val si = s.stageInfo
        val secs = (for (a <- si.submissionTime; b <- si.completionTime) yield (b - a) / 1e3)
          .getOrElse(-1.0)
        val m = si.taskMetrics
        println(f"[stage] ${si.stageId}%4d $secs%6.2f s tasks=${si.numTasks}%3d " +
          f"in=${m.inputMetrics.recordsRead}%,d sr=${m.shuffleReadMetrics.recordsRead}%,d " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%,d cpu=${m.executorCpuTime / 1e9}%.1f " +
          f"gc=${m.jvmGCTime / 1e3}%.1f ${si.name.takeWhile(_ != '\n').take(60)}")
      }
  }

  def run(spark: SparkSession, o: Opts): Unit = {
    val queries = selected(o.queries)
    for (dir <- o.planDir) {
      Files.createDirectories(Paths.get(dir))
      for ((name, fn) <- queries if !name.contains("_stream_")) {
        val txt =
          try fn(spark, o.sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"ERROR: ${e.getMessage}\n" }
        Files.writeString(Paths.get(dir, s"$name.txt"), txt)
        println(s"[plan] $dir/$name.txt")
        Barrier.releaseAll(spark, blocking = true)
      }
    }
    if (o.runs > 0) {
      // (seconds, codegen compiles) of one count-forced run; the previous
      // run's barrier blocks are released first, or they GC-storm this one
      def once(name: String, fn: (SparkSession, String) => DataFrame): (Double, Long) = {
        Barrier.releaseAll(spark, blocking = true)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        spark.sparkContext.setJobGroup(Timed, name)
        val t0 = System.nanoTime()
        try fn(spark, o.sfDir).count() finally spark.sparkContext.clearJobGroup()
        ((System.nanoTime() - t0) / 1e9,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
      }
      queries.foreach { case (_, fn) => // untimed, untraced warm-up pass
        Barrier.releaseAll(spark, blocking = true)
        fn(spark, o.sfDir).count()
      }
      val passes = (1 to o.runs).map(_ => queries.map { case (name, fn) => once(name, fn) })
      Barrier.releaseAll(spark, blocking = true)
      for (((name, _), i) <- queries.zipWithIndex) {
        val runs = passes.map(_(i))
        println(f"[time] $name%-28s min=${runs.map(_._1).min}%6.2f s  " +
          s"runs=${runs.map(r => f"${r._1}%.2f").mkString(",")}  " +
          s"compiles=${runs.map(_._2).mkString(",")}")
      }
    }
  }
}

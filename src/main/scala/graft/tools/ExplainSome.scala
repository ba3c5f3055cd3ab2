package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` for selected queries into
  * per-query files — the round's plan-evidence convention
  * (`plans/rNN/<query>_<suffix>.txt`). Usage:
  *   runMain graft.tools.ExplainSome <sfDir> <outDir> <suffix> q120,q238 [k=v ...]
  */
object ExplainSome {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args(3).split(",").toSeq
    val confs = args.drop(4).map(DevArgs.conf)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    Files.createDirectories(Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    for (arg <- names; (name, fn) <- qs if DevArgs.selects(arg, name)) {
      val txt =
        try fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}\n" }
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[explain] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}

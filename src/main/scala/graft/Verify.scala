package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names or numbers (`q12`)
    // — a dev-loop filter; without it every query runs.
    val keep: String => Boolean = args.lift(2) match {
      case Some(p) =>
        val ps = p.split(',').toSeq; n => ps.exists(graft.tools.DevArgs.selects(_, n))
      case None => _ => true
    }
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.plans.Barrier.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SF_DIR} lets path-reading oracles track the same scale-factor
    // dir the Spark queries received. {BINARY_FILES} (q69 read_blob)
    // becomes the exact file list the engine's binaryFile source
    // resolves — enumerated BY that source, so the oracle is
    // layout-indifferent (single-file and part-directory corpora see
    // the same set; a glob on the DuckDB side matched files only).
    // Bounded collect: one short string per FILE, not per row.
    val binaryFiles: String =
      try spark.read.format("binaryFile").load(s"$sfDir/*.parquet")
        .select("path").collect().map(_.getString(0).stripPrefix("file:"))
        .sorted.map(p => "'" + p.replace("'", "''") + "'")
        .mkString("[", ", ", "]")
      catch { case _: Throwable => s"['$sfDir/*.parquet']" }
    // filtered runs dump a matching filtered oracle map — otherwise a
    // compare over outDir would pair fresh oracle SQL with stale parquet
    // from an earlier full run and report green for un-rerun queries
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SF_DIR}", sfDir)
        .replace("{BINARY_FILES}", binaryFiles))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

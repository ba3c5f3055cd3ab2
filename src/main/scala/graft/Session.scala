package graft

import org.apache.spark.sql.SparkSession
import graft.tools.DevArgs

/** The one place a graft session is built: `Bench`, `Verify`, the tools
  * and the tests all start here, so a run's confs no longer depend on how
  * it was launched (sbt `-D` flags, a tool's own master). Sessions graft
  * does not build still get the SQL surface lazily through
  * [[graft.functions.GraftExtensions.registerInto]].
  *
  * Usage: `Session()` for `local[SPARK_GRAFT_CPUS]` plus the
  * `SPARK_GRAFT_CONF` overrides; `Session(cores = 4, overrides = Nil)` for
  * a pinned one; `builder(…)` when the caller adds to the builder
  * (`withExtensions`) before [[start]]. */
object Session {
  /** Spark keeps compiled codegen classes in one cache per JVM, capped by
    * this static conf (Spark's default: 100 entries). One `query_neardup`
    * benchmark pass needs about 140 classes, so at 100 every class was
    * evicted before its reuse and each warm pass recompiled 131-135 of
    * them; at 2000 a warm pass compiled 14 (ROADMAP item 1). Static, so it
    * takes effect only when the JVM's first session is built — which is
    * why every session comes from this one builder. */
  val CodegenCacheEntries = 2000

  /** `SPARK_GRAFT_CPUS`, or 4. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** `SPARK_GRAFT_CONF`: `;`-separated `k=v` overrides, e.g.
    * `graft.materialize=reliable;spark.executor.heartbeatInterval=60s`. */
  def envOverrides: Seq[String] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';')).filter(_.trim.nonEmpty)

  /** Every conf a session starts with. `k=v` overrides come last and win;
    * a malformed one is an `IllegalArgumentException` naming it. */
  def confs(cores: Int, overrides: Seq[String]): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString
  ) ++ overrides.map(DevArgs.conf)

  /** The overrides are set on the builder, not the session, so
    * context-init confs (heartbeats, network timeouts, `spark.master`)
    * take effect too. */
  def builder(cores: Int = defaultCores,
      overrides: Seq[String] = envOverrides): SparkSession.Builder =
    SparkSession.builder().config(confs(cores, overrides))

  def apply(cores: Int = defaultCores, overrides: Seq[String] = envOverrides): SparkSession =
    start(builder(cores, overrides))

  /** Log level `WARN` and the checkpoint dir of the `reliable` barrier
    * mode (`SPARK_GRAFT_CKPT_DIR`, default `/tmp/graft_ckpt`). */
  def start(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR", "/tmp/graft_ckpt"))
    spark
  }
}

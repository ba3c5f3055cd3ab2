package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization barrier: every lineage-truncating checkpoint
  * in graft goes through here. A barrier frame is a `LogicalRDD` over
  * materialized blocks, so frames built on it read those blocks instead
  * of re-deriving the upstream plan per reference (cache substitution
  * on self-joined subtrees is unreliable, and a frame referenced twice
  * per round of a driver loop doubles the plan every round). [[eager]]
  * runs its own job; [[lazily]] is filled by the first action over the
  * frame, saving a job where that action reads every partition anyway.
  *
  * `graft.materialize` picks the mode:
  *  - `local` (default): `localCheckpoint` at `MEMORY_AND_DISK_SER`. NOT
  *    fault-tolerant: the blocks live only on the executors that computed
  *    them, so losing one fails every job that reads them. Right for one
  *    JVM.
  *  - `reliable`: `Dataset.checkpoint` into `SparkContext.setCheckpointDir`.
  *    Survives executor loss for a write and a read per barrier; the
  *    cluster mode.
  *  - `off`: barriers that only share a plan subtree are no-ops; lineage
  *    stands and recomputes on loss.
  *
  * The loop rule: a barrier that bounds a driver loop's lineage passes
  * `required = true`, and `off` keeps it as `local`, since without it
  * the plan grows every round. So does one that outlives its source (a
  * table dropped right after) or keeps a generated-column chain from
  * being inlined into every reference (the q253 router corpora). Every
  * mode gives the same rows for every query (MaterializeModesSpec). */
object Barrier {
  val Conf = "graft.materialize"
  private val Modes = Seq("local", "reliable", "off")

  /** The session's mode; any other value is an error, never a silent
    * fallback to the non-fault-tolerant default. */
  private def mode(spark: SparkSession): String = {
    val m = spark.conf.get(Conf, "local")
    require(Modes.contains(m), s"$Conf must be one of ${Modes.mkString(" | ")}, got '$m'")
    m
  }

  def eager(df: DataFrame, required: Boolean = false): DataFrame =
    barrier(df, eager = true, required)

  def lazily(df: DataFrame, required: Boolean = false): DataFrame =
    barrier(df, eager = false, required)

  private def barrier(df: DataFrame, eager: Boolean, required: Boolean): DataFrame =
    mode(df.sparkSession) match {
      case "reliable" => df.checkpoint(eager)
      case "off" if !required => df
      case _ => df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Drops the blocks behind one barrier frame; a no-op for any other
    * frame, so blocks that other frames share are never touched.
    * Invariant: call it only after an action that read every partition
    * of every frame that reads the released blocks (a full count or
    * aggregate, not `isEmpty`/`take`). `local` blocks are the only copy,
    * so a later job that needs a dropped one fails instead of
    * recomputing it. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD => quietRelease; r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** The runners' release between queries: cached frames and every
    * persisted RDD, barrier blocks included (`clearCache` alone leaves
    * those). Safe once no frame of the finished query is read again. */
  def releaseAll(spark: SparkSession, blocking: Boolean = false): Unit = {
    quietRelease
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }

  /** Spark WARNs `RDD N was locally checkpointed, its lineage has been
    * truncated and cannot be recomputed after unpersisting` for every
    * `local` barrier RDD dropped above: 412 of a tier-1 run's 7801 WARN
    * lines, all expected, since dropping those blocks is the point of a
    * release. This drops that one message, matched on its text, at the
    * root logger's config; every other message of every logger, RDD
    * classes included, still logs at its level. There, not on the whole
    * configuration, the filter sees only events that passed the level
    * check: a configuration-wide filter runs on every log call at every
    * level and formats each parameterized DEBUG message to match it
    * (measured: +26 % `query_neardup` peak RSS). Installed once, on the
    * first release. */
  private lazy val quietRelease: Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.filter.RegexFilter
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        ctx.getConfiguration.getRootLogger.addFilter(RegexFilter.createFilter(
          "RDD \\d+ was locally checkpointed, its lineage has been truncated .*",
          Array.empty[String], false, Filter.Result.DENY, Filter.Result.NEUTRAL))
        ctx.updateLoggers()
      case _ => // another logging backend: nothing to filter
    }
  }
}

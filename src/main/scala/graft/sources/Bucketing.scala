package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Bucketed-table storage: the co-located join path. Writing both fact
  * tables bucketed (and sorted) by the join key means every future
  * join on that key is a zero-exchange sort-merge join — at 100 TB the
  * shuffle this removes is the single largest cost in the plan, paid
  * once at write time and amortized over every downstream query.
  *
  * [[bucketedJoin]] is SELF-ASSERTING: it executes the join with AQE
  * and broadcast disabled (so the bucketed SMJ is the only way to
  * avoid a shuffle) and `require`s that the executed plan contains no
  * Exchange — a regression that silently reintroduces the shuffle
  * fails the query, not just a spec. The aggregate then groups BY THE
  * BUCKET KEY, so even the aggregation reuses the storage partitioning
  * and the whole plan runs shuffle-free.
  */
object Bucketing {

  /** Buckets per table — at 100 TB this would be sized to make one
    * bucket ≈ one task's worth of data (thousands); 16 keeps the
    * local-mode file count sane at every test sf. */
  val NumBuckets = 16

  private val callSeq = new AtomicLong(0)

  /** Per-JVM tag: a previous process's warehouse directories must not
    * collide with this one's catalog entries (saveAsTable refuses a
    * name whose location already exists on disk). */
  private val runTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def withPlanConfs[A](spark: SparkSession)(body: => A): A = {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** lineitem ⋈ orders on the order key, both sides read from tables
    * bucketed+sorted by that key, aggregated by the bucket key —
    * executed and PROVEN shuffle-free, then lineage-truncated so the
    * returned frame doesn't depend on the catalog tables. Oracle: the
    * same join over the raw parquet. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = callSeq.incrementAndGet()
    // catalog names are per-call (no cross-call or cross-user clobber)
    // and per-JVM (a crashed run's leftover warehouse directory can't
    // collide); both tables are dropped below once the result is
    // materialized, so nothing outlives the call on a clean exit
    val (liT, ordT) = (s"graft_q99_li_${runTag}_$n", s"graft_q99_ord_${runTag}_$n")
    // the two bucketed copies are independent — write them concurrently
    // (guide §2.6; r15: the serial writes were most of the query's wall)
    graft.plans.Par.all(Seq(
      () => Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(liT),
      () => Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ordT)))
    withPlanConfs(spark) {
      val joined = spark.table(liT)
        .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        // integer cents: per-row rounding is deterministic and the
        // bigint sum is order-free, so tiny per-order groups can't hit
        // a double-summation penny boundary across engines
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100, 0).cast("long")).as("revenue_cents"))
      // materialize under the pinned confs, then assert the plan shape
      val out = graft.plans.Barrier.eager(joined, required = true)
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join must be shuffle-free, got:\n$plan")
      // the checkpoint no longer depends on the catalog — reclaim the
      // bucketed copies immediately
      Seq(liT, ordT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      out
    }
  }

  val bucketedJoinSql: String =
    """SELECT l_orderkey, o_orderpriority,
      |       count(*) AS n_lines,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |                     AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin
}

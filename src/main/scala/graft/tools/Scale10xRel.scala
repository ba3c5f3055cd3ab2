package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: derive the 10× RELATIONAL/EVENT corpus for the PERF.md
  * scale protocol (the dedup/ANN families got theirs in round 5; this
  * covers the graph + event-analytics families, q110–q129).
  *
  * Replication is KEY-SHIFTED so the derived corpus stays
  * referentially sound and analytically interesting:
  *  - orders/lineitem ×N with the order key shifted by a replica
  *    offset; part/customer keys UNCHANGED, so each part participates
  *    in N× the baskets — co-purchase support scales ×N and the
  *    support-thresholded graph densifies (the support≥2 graph of the
  *    derived corpus is the support≥1 graph of the source), which is
  *    exactly the stress the graph family needs;
  *  - events ×N with user_id and event_id shifted — N disjoint user
  *    populations, so funnel/retention/active-user counts must scale
  *    exactly ×N (a built-in sanity invariant) while per-user state
  *    sizes stay constant;
  *  - dimension + document tables copied through unchanged.
  * Every replica column is cast back to its source dtype, so the
  * derived files read with the same schema as the driver testdata.
  *
  * Usage: runMain graft.tools.Scale10xRel [srcDir] [outDir] [reps]
  */
object Scale10xRel {

  /** Key-shifted ×`reps` replication — public so the plan specs can
    * derive the same densified corpora the PERF.md protocol uses. */
  def replicate(df: DataFrame, shiftCols: Seq[String], reps: Int): DataFrame = {
    val spans = shiftCols.map { c =>
      c -> (df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L)
    }
    (0 until reps).map { i =>
      spans.foldLeft(df) { case (d, (c, span)) =>
        d.withColumn(c,
          (col(c).cast("long") + lit(i.toLong * span)).cast(df.schema(c).dataType))
      }
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out  = args.lift(1).getOrElse("/tmp/sf1ish_rel")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session()

    def replicate(df: DataFrame, shiftCols: Seq[String]): DataFrame =
      Scale10xRel.replicate(df, shiftCols, reps)

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "documents", "embeddings"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    replicate(spark.read.parquet(s"$src/orders.parquet"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // lineitem shares the ORDER key space: reuse the orders span so FK
    // integrity holds across replicas
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val oSpan = ord.agg(max(col("o_orderkey").cast("long"))).head.getLong(0) + 1L
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until reps).map { i =>
      li.withColumn("l_orderkey",
        (col("l_orderkey").cast("long") + lit(i.toLong * oSpan))
          .cast(li.schema("l_orderkey").dataType))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events via Tables.events so the ns-long ts normalizes once; the
    // derived file then carries a plain µs timestamp both engines read
    replicate(graft.tables.Tables.events(spark, src), Seq("user_id", "event_id"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"[scale10x] wrote $out (reps=$reps)")
    spark.stop()
  }
}

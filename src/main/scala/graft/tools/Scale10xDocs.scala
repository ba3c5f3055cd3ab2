package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: derive the 10× DOCUMENT/EMBEDDING corpus for the PERF.md
  * scale protocol (the r5 run used an ad-hoc derivation; this pins it
  * as a reproducible tool).
  *
  *  - documents ×N: replica i > 0 appends a unique marker token
  *    (`repmark<i>x<doc_id>`) to the text — replicas are NEAR-dups
  *    (high Jaccard, shifted simhash), never exact dups, which is the
  *    stress the dedup family needs; doc_id is span-shifted so the
  *    synthetic-asset arithmetic (q82/q92/q126/q131/q132/q135 derive
  *    image/audio parameters from doc_id) lands on fresh classes.
  *  - embeddings ×N: vec_id span-shifted, every component nudged by a
  *    deterministic per-replica epsilon — near-identical directions,
  *    the SemDeDup/ANN stress.
  *  - all other tables copied through, so the output dir serves every
  *    oracle view `tools/check_oracle.py` builds.
  *
  * Usage: runMain graft.tools.Scale10xDocs [srcDir] [outDir] [reps]
  */
object Scale10xDocs {
  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out  = args.lift(1).getOrElse("/tmp/sf1ish_docs")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session()

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    // events via Tables.events so the ns-long ts normalizes once
    graft.tables.Tables.events(spark, src)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    (0 until reps).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * dSpan))
        .withColumn("text", concat(col("text"),
          lit(s" repmark${i}x"), (col("doc_id") - lit(i.toLong * dSpan))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    (0 until reps).map { i =>
      if (i == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * vSpan))
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(i * 1e-3f)).cast("float")))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"derived ${reps}x corpus at $out")
    spark.stop()
  }
}

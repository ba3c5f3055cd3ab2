package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: derive the WHOLE-SUITE sf1 corpus — every table ×10 from
  * sf0.1 in ONE directory, so all 250 queries and their DuckDB oracles
  * run against the same scaled warehouse (the round-10 promotion of
  * the per-family 10× protocol to suite-wide evidence).
  *
  * Composition of the two family derivations, unchanged:
  *  - documents/embeddings: [[Scale10xDocs]]' near-dup replication
  *    (marker-token text replicas, span-shifted ids, epsilon-shifted
  *    vectors) — the dedup/ANN/multimodal stress;
  *  - orders/lineitem/events: [[Scale10xRel]]'s key-shifted replication
  *    (disjoint order/user/event key spans, shared part/customer
  *    catalog — co-purchase support ×10, per-user state constant);
  *  - dimensions (region/nation/customer/supplier/part): copied
  *    through, so FK integrity and the dimension-audit queries hold.
  *
  * Usage: runMain graft.tools.ScaleSf1 [srcDir] [outDir] [reps]
  */
object ScaleSf1 {

  /** Write `df` as ONE parquet FILE at `$out/$table.parquet` — the
    * driver-testdata layout. The whole-suite gate needs file (not
    * part-directory) tables because the binary-ingestion query (q69)
    * and its read_blob oracle glob plain files; every other query is
    * layout-indifferent. */
  private[tools] def writeSingle(df: org.apache.spark.sql.DataFrame,
                                 out: String, table: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$out/_tmp_$table"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    // Files.list/walk return open directory streams — close them
    // (try/finally) or each table leaks a directory handle.
    val ls = Files.list(Paths.get(tmp))
    val part =
      try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    Files.createDirectories(Paths.get(out))
    Files.move(part, Paths.get(s"$out/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val wk = Files.walk(Paths.get(tmp))
    try wk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally wk.close()
  }

  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out  = args.lift(1).getOrElse("/tmp/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session()

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      writeSingle(spark.read.parquet(s"$src/$t.parquet"), out, t)

    writeSingle(Scale10xRel.replicate(
      spark.read.parquet(s"$src/orders.parquet"), Seq("o_orderkey"), reps),
      out, "orders")
    // lineitem shares the ORDER key space: reuse the orders span so FK
    // integrity holds across replicas
    val oSpan = spark.read.parquet(s"$src/orders.parquet")
      .agg(max(col("o_orderkey").cast("long"))).head.getLong(0) + 1L
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    writeSingle((0 until reps).map { i =>
      li.withColumn("l_orderkey",
        (col("l_orderkey").cast("long") + lit(i.toLong * oSpan))
          .cast(li.schema("l_orderkey").dataType))
    }.reduce(_ unionAll _), out, "lineitem")

    // events via Tables.events so the ns-long ts normalizes once
    writeSingle(Scale10xRel.replicate(
      graft.tables.Tables.events(spark, src), Seq("user_id", "event_id"), reps),
      out, "events")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    writeSingle((0 until reps).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * dSpan))
        .withColumn("text", concat(col("text"),
          lit(s" repmark${i}x"), (col("doc_id") - lit(i.toLong * dSpan))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionAll _), out, "documents")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    writeSingle((0 until reps).map { i =>
      if (i == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * vSpan))
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(i * 1e-3f)).cast("float")))
    }.reduce(_ unionAll _), out, "embeddings")

    println(s"[scalesf1] wrote $out (reps=$reps, all tables)")
    spark.stop()
  }
}

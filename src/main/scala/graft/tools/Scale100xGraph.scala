package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: the 100× GRAPH protocol (round-10 verdict task 7) — the
  * shuffle-heaviest operators (q123 triangle census, q124 PageRank,
  * q196 k-core) run against a 100×-sf0.1 relational corpus with the
  * AQE skew-split assertion LIVE on the census's wedge-close join.
  *
  * The organic corpus is near-regular per market space (uniform-random
  * baskets), so — exactly like the CI pin at 10×
  * (ScalePlanSpec "AQE splits the co-purchase wedge join's hub
  * partition") — a promo hub item is PLANTED through the real
  * operator: one part added to 90% of all baskets. At 100 TB catalog
  * sparsity such hubs are the norm, and the wedge-close join keys one
  * side by the wedge middle's IN-degree, which the degree orientation
  * does not bound; AQE must split that partition at runtime
  * (`skew=true` in the executed plan) with edge broadcast disabled.
  *
  * Prints one JSON line: per-query seconds, edge/triangle counts, and
  * the skew assertion result. Nonzero exit if the census finds no
  * triangles or the skew split did not happen.
  *
  * Usage: runMain graft.tools.Scale100xGraph <100xDir> [workDir]
  */
object Scale100xGraph {
  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/tmp/sf100organic")
    val work = args.lift(1).getOrElse("/tmp/graph100x")
    val spark = graft.Session(overrides = Seq(
      "spark.sql.shuffle.partitions=128",
      "spark.sql.adaptive.skewJoin.enabled=true",
      // the FACTOR (×2 median) is the real-cluster knob; byte floors
      // scaled to this corpus (the wedge shuffle's hub partition is
      // tens of MB here where production would be GBs)
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor=2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=4MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes=2MB",
      "spark.sql.adaptive.coalescePartitions.enabled=false",
      "spark.sql.autoBroadcastJoinThreshold=-1",
      "graft.graph.broadcastEdges=false") ++ graft.Session.envOverrides)

    // protocol dir = symlinks to the 100x tables + the hub-planted
    // lineitem written fresh; cleared first so re-runs don't trip on
    // the previous run's staged parquet directories
    import java.nio.file.{Files, Paths}
    val pdir = Paths.get(work, "corpus")
    if (Files.exists(pdir)) {
      val s = Files.walk(pdir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
    Files.createDirectories(pdir)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "events", "documents", "embeddings")) {
      val link = pdir.resolve(s"$t.parquet")
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(src, s"$t.parquet"))
    }
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val hubId = li.agg(max(col("l_partkey").cast("long"))).head.getLong(0) + 1L
    val hub = li.dropDuplicates("l_orderkey")
      .filter(col("l_orderkey").cast("long") % 10 =!= 0)
      .withColumn("l_partkey", lit(hubId).cast(li.schema("l_partkey").dataType))
    val liPath = pdir.resolve("lineitem.parquet")
    Files.deleteIfExists(liPath)
    li.unionAll(hub).write.mode("overwrite").parquet(liPath.toString)
    // the hub part joins Tables.part in pageRank seeds — give it a row
    val part = spark.read.parquet(s"$src/part.parquet")
    spark.sql(s"SELECT CAST($hubId AS BIGINT) AS p_partkey, " +
        "'promo hub' AS p_name, 'Brand#0' AS p_brand, 'PROMO' AS p_type, " +
        "1 AS p_size, CAST(1.0 AS DOUBLE) AS p_retailprice")
      .unionByName(part)
      .write.mode("overwrite").parquet(s"$work/part_staged")
    Files.deleteIfExists(pdir.resolve("part.parquet"))
    Files.move(Paths.get(s"$work/part_staged"), pdir.resolve("part.parquet"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val dir = pdir.toString
    val census = graft.graph.GraphOps.triangleStats(spark, dir)
    val (row, tCensus) = timed(census.collect()(0))
    val skew = census.queryExecution.executedPlan.toString.contains("skew=true")
    val (nPr, tPr) = timed(
      graft.graph.GraphOps.pageRank(spark, dir).count())
    // k-core runs on the UNPLANTED corpus: its threshold is derived
    // from the degree distribution (min + (max-min)/6), and the skew
    // hub drags max-degree to catalog size, peeling everything — the
    // hub tests the census's shuffle, not the peel's semantics
    val (nKc, tKc) = timed(
      graft.graph.GraphOps.kCore(spark, src).count())
    println(s"""{"protocol":"graph100x","src":"$src","q123_secs":${f(tCensus)},""" +
      s""""census_row":"${row.toString.replace("\"", "'")}","skew_split":$skew,""" +
      s""""q124_secs":${f(tPr)},"q124_rows":$nPr,""" +
      s""""q196_secs":${f(tKc)},"q196_rows":$nKc}""")
    spark.stop()
    if (!skew || row.getLong(2) == 0 || nKc == 0) sys.exit(3)
  }

  private def f(v: Double): BigDecimal =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
}

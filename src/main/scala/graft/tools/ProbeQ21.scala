package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.Barrier

/** Dev-only: probe a minhashLsh near-dup cluster for lost docs (the
  * 100× scale protocol's doc-52551 investigation). Prints per-doc pair
  * counts for the given ids and the total pair count. */
object ProbeQ21 {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/probe_docs")
    val ids = args.lift(1).getOrElse("52551").split(",").map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pairs = graft.dedup.DedupOps.minhashLsh(spark, dir)
      .transform(Barrier.eager(_))
    println(s"[probe] total pairs: ${pairs.count()}")
    for (id <- ids) {
      val n = pairs.filter(col("d1") === id || col("d2") === id).count()
      println(s"[probe] doc $id pairs: $n")
    }
    // stage bisect: rebuild hsets exactly as shingleHashes does, walk
    // the collapse -> bands -> capped-join chain for the probe ids
    import graft.functions.TextExprs._
    import graft.dedup.DedupOps
    val hsets = graft.tables.Tables.spread(
        graft.tables.Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs
          .shingleHashes(tokensCol(col("text")), ShingleW, P).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("n", size(col("hs")))
      .transform(Barrier.eager(_))
    for (id <- ids)
      println(s"[probe] hsets $id: " +
        hsets.filter(col("doc_id") === id).count())
    val groups = Barrier.eager(DedupOps.collapseShingleSets(hsets))
    for (id <- ids) {
      val g = groups.filter(array_contains(col("members"), id))
        .select(col("rep"), col("gsize")).collect()
      println(s"[probe] group of $id: " +
        g.map(r => s"rep=${r.getLong(0)} gsize=${r.getInt(1)}").mkString(","))
    }
    val cand = DedupOps.minhashRepCandidates(
      groups.select(col("rep"), col("hs"))).transform(Barrier.eager(_))
    println(s"[probe] candidates: ${cand.count()}")
    for (id <- ids)
      println(s"[probe] cand of $id: " +
        cand.filter(col("r1") === id || col("r2") === id).count())
    // carried-sig integrity: n_agree from the columns cappedPairJoin
    // carried vs n_agree recomputed from the ground-truth hsets sigs
    val trueSig = groups.select(col("rep"),
      minhashSigCol(col("hs")).as("tsig")).transform(Barrier.eager(_))
    val agree = cand
      .withColumn("n_carried", size(filter(
        zip_with(col("sig1"), col("sig2"), (x, y) => x === y), p => p)))
      .join(trueSig.select(col("rep").as("r1"), col("tsig").as("t1")), "r1")
      .join(trueSig.select(col("rep").as("r2"), col("tsig").as("t2")), "r2")
      .withColumn("n_true", size(filter(
        zip_with(col("t1"), col("t2"), (x, y) => x === y), p => p)))
    println("[probe] carried-vs-true agreement mismatches: " +
      agree.filter(col("n_carried") =!= col("n_true")).count())
    agree.filter(col("r1").isin(ids: _*) || col("r2").isin(ids: _*))
      .select("r1", "r2", "n_carried", "n_true")
      .orderBy("r1", "r2").limit(8).collect()
      .foreach(r => println(s"[probe] pair ${r.getLong(0)},${r.getLong(1)} " +
        s"carried=${r.getInt(2)} true=${r.getInt(3)}"))
    spark.stop()
  }
}

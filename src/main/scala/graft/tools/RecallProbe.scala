package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.vector.VectorOps

/** Measures recall@KLsh for every ANN family against the exact
  * brute-force ranking (q24) — the retrieval-quality ledger the
  * per-query oracles cannot express (they verify each family's
  * COMPUTATION, not how much of the true top-k the candidate
  * generation keeps). Run: `runMain graft.tools.RecallProbe <sfDir>`. */
object RecallProbe {
  /** recall@KLsh of `ann` (one ANN family's output) vs the exact
    * top-KLsh set from [[VectorOps.knnBrute]]. */
  def recallAt(spark: SparkSession, dir: String,
               ann: org.apache.spark.sql.DataFrame): Double = {
    val exact = VectorOps.knnBrute(spark, dir)
      .filter(col("rank") <= VectorOps.KLsh)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ann.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.count(exact).toDouble / exact.size
  }

  def families(spark: SparkSession, dir: String)
      : Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
    "q25_lsh"        -> VectorOps.annLsh(spark, dir),
    "q35_ivf"        -> VectorOps.annIvf(spark, dir),
    "q79_pq"         -> VectorOps.knnPq(spark, dir),
    "q81_ivf_trained" -> VectorOps.annIvfTrained(spark, dir),
    "q84_rp"         -> VectorOps.knnRp(spark, dir),
    "q136_matryoshka" -> VectorOps.knnMatryoshka(spark, dir),
    "q252_graph"     -> VectorOps.annGraph(spark, dir))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session()
    families(spark, dir).foreach { case (name, df) =>
      println(f"$name%-18s recall@${VectorOps.KLsh} = ${recallAt(spark, dir, df)}%.3f")
    }
    spark.stop()
  }
}

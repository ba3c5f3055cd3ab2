package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._

/** Leakage-safe train/val/test split (q168) — the fix for the failure
  * mode q159 audits: q97's per-document hash split sends two NEAR-DUP
  * documents to different splits whenever their ids hash apart, so the
  * "held-out" set contains paraphrases of training documents and eval
  * is contaminated (Lee et al., "Deduplicating Training Data Makes
  * Language Models Better", ACL'22 §6 measures exactly this). The fix:
  * split by NEAR-DUP CLUSTER, not by document — every document is
  * assigned the bucket of its cluster REPRESENTATIVE (component-min
  * doc_id over the verified q21 pairs, via the O(log n) star
  * contraction [[DedupOps.starComponents]]), so a near-dup pair can
  * never straddle a split boundary. The emitted ledger carries the
  * audit column that proves it: `cross_split_pairs` — verified
  * near-dup pairs whose endpoints landed in different splits — which
  * this construction drives to zero BY CONSTRUCTION (same component ⇒
  * same rep ⇒ same bucket), where q97's per-doc split leaves it > 0.
  *
  * Scale shape: pairs + star CC as in q134 (O(log n) rounds, id-pair
  * rows only); assignment is one left join docs⋈clusters on doc_id
  * plus a codegen'd hash bucket; the audit join ships (doc_id, split)
  * pairs only. Split fractions are the q97 thresholds (80/10/10). */
object SplitOps {

  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.plans.Barrier.eager(
      DedupOps.minhashLsh(spark, dir).select(col("d1"), col("d2")))
    val clusters = DedupOps.starComponents(pairs)._1
    val docs = Tables.spread(Tables.documents(spark, dir)).select(col("doc_id"))
    val assigned = docs
      .join(clusters.withColumnRenamed("rep_id", "cl_rep"), Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cl_rep"), col("doc_id")))
      .withColumn("bucket",
        polyHashCol(concat(lit("rep:"), col("rep").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < graft.text.TextOps.TrainPct, "train")
          .when(col("bucket") < graft.text.TextOps.ValPct, "val")
          .otherwise("test"))
    val a1 = assigned.select(col("doc_id").as("d1"), col("split").as("sp1"))
    val a2 = assigned.select(col("doc_id").as("d2"), col("split").as("sp2"))
    val cross = pairs.join(a1, "d1").join(a2, "d2")
      .agg(coalesce(sum(when(col("sp1") =!= col("sp2"), 1L).otherwise(0L)), lit(0L))
        .as("cross_split_pairs"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
      .crossJoin(broadcast(cross))
  }

  /** Oracle: cluster map re-derived via the recursive-CTE reachability
    * closure over the SAME verified pair set (the q72/q134 oracle),
    * then the identical rep-keyed bucket assignment. */
  val clusterSplitSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${DedupOps.minhashLshSql}),
       |edges AS MATERIALIZED (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT d1 AS node FROM edges),
       |reach(src, node) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT r.src, e.d2 FROM reach r JOIN edges e ON r.node = e.d1),
       |cl AS (SELECT src AS doc_id, min(node) AS rep_id FROM reach GROUP BY 1),
       |a AS (
       |  SELECT d.doc_id, coalesce(cl.rep_id, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
       |b AS MATERIALIZED (
       |  SELECT doc_id, rep,
       |         CASE WHEN bucket < ${graft.text.TextOps.TrainPct} THEN 'train'
       |              WHEN bucket < ${graft.text.TextOps.ValPct} THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM (SELECT doc_id, rep,
       |               ${polyHashSql("'rep:' || CAST(rep AS VARCHAR)")} % 100 AS bucket
       |        FROM a)),
       |x AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN s1.split != s2.split THEN 1 ELSE 0 END), 0)
       |              AS BIGINT) AS cross_split_pairs
       |  FROM pairs p
       |  JOIN b s1 ON s1.doc_id = p.d1
       |  JOIN b s2 ON s2.doc_id = p.d2)
       |SELECT split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
       |       x.cross_split_pairs
       |FROM b CROSS JOIN x
       |GROUP BY 1, 4""".stripMargin
}

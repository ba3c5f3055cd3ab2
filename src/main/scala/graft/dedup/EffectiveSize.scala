package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Duplicate-discounted effective corpus size (q191) — the honest
  * token-budget number a mixture plan should use instead of raw doc
  * counts: a cluster of near-identical documents contributes the
  * information of ~one document, so each document weighs 1/|cluster|
  * (cluster = q21-verified near-dup component via the q134 star
  * contraction; singletons weigh 1). The per-language ledger emits
  * raw docs, clusters, the effective size in micro-docs (Σ 10⁶ div
  * |cluster| — exact integers, no float sum), and the dedup DISCOUNT
  * in basis points — how much of the language's apparent mass is
  * duplication. Downstream this is the denominator q182's waterfill
  * should be fed at a real build (composability, not coincidence:
  * both ledgers key on the same corpus statistics).
  *
  * Scale shape: pairs + star CC as q134/q168; cluster sizing is one
  * rep-keyed aggregate; the weight join ships (doc_id, rep, size)
  * rows; the ledger aggregates map-side on lang. */
object EffectiveSize {

  def effectiveSize(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.plans.Barrier.eager(
      DedupOps.minhashLsh(spark, dir).select(col("d1"), col("d2")))
    val clusters = DedupOps.starComponents(pairs)._1
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"))
    val withRep = docs
      .join(clusters.withColumnRenamed("rep_id", "cl_rep"), Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cl_rep"), col("doc_id")))
    val sizes = withRep.groupBy("rep").agg(count(lit(1)).as("csize"))
    withRep.join(sizes, "rep")
      .withColumn("w_u", expr("1000000 div csize"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(col("w_u")).as("eff_u"))
      .withColumn("discount_bp",
        expr("10000 - (10000 * eff_u) div (1000000 * n_docs)"))
  }

  /** Oracle: the q72/q168 recursive reachability closure over the
    * same verified pairs, then identical integer weighting. */
  val effectiveSizeSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${DedupOps.minhashLshSql}),
       |edges AS MATERIALIZED (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT d1 AS node FROM edges),
       |reach(src, node) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT r.src, e.d2 FROM reach r JOIN edges e ON r.node = e.d1),
       |cl AS (SELECT src AS doc_id, min(node) AS rep_id FROM reach GROUP BY 1),
       |a AS (
       |  SELECT d.doc_id, d.lang, coalesce(cl.rep_id, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
       |sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS csize FROM a GROUP BY 1),
       |w AS (
       |  SELECT a.lang, a.rep, 1000000 // sz.csize AS w_u
       |  FROM a JOIN sz ON sz.rep = a.rep)
       |SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
       |       CAST(sum(w_u) AS BIGINT) AS eff_u,
       |       10000 - (10000 * CAST(sum(w_u) AS BIGINT))
       |         // (1000000 * count(*)) AS discount_bp
       |FROM w GROUP BY 1""".stripMargin
}

package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.plans.Barrier

/** q205: greedy k-center coreset selection (Gonzalez, "Clustering to
  * minimize the maximum intercluster distance", TCS 1985) — the
  * diversity-first data-selection pass a training pipeline runs when it
  * wants a small set that COVERS the embedding space (each new pick is
  * the point farthest from everything picked so far), the 2-approx of
  * the k-center objective and the standard seed for coreset/active-
  * learning selection. Complements the density paths (q80 k-means
  * centroids, q108 SemDeDup): k-center finds the corners k-means
  * averages away.
  *
  * Exactness: components quantize ONCE to integer-valued doubles
  * (`floor(x·10³ + 0.5)` — the q83 RP discipline, shared literal form
  * in both engines), so every squared distance is the integer
  * d² = q·q − 2q·c + c·c with |d²| ≪ 2⁵³ — EXACT in double at any
  * accumulation order, then carried as BIGINT. Selection ties break on
  * (dist DESC, vec_id) in both engines.
  *
  * Scale shape: the classic sequential-but-distributed loop — each of
  * the K rounds is ONE narrow codegen'd pass (dot against a broadcast
  * 64-component literal + `least` with the carried distance) plus a
  * global top-1 (TakeOrderedAndProject — per-partition top-1 then a
  * K-row driver merge) and a max aggregate; the only driver state is
  * the picked center (the bounded-model-artifact pattern, k × Dim
  * values total). Lineage truncates per round exactly like
  * [[VectorOps.lloyd]]. The emitted ledger carries the selection
  * distance AND the post-pick coverage radius per round — the
  * monotone-decreasing curve a data-selection budget is tuned on. */
object CoresetOps {

  /** Centers selected (= rounds of the greedy loop). */
  val KCenters = 8
  /** Component quantum: integer units of 1e-3. */
  val CQ = 1000.0

  private def dot(a: Column, b: Column): Column =
    graft.functions.NativeExprs.dotProduct(a, b)

  def kCenter(spark: SparkSession, dir: String): DataFrame =
    kCenterOf(spark, Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        graft.functions.NativeExprs.quantize(
          col("embedding").cast("array<double>"), CQ).as("q")))

  /** The greedy loop over any (vec_id, q) table of integer-valued
    * quantized components — split out so specs can plant geometries
    * with a hand-computable selection order. */
  def kCenterOf(spark: SparkSession, vecs: DataFrame): DataFrame = {
    import spark.implicits._
    val base = vecs
      .withColumn("qq", dot(col("q"), col("q")).cast("long"))
      .transform(Barrier.eager(_))

    def d2(cvec: Seq[Double]): Column = {
      val cc = cvec.map(x => x * x).sum.toLong
      (col("qq") - lit(2.0) * dot(col("q"), typedLit(cvec)) + lit(cc.toDouble))
        .cast("long")
    }

    val first = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("q")).collect()(0)
    var cvec: Seq[Double] = first.getSeq[Double](1)
    var cur = Barrier.eager(base.withColumn("dist", d2(cvec)), required = true)
    def radius(): Long =
      cur.agg(coalesce(max(col("dist")), lit(0L))).collect()(0).getLong(0)
    val ledger = collection.mutable.ArrayBuffer(
      (1L, first.getLong(0), 0L, radius()))
    (2 to KCenters).foreach { r =>
      val pick = cur.orderBy(desc("dist"), col("vec_id")).limit(1)
        .select(col("vec_id"), col("dist"), col("q")).collect()(0)
      cvec = pick.getSeq[Double](2)
      cur = Barrier.eager(cur.withColumn("dist", least(col("dist"), d2(cvec))),
        required = true)
      ledger += ((r.toLong, pick.getLong(0), pick.getLong(1), radius()))
    }
    ledger.toSeq.toDF("round", "center_id", "sel_dist2", "radius_after")
  }

  /** Oracle: the K rounds unrolled as chained CTEs — same quantized
    * components, same d² identity, same (dist DESC, vec_id) argmax. */
  val kCenterSql: String = {
    def d2(p: String, c: String) =
      s"CAST($p.qq - 2 * list_dot_product($p.q, $c.q) + list_dot_product($c.q, $c.q) AS BIGINT)"
    val rounds = (2 to KCenters).map { r =>
      s"""s$r AS (SELECT vec_id, q, dist FROM d${r - 1}
         |        ORDER BY dist DESC, vec_id LIMIT 1),
         |d$r AS (SELECT d.vec_id, d.q, d.qq,
         |               least(d.dist, ${d2("d", "s")}) AS dist
         |        FROM d${r - 1} d CROSS JOIN s$r s)""".stripMargin
    }.mkString(",\n")
    val rows = (s"SELECT CAST(1 AS BIGINT) AS round, c1.vec_id AS center_id, " +
      s"CAST(0 AS BIGINT) AS sel_dist2, " +
      s"(SELECT CAST(max(dist) AS BIGINT) FROM d1) AS radius_after FROM c1") +:
      (2 to KCenters).map { r =>
        s"SELECT CAST($r AS BIGINT), s$r.vec_id, CAST(s$r.dist AS BIGINT), " +
          s"(SELECT CAST(max(dist) AS BIGINT) FROM d$r) FROM s$r"
      }
    s"""WITH vecs AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> floor(x * $CQ + 0.5)) AS q
       |  FROM embeddings),
       |base AS (SELECT vec_id, q,
       |                CAST(list_dot_product(q, q) AS BIGINT) AS qq FROM vecs),
       |c1 AS (SELECT vec_id, q FROM base ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT b.vec_id, b.q, b.qq, ${d2("b", "c")} AS dist
       |       FROM base b CROSS JOIN c1 c),
       |$rounds
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }
}

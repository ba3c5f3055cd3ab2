package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.plans.Barrier

/** IDF-weighted near-dup detection (q184) — the weighting q21's plain
  * Jaccard lacks: two documents sharing RARE shingles are far more
  * alike than two sharing boilerplate, so the similarity that decides
  * dedup should weight shingles by corpus rarity (the weighted-Jaccard
  * / consistent-sampling literature, Ioffe ICDM'10 — realized here by
  * the integer REPLICATION reduction: replicate shingle h into w(h)
  * distinct variants (h·31+r mod P, r < w), and the UNWEIGHTED Jaccard
  * of the replicated sets IS the weighted Jaccard with weights w —
  * so the entire proven q21 stack (MinHash signatures, band keys,
  * bucket join, exact verify on arrays) applies unchanged on the
  * replicated sets. Weights are integer IDF TIERS (1 + [64·df ≤ N] +
  * [256·df ≤ N] ∈ {1,2,3}) — rare shingles count triple. The
  * thresholds sit where this corpus's df distribution (max df 8 at
  * N = 500) splits into three POPULATED tiers; a saturated tiering
  * (every shingle one weight) silently degenerates to plain Jaccard
  * — observed with looser 4×/16× thresholds, and guarded by the
  * spec's re-scoring pin.
  *
  * Output: candidate pairs from LSH banding over the replicated-set
  * signatures, verified by EXACT weighted Jaccard (basis points) at
  * [[JwCutBp]]; emitted beside it, the UNWEIGHTED Jaccard bp of the
  * same pair, so the re-ranking the weighting causes is visible.
  *
  * Scale shape: one df aggregate (map-side combinable, vocab-sized
  * result joined back h-keyed), replication is a bounded explode
  * (≤3×), then q21's shapes: K-long signatures, 8 band keys per doc,
  * bucket equi-join, array verify on candidates only. The q21
  * collapse/cap hardening applies identically if replicated sets
  * flood (not wired here — the adaptive route needs one family
  * member as its documented exhibit, q21). */
object WeightedMinHash {

  /** Weighted-Jaccard keep threshold, basis points. */
  val JwCutBp = 5000L

  def weightedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val hsets = Barrier.eager(DedupOps.shingleHashes(spark, dir))
    val ex = hsets.select(col("doc_id"), explode(col("hs")).as("h"))
    val nDocs = hsets.agg(count(lit(1)).as("nd"))
    val wts = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", lit(1L)
        + when(col("df") * 64 <= col("nd"), 1L).otherwise(0L)
        + when(col("df") * 256 <= col("nd"), 1L).otherwise(0L))
    val rsets = Barrier.eager(ex.join(wts.select("h", "w"), "h")
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0L), col("w") - 1)).as("r"))
      .withColumn("hr", (col("h") * 31 + col("r")) % P)
      .groupBy("doc_id")
      .agg(array_distinct(collect_list(col("hr"))).as("hs2"))
      .withColumn("n2", size(col("hs2")).cast("long")))
    val sigs = rsets.select(col("doc_id"), col("hs2"), col("n2"),
      minhashSigCol(col("hs2")).as("sig"))
    val bands = sigs.select(col("doc_id"),
        explode(sequence(lit(0), lit(Bands - 1))).as("b"), col("sig"))
      .withColumn("bkey", bandKeyCol(col("sig"), col("b")))
      .select(col("doc_id"), col("b"), col("bkey"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    val r1 = rsets.select(col("doc_id").as("d1"), col("hs2").as("s1"), col("n2").as("m1"))
    val r2 = rsets.select(col("doc_id").as("d2"), col("hs2").as("s2"), col("n2").as("m2"))
    val h1 = hsets.select(col("doc_id").as("d1"), col("hs").as("u1"), col("n").as("k1"))
    val h2 = hsets.select(col("doc_id").as("d2"), col("hs").as("u2"), col("n").as("k2"))
    cand.join(r1, "d1").join(r2, "d2").join(h1, "d1").join(h2, "d2")
      .withColumn("shared_w", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .withColumn("jw_bp", expr("(10000 * shared_w) div (m1 + m2 - shared_w)"))
      .filter(col("jw_bp") >= JwCutBp)
      .withColumn("shared_u", size(array_intersect(col("u1"), col("u2"))).cast("long"))
      .withColumn("ju_bp", expr("(10000 * shared_u) div (k1 + k2 - shared_u)"))
      .select(col("d1"), col("d2"), col("shared_w"), col("jw_bp"), col("ju_bp"))
  }

  val weightedNearDupSql: String =
    s"""WITH ${DedupOps.shingleHashesSql},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM hsets),
       |ex AS (SELECT doc_id, unnest(hs) AS h FROM hsets),
       |wts AS (
       |  SELECT h, 1 + CASE WHEN df * 64 <= nd THEN 1 ELSE 0 END
       |            + CASE WHEN df * 256 <= nd THEN 1 ELSE 0 END AS w
       |  FROM (SELECT h, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY 1)
       |  CROSS JOIN n),
       |rep AS (
       |  SELECT ex.doc_id, (ex.h * 31 + r.r) % $P AS hr
       |  FROM ex JOIN wts ON wts.h = ex.h, UNNEST(range(0, wts.w)) AS r(r)),
       |rs AS (SELECT doc_id, list_distinct(list(hr)) AS hs2 FROM rep GROUP BY 1),
       |rsn AS (SELECT doc_id, hs2, CAST(len(hs2) AS BIGINT) AS n2 FROM rs),
       |sigs AS (SELECT doc_id, hs2, n2, ${minhashSigSql("hs2")} AS sig FROM rsn),
       |bands AS (
       |  SELECT doc_id, b, ${bandKeySql("sig", "b")} AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT d1, d2,
       |         CAST(len(list_intersect(ra.hs2, rb.hs2)) AS BIGINT) AS shared_w,
       |         ra.n2 AS m1, rb.n2 AS m2,
       |         CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS shared_u,
       |         CAST(ha.n AS BIGINT) AS k1, CAST(hb.n AS BIGINT) AS k2
       |  FROM cand
       |  JOIN rsn ra ON ra.doc_id = d1
       |  JOIN rsn rb ON rb.doc_id = d2
       |  JOIN hsets ha ON ha.doc_id = d1
       |  JOIN hsets hb ON hb.doc_id = d2)
       |SELECT d1, d2, shared_w,
       |       (10000 * shared_w) // (m1 + m2 - shared_w) AS jw_bp,
       |       (10000 * shared_u) // (k1 + k2 - shared_u) AS ju_bp
       |FROM v
       |WHERE (10000 * shared_w) // (m1 + m2 - shared_w) >= $JwCutBp""".stripMargin
}

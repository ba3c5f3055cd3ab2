package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextExprs._
import graft.functions.NativeExprs

/** Bloom-filter pre-join pruning for contamination screening (q171) —
  * the join-reduction idiom every 100 TB decontamination run needs:
  * q75 joins EVERY corpus shingle against the eval shingle set; at
  * scale the corpus side of that shuffle dominates even though
  * almost no shingle matches. The Bloom path builds an [[MBits]]-bit
  * filter over the eval shingles ONCE ([[NativeExprs.bloomAgg]] —
  * mergeable bitwise-OR partials, one word-array per partition),
  * broadcasts it as a plain array<long> column, and probes each
  * corpus shingle with [[BloomK]] codegen'd bit tests — only the
  * survivors (true hits + a quantified false-positive trickle) enter
  * the exact verification join. Spark's own runtime row-level
  * filtering injects exactly this shape for equi-joins; here it is
  * explicit, contract-pinned, and ledgered: the output carries
  * `n_candidates` (bloom-passing shingles) BESIDE `n_hit` (exact),
  * so the false-positive mass is observable, and `contam_bp` is
  * bit-equal to q75's definition — pruning provably changed the cost,
  * not the answer.
  *
  * The Bloom filter itself is DETERMINISTIC integer arithmetic
  * (bit j = ((a_j·h + b_j) mod P) mod M over the splitmix-mixed
  * affine family — [[graft.functions.TextExprs.minhashA]] rows 1–4),
  * so the oracle rebuilds the bit SET relationally and re-derives
  * candidate membership exactly: a green hash pins the filter's
  * bits, not just the verified answer.
  *
  * Scale shape: eval side → one aggregate to a [[MBits]]/8-byte
  * blob; corpus side → narrow codegen'd probe (no shuffle); exact
  * join sees candidates only. M sizes at ~13 bits/key for 1% FP at
  * production eval sizes; the fixed gate-SF M here is chosen so the
  * FP path demonstrably fires (the spec pins a planted FP). */
object BloomOps {

  /** Filter size in bits (512 words) and probe count. */
  val MBits = 32768
  val BloomK = 4

  /** Affine probe family: first [[BloomK]] rows of the shared
    * splitmix-mixed coefficients. */
  val As: Seq[Long] = minhashA.take(BloomK)
  val Bs: Seq[Long] = minhashB.take(BloomK)

  /** All-k-bits-set probe over a broadcast word-array column —
    * built-in shiftright/& arithmetic only (whole-stage codegen). */
  private[dedup] def bloomTest(h: Column, bits: Column): Column =
    (0 until BloomK).map { j =>
      val bit = ((lit(As(j)) * h + lit(Bs(j))) % lit(P)) % lit(MBits.toLong)
      val word = element_at(bits, (shiftright(bit, 6) + 1).cast("int"))
      call_function("shiftright", word, (bit % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val hsets = graft.plans.Barrier.eager(DedupOps.shingleHashes(spark, dir))
    val evalH = hsets.filter(col("doc_id") < DedupOps.EvalDocMax)
      .select(explode(col("hs")).as("h")).distinct()
    val bloom = evalH.agg(
      NativeExprs.bloomAgg(col("h"), MBits, As, Bs, P).as("bits"))
    val corpus = hsets.filter(col("doc_id") >= DedupOps.EvalDocMax)
      .select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val probed = corpus.crossJoin(broadcast(bloom))
      .withColumn("cand", bloomTest(col("h"), col("bits")))
    // exact verification join sees ONLY the bloom survivors
    val verified = probed.filter(col("cand"))
      .join(evalH.select(col("h"), lit(1L).as("hit")), Seq("h"), "left")
    val cand = verified.groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    hsets.filter(col("doc_id") >= DedupOps.EvalDocMax)
      .select(col("doc_id"), col("n").cast("long").as("n_shingles"))
      .join(cand, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hit"))
      .withColumn("contam_bp", expr("(10000 * n_hit) div n_shingles"))
  }

  /** Oracle: the bit set and candidate membership rebuilt
    * relationally (k probes per shingle, all-k-present test), exact
    * hits re-joined — pins the filter bit-for-bit. */
  val bloomDecontaminateSql: String = {
    val hf = As.zip(Bs).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    s"""WITH ${DedupOps.shingleHashesSql},
       |hf(j, a, b) AS (SELECT * FROM (VALUES $hf)),
       |ev AS (SELECT DISTINCT unnest(hs) AS h FROM hsets
       |       WHERE doc_id < ${DedupOps.EvalDocMax}),
       |bits AS (SELECT DISTINCT ((a * h + b) % $P) % $MBits AS bit
       |         FROM ev CROSS JOIN hf),
       |cs AS (SELECT doc_id, n, unnest(hs) AS h FROM hsets
       |       WHERE doc_id >= ${DedupOps.EvalDocMax}),
       |cb AS (SELECT doc_id, n, h, j, ((a * h + b) % $P) % $MBits AS bit
       |       FROM cs CROSS JOIN hf),
       |cand AS (
       |  SELECT doc_id, n, h FROM (
       |    SELECT cb.doc_id, cb.n, cb.h, count(DISTINCT cb.j) AS kj
       |    FROM cb JOIN bits ON cb.bit = bits.bit
       |    GROUP BY 1, 2, 3)
       |  WHERE kj = $BloomK),
       |agg AS (
       |  SELECT c.doc_id,
       |         CAST(count(*) AS BIGINT) AS n_candidates,
       |         CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM cand c LEFT JOIN ev ON ev.h = c.h
       |  GROUP BY 1)
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_shingles,
       |       coalesce(a.n_candidates, 0) AS n_candidates,
       |       coalesce(a.n_hit, 0) AS n_hit,
       |       (10000 * coalesce(a.n_hit, 0)) // b.n AS contam_bp
       |FROM (SELECT doc_id, n FROM hsets WHERE doc_id >= ${DedupOps.EvalDocMax}) b
       |LEFT JOIN agg a ON a.doc_id = b.doc_id""".stripMargin
  }
}

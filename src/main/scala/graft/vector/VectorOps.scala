package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.plans.Barrier

/** Embedding similarity operators over the `embeddings` table
  * (vec_id, embedding float[64], label) — the ANN half of the
  * training-data-pipeline surface (builder brief: brute-force cosine
  * top-k baseline + LSH-bucketed scale path, embedding-cosine near-dup).
  *
  * Dot products are `zip_with` + `aggregate` higher-order functions in
  * double precision — pure Column expressions, codegen-friendly, no UDF.
  *
  * Scale design (100 TB):
  *  - near-dup + brute kNN are O(n·m) nested-loop joins; they exist as
  *    the exact baseline and for small query sets m (the query side is
  *    broadcast, so the big side never shuffles).
  *  - the LSH variant buckets by random-hyperplane sign sketch: an
  *    equi-join on the bucket id replaces the nested loop, shuffling
  *    only (bucket, id, vec) pairs; recall/cost is tuned by the number
  *    of hyperplanes (fewer planes → bigger buckets → higher recall).
  */
object VectorOps {

  /** Cosine-similarity floor for [[nearDupPairs]]. */
  val CosineThreshold = 0.4

  /** Query set: vec_id < QueryMax are the kNN probes. */
  val QueryMax = 10
  val K        = 5
  val KLsh     = 3

  /** Random-hyperplane count for the LSH sketch (2^Planes buckets). */
  val Planes = 8
  val Dim    = 64

  /** Deterministic pseudo-random hyperplane weights in [-1000, 1000],
    * from a fixed LCG — the SQL literals are generated from this same
    * sequence. */
  val planeW: Seq[Seq[Double]] =
    (0 until Planes).map { p =>
      (0 until Dim).map { d =>
        (((1103515245L * (p * Dim + d + 1) + 12345L) % 2001L) - 1000L).toDouble
      }
    }

  /** Native codegen dot product (graft.functions.DotProductExpr) — the
    * zip_with+aggregate HOF form runs interpreted and made the
    * brute-force pair scans ~50× slower. */
  private[vector] def dotCol(a: Column, b: Column): Column = dot(a, b)

  private def dot(a: Column, b: Column): Column =
    graft.functions.NativeExprs.dotProduct(a, b)

  /** (vec_id, v: array<double>, nrm) projection of the embeddings. */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    // one small file = one split; spread the O(n·m) pair scans below
    // across all cores (see DedupOps.shingleHashes note)
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  private val vecsSql: String =
    "vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v, " +
      "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)"

  // -------------------------------------------------- cosine near-dup pairs

  /** All vector pairs with cosine similarity ≥ threshold (exact,
    * brute-force — the correctness baseline for the LSH path). */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim", round(
        dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos_sim") >= CosineThreshold)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("cos_sim"))
  }

  val nearDupPairsSql: String =
    s"""WITH $vecsSql
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $CosineThreshold""".stripMargin

  // ------------------------------------------------------- brute-force kNN

  /** Exact cosine top-K neighbors for the query vectors (vec_id <
    * QueryMax): broadcast the tiny query side over the full corpus, rank
    * per query. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = broadcast(e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
  }

  val knnBruteSql: String =
    s"""WITH $vecsSql,
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS cos_sim
       |  FROM vecs q JOIN vecs e ON q.vec_id != e.vec_id
       |  WHERE q.vec_id < $QueryMax)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin

  // -------------------------------------------------------- label centroids

  /** Per-label centroid of the embedding vectors — the distributed
    * vector-aggregation pattern: posexplode to (label, dim, value),
    * partial+final average keyed by (label, dim). Map-side combine
    * reduces the shuffle to |labels|·dim rows per partition regardless
    * of corpus size (the building block for k-means / IVF coarse
    * quantizers). Emitted long-form for the oracle. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.embeddings(spark, dir))
      .select(col("label"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("x")), 6).as("centroid"), count(lit(1)).as("n_vecs"))

  val labelCentroidsSql: String =
    """SELECT label, CAST(dim AS INT) AS dim,
      |       round(avg(x), 6) AS centroid, count(*) AS n_vecs
      |FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
      |             unnest(range(len(embedding))) AS dim
      |      FROM embeddings)
      |GROUP BY 1, 2""".stripMargin

  /** Top outliers per label ([[OutlierK]]). */
  val OutlierK = 5

  /** Label-outlier detection (q183) — the embedding-space label-error
    * screen (the geometric core of Confident Learning / cleanlab):
    * vectors FARTHEST from their own label's centroid are the
    * mislabel candidates a labeling-QA pass reviews first. Centroids
    * are the q31 per-dim aggregates rounded to 6 decimals (the
    * rounding is the cross-engine float contract — both engines then
    * hold the IDENTICAL centroid array), distance² is a fixed-order
    * native dot product over the difference vector (sequential in
    * dim on both engines — no reduction-order ambiguity), and the
    * rank is (dist² desc, vec_id) — fully deterministic.
    *
    * Scale shape: centroids are a label×dim aggregate (map-side
    * combinable) collapsing to |labels| rows → broadcast; the
    * per-vector distance is one codegen'd map; top-k per label is
    * the q08 window over |labels| bounded groups. */
  def labelOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cents = labelCentroids(spark, dir)
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("centroid")))),
        x => x.getField("centroid")).as("cent"))
    val w = Window.partitionBy("label")
      .orderBy(desc("dist2"), col("vec_id"))
    e.join(broadcast(cents), "label")
      .withColumn("diff", zip_with(col("v"), col("cent"), (x, c) => x - c))
      .withColumn("dist2", round(dot(col("diff"), col("diff")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= OutlierK)
      .select(col("label"), col("rank"), col("vec_id"), col("dist2"))
  }

  val labelOutliersSql: String =
    s"""WITH c AS (
       |  SELECT label, dim, round(avg(x), 6) AS cm
       |  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
       |               unnest(range(len(embedding))) AS dim
       |        FROM embeddings)
       |  GROUP BY 1, 2),
       |ca AS (SELECT label, list(cm ORDER BY dim) AS cent FROM c GROUP BY 1),
       |d AS (
       |  SELECT e.label, e.vec_id,
       |         round(list_sum(list_transform(
       |           list_zip(e.embedding::DOUBLE[], ca.cent),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))), 4) AS dist2
       |  FROM embeddings e JOIN ca ON ca.label = e.label)
       |SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, dist2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY label
       |            ORDER BY dist2 DESC, vec_id) AS rank
       |  FROM d)
       |WHERE rank <= $OutlierK""".stripMargin

  // ---------------------------------------------------------------- LSH ANN

  private def bucketCol(v: Column): Column =
    (0 until Planes).map { p =>
      when(dot(v, typedLit(planeW(p))) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  private def bucketSql(v: String): String =
    (0 until Planes).map { p =>
      val w = planeW(p).map(_.toInt).mkString("[", ",", "]")
      s"CASE WHEN list_dot_product($v, $w::DOUBLE[]) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** XOR masks for multi-probe LSH (Lv et al., VLDB'07): every bucket
    * within Hamming distance ≤ 2 of the query's own bucket — 1 + 8 +
    * C(8,2) = 37 probes. A near neighbor that lands one or two sign
    * flips away (the common miss mode: its projection sits near a
    * hyperplane) is recovered without any extra hash tables. */
  val LshProbeMasks: Seq[Int] =
    Seq(0) ++ (0 until Planes).map(1 << _) ++
      (for (i <- 0 until Planes; j <- i + 1 until Planes) yield (1 << i) | (1 << j))

  /** Approximate top-KLsh neighbors via random-hyperplane LSH: bucket =
    * 8 sign bits, candidates = vectors in any probed bucket
    * ([[LshProbeMasks]]: the query's bucket plus all buckets within
    * Hamming distance 2 — multi-probe), exact cosine rank over the
    * candidates. Same probes as [[knnBrute]] (recall vs. the exact
    * result is the quality metric; the bucket equi-join is the scale
    * path — the probe fan-out multiplies only the QUERY side, the
    * corpus side still shuffles/buckets once on its single bucket id). */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).withColumn("bucket", bucketCol(col("v")))
    val q = broadcast(e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(typedLit(LshProbeMasks)).as("mask"), col("bucket").as("qb"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("qb").bitwiseXOR(col("mask")).as("bucket")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(e, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KLsh)
  }

  val annLshSql: String =
    s"""WITH $vecsSql,
       |bucketed AS (SELECT vec_id, v, nrm, ${bucketSql("v")} AS bucket FROM vecs),
       |probes AS (
       |  SELECT vec_id, v, nrm, xor(bucket, m.mask) AS bucket
       |  FROM bucketed, (SELECT unnest(${LshProbeMasks.mkString("[", ",", "]")}) AS mask) m
       |  WHERE vec_id < $QueryMax),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS cos_sim
       |  FROM probes q JOIN bucketed e
       |    ON q.bucket = e.bucket AND q.vec_id != e.vec_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $KLsh""".stripMargin

  // ---------------------------------------------------------------- IVF ANN

  /** Coarse-quantizer cell count and probe width for the IVF index.
    * NProbe=4 of 16 cells: each probe scans ~1/4 of the corpus — the
    * recall/cost point chosen for this corpus's weak neighbor
    * structure (see the recall ladder in PERF.md; on clustered data
    * the planted-corpus spec shows the same operator at ~full recall
    * with the same probe width). */
  val Cells  = 16
  val NProbe = 4

  /** Deterministic pseudo-random cell centroids (same LCG family as
    * [[planeW]], offset so the two sketches are independent). */
  val centW: Seq[Seq[Double]] =
    (0 until Cells).map { c =>
      (0 until Dim).map { d =>
        (((1103515245L * (100000 + c * Dim + d) + 12345L) % 2001L) - 1000L).toDouble
      }
    }

  /** array of dot(v, centroid_c) for c in [0, Cells). */
  private def centDots(v: Column): Column =
    array((0 until Cells).map(c => dot(v, typedLit(centW(c)))): _*)

  private def centDotsSql(v: String): String =
    (0 until Cells).map { c =>
      val w = centW(c).map(_.toInt).mkString("[", ",", "]")
      s"list_dot_product($v, $w::DOUBLE[])"
    }.mkString("[", ",", "]")

  /** Int8-quantized kNN: each vector is scalar-quantized to integers in
    * [-127, 127] with a per-vector scale (q_i = round(v_i·127/max|v|)),
    * and the search ranks by cosine over the QUANTIZED values — the
    * memory-bandwidth trade production vector search makes (4×–8×
    * smaller vectors, approximate scores). All quantized arithmetic is
    * exact integer math carried in doubles, so the oracle hash-matches
    * bit-for-bit; recall is measured against [[knnBrute]]'s exact
    * ranks. */
  def knnInt8(spark: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    val mx = array_max(transform(v, x => abs(x)))
    val e = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // all-zero vectors have no direction: max|v| = 0 would quantize to
      // NaN and poison the cosine ranks — excluded as probe AND corpus
      .filter(mx > 0)
      .withColumn("q", transform(v, x => round(x * lit(127.0) / mx)))
      .withColumn("qn", sqrt(dot(col("q"), col("q"))))
      .select(col("vec_id"), col("q"), col("qn"))
    val probes = broadcast(e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("q").as("pq"), col("qn").as("pn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    probes.join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(
        dot(col("pq"), col("q")) / (col("pn") * col("qn")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KLsh)
  }

  val knnInt8Sql: String =
    s"""WITH $vecsSql,
       |scaled AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM vecs),
       |quant AS (
       |  SELECT vec_id, list_transform(v, x -> round(x * 127.0 / mx)) AS q
       |  FROM scaled WHERE mx > 0),
       |qn AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS qn FROM quant),
       |scored AS (
       |  SELECT p.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(p.q, e.q) / (p.qn * e.qn), 4) AS cos_sim
       |  FROM qn p JOIN qn e ON p.vec_id != e.vec_id
       |  WHERE p.vec_id < $QueryMax)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $KLsh""".stripMargin

  // ---------------------------------------------------------------- PQ ANN

  /** Product-quantization shape: Dim=64 split into M=8 subspaces of 8
    * dims, K=16 centroids per subspace → 8 half-byte codes (4 bytes)
    * per vector, a 128× compression of the 512-byte raw doubles. */
  val PqM      = 8
  val PqSubDim = Dim / PqM
  val PqK      = 16

  /** First seed vec_id for the PQ codebooks: the codebook of subspace m
    * is the m-th subvector of corpus vectors [PqSeedMin, PqSeedMin+PqK)
    * — deterministic sample seeding, the k-means initialization step
    * (random synthetic centroids collapse: their norm spread dominates
    * the ‖c‖² term of the L2 argmin, so every vector coded identically;
    * a real codebook must come from the data). Both engines derive the
    * codebook from the same parquet doubles, so encode/score stay
    * bit-identical. Seeds sit outside the probe range (< QueryMax). */
  val PqSeedMin = 20

  /** Codebooks [m][k][subdim] read from the data (tiny: PqK vectors —
    * the k-means-artifact scale that is always collected/broadcast). */
  private def pqCodebooks(spark: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val seeds = Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= PqSeedMin && col("vec_id") < PqSeedMin + PqK)
      .orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
    (0 until PqM).map { m =>
      seeds.toSeq.map(v => v.slice(m * PqSubDim, (m + 1) * PqSubDim))
    }
  }

  /** ADC shortlist size fed to the exact re-rank stage: 50 of the
    * 500-vector corpus — the 10% scan point on the recall ladder
    * (PERF.md); the shortlist stays a CONSTANT per probe at any
    * corpus size, the re-rank cost does not grow with N. */
  val PqShortlist = 50

  /** Product-quantized kNN — shortlist by asymmetric distance, re-rank
    * exactly, the two-stage shape production ANN engines run:
    *
    * 1. ENCODE: corpus vectors → [[PqM]] one-of-[[PqK]] codes (argmin
    *    L2 to the subspace codebook, computed as argmin ‖c‖² − 2·v_m·c
    *    with the v_m-constant term dropped) — 8 half-byte codes instead
    *    of 512 raw bytes, the memory-bandwidth trade.
    * 2. ADC SHORTLIST: score = Σ_m q_m · centroid[m][code_m] (query
    *    exact, corpus reconstructed via M table lookups); keep the top
    *    [[PqShortlist]] per probe.
    * 3. RE-RANK: exact cosine on the shortlist only. In this plan the
    *    shortlist ids are BROADCAST against a second corpus scan (a
    *    broadcast join: the corpus re-read emits only shortlist matches
    *    and never shuffles); a serving deployment replaces that scan
    *    with point lookups of the ~PqShortlist×probes ids in a vector
    *    store.
    *
    * At 100 TB the ADC scan side carries only (vec_id, codes); the
    * codebooks are a broadcast constant. Probe set matches [[knnBrute]]
    * so recall against the exact ranks is measurable (misses only when
    * the true neighbor falls outside the ADC shortlist). All arithmetic
    * derives from the same parquet doubles on both engines. */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebooks(spark, dir)
    val base = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // zero vectors have no direction: the exact re-rank's cosine would
      // be 0/0 = NaN, which sorts ABOVE every real score — same guard as
      // knnInt8, mirrored in the oracle's base CTE
      .filter(graft.functions.NativeExprs.dotProduct(col("v"), col("v")) > 0)
    def sub(m: Int): Column = slice(col("v"), m * PqSubDim + 1, PqSubDim)
    // encode: per subspace, argmin_k ‖c_k‖² − 2·(v_m·c_k)  (1-based code)
    val coded = base.select(
      col("vec_id") +: (0 until PqM).map { m =>
        val dists = array((0 until PqK).map { k =>
          val c = cb(m)(k)
          val cc = c.map(x => x * x).sum
          lit(cc) - lit(2.0) * dot(sub(m), typedLit(c))
        }: _*)
        array_position(dists, array_min(dists)).as(s"code$m")
      }: _*)
    val probes = broadcast(base.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id") +:
        (0 until PqM).map(m => sub(m).as(s"q$m")): _*))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(desc("adc"), col("neighbor_id"))
    val adc = (0 until PqM).map { m =>
      dot(col(s"q$m"), element_at(typedLit(cb(m)), col(s"code$m").cast("int")))
    }.reduce(_ + _)
    val shortlist = probes.join(coded, col("query_id") =!= col("vec_id"))
      .withColumn("adc", adc)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("srank", row_number().over(wAdc))
      .filter(col("srank") <= PqShortlist)
      .select(col("query_id"), col("neighbor_id"))
    // re-rank the shortlist exactly (full vectors touched for
    // PqShortlist rows per probe only)
    val withV = base.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val qv = withV.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"))
    val nv = withV.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
      col("nrm").as("nn"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    // broadcast the tiny shortlist (≤ probes × PqShortlist rows) so the
    // corpus-side vector fetch is a broadcast join off the scan — no
    // corpus shuffle in the re-rank stage
    nv.join(broadcast(shortlist.join(qv, "query_id")), "neighbor_id")
      .withColumn("cos_sim", round(
        dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= KLsh)
  }

  val knnPqSql: String = {
    def subExpr(v: String, m: Int): String =
      s"$v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]"
    // codebook CTE: one row, cb0..cb3 = list of PqK subvectors each
    val cbCols = (0 until PqM).map { m =>
      s"(SELECT list(${subExpr("v", m)} ORDER BY vec_id) FROM seeds) AS cb$m"
    }.mkString(",\n       ")
    val codes = (0 until PqM).map { m =>
      s"list_position(list_transform(cb$m, " +
        s"c -> list_dot_product(c, c) - 2 * list_dot_product(${subExpr("v", m)}, c)), " +
        s"list_min(list_transform(cb$m, " +
        s"c -> list_dot_product(c, c) - 2 * list_dot_product(${subExpr("v", m)}, c)))) AS code$m"
    }.mkString(",\n       ")
    val adc = (0 until PqM).map { m =>
      s"list_dot_product(${subExpr("q.v", m)}, cb.cb$m[e.code$m])"
    }.mkString(" + ")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |              WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |seeds AS (SELECT vec_id, v FROM base
       |          WHERE vec_id >= $PqSeedMin AND vec_id < ${PqSeedMin + PqK}),
       |cb AS (SELECT
       |       $cbCols),
       |coded AS (
       |  SELECT vec_id,
       |       $codes
       |  FROM base CROSS JOIN cb),
       |adc AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         $adc AS adc
       |  FROM base q CROSS JOIN cb JOIN coded e ON q.vec_id != e.vec_id
       |  WHERE q.vec_id < $QueryMax),
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adc DESC, neighbor_id) AS srank
       |    FROM adc)
       |  WHERE srank <= $PqShortlist),
       |nrms AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
       |exact AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 4) AS cos_sim
       |  FROM shortlist s
       |  JOIN nrms q ON q.vec_id = s.query_id
       |  JOIN nrms n ON n.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM exact)
       |WHERE rank <= $KLsh""".stripMargin
  }

  // ------------------------------------------------------------- k-means fit

  /** k-means shape: [[KmK]] clusters, [[KmIters]] Lloyd iterations,
    * initialized from corpus vectors [KmSeedMin, KmSeedMin+KmK). */
  val KmK       = 8
  val KmIters   = 2
  val KmSeedMin = 40

  /** Distributed k-means fit (Lloyd's algorithm) — the training step
    * behind the IVF coarse quantizer (q35) and the PQ codebooks (q79):
    * each iteration ASSIGNS every vector to its nearest centroid (argmin
    * ‖v−c‖² via the ‖c‖² − 2·v·c form; centroids are a broadcast
    * literal, the scan is embarrassingly parallel) and UPDATES centroids
    * as per-dimension means (posexplode → partial+final avg keyed by
    * (cluster, dim) — q31's map-side-combined pattern, so the shuffle
    * carries k×dim partial sums per partition, never vectors). The
    * k×dim centroid table is collected to the driver between iterations
    * — the k-means driver artifact every distributed implementation
    * (incl. Spark MLlib) round-trips.
    *
    * Cross-engine determinism: centroids are rounded to 6 dp at every
    * iteration boundary, so the 1-ulp summation-order differences
    * between engines collapse before they can flip the next argmin —
    * the quantize-at-iteration-boundaries trick for reproducible
    * iterative fitting. Empty clusters keep their previous centroid on
    * both sides. Output: final centroids long-form + the size of each
    * cluster under the final assignment. */
  /** Nearest-centroid assignment column: 1-based argmin of
    * ‖c‖² − 2·v·c over the (broadcast-literal) centroid list. */
  private def assignCol(c: Seq[Seq[Double]]): Column = {
    val dists = array(c.map { cv =>
      val cc = cv.map(x => x * x).sum
      lit(cc) - lit(2.0) * dot(col("v"), typedLit(cv))
    }: _*)
    array_position(dists, array_min(dists))
  }

  /** Lloyd's loop shared by [[kmeansFit]] and [[annIvfTrained]]:
    * returns (final centroids, the assignment DataFrame of the LAST
    * iteration — i.e. under the pre-update centroids that produced the
    * final means, matching the unrolled oracle's aN CTE). */
  /** [[lloyd]] at the q81 shape — the index-store build seam. */
  private[vector] def lloydFit(base: DataFrame, k: Int)
      : (Seq[Seq[Double]], DataFrame) = lloyd(base, k, KmIters, KmSeedMin)

  private def lloyd(base: DataFrame, k: Int, iters: Int, seedMin: Int)
      : (Seq[Seq[Double]], DataFrame) = {
    var cents: Seq[Seq[Double]] = base
      .filter(col("vec_id") >= seedMin && col("vec_id") < seedMin + k)
      .orderBy("vec_id").select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    var lastAssigned: DataFrame = null
    for (_ <- 1 to iters) {
      val assigned = base.withColumn("cluster", assignCol(cents))
      lastAssigned = assigned
      val means = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim").agg(round(avg("x"), 6).as("m"))
        .collect().groupBy(_.getLong(0))
        .map { case (cl, rows) =>
          cl.toInt -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      cents = (1 to k).map(cl => means.getOrElse(cl, cents(cl - 1)))
    }
    (cents, lastAssigned)
  }

  def kmeansFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (cents, lastAssigned) = lloyd(base, KmK, KmIters, KmSeedMin)
    val centDf = (for { cl <- 1 to KmK; d <- 0 until Dim }
      yield (cl, d, cents(cl - 1)(d))).toDF("cluster", "dim", "centroid")
    val counts = lastAssigned
      .groupBy(col("cluster").cast("int").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
    centDf.join(counts, Seq("cluster"), "left")
      .na.fill(0L, Seq("n_vecs"))
  }

  /** Unrolled Lloyd CTE chain shared by the q80/q81 oracles: seeds →
    * (assignment aN, per-dim means mN, carry-over centroids cN, list
    * lN) × iters. Expects a `base(vec_id, v)` CTE in scope. */
  private def lloydSql(k: Int, iters: Int, seedMin: Int): String = {
    def iteration(n: Int, lPrev: String): String = {
      val dists = s"list_transform((SELECT cs FROM $lPrev), " +
        "c -> list_dot_product(c, c) - 2 * list_dot_product(v, c))"
      s"""a$n AS (
         |  SELECT vec_id, v, list_position($dists, list_min($dists)) AS cluster
         |  FROM base),
         |m$n AS (
         |  SELECT cluster, list(m ORDER BY dim) AS v
         |  FROM (SELECT cluster, CAST(dim AS INT) AS dim, round(avg(x), 6) AS m
         |        FROM (SELECT cluster, unnest(v) AS x,
         |                     unnest(range(len(v))) AS dim FROM a$n)
         |        GROUP BY 1, 2)
         |  GROUP BY cluster),
         |c$n AS (
         |  SELECT r.cl + 1 AS cluster,
         |         coalesce(m$n.v, (SELECT cs FROM $lPrev)[r.cl + 1]) AS v
         |  FROM (SELECT unnest(range($k)) AS cl) r
         |  LEFT JOIN m$n ON m$n.cluster = r.cl + 1),
         |l$n AS (SELECT list(v ORDER BY cluster) AS cs FROM c$n)""".stripMargin
    }
    val chain = (1 to iters).map(n => iteration(n, if (n == 1) "l0" else s"l${n - 1}"))
      .mkString(",\n")
    s"""l0 AS (SELECT list(v ORDER BY vec_id) AS cs FROM base
       |       WHERE vec_id >= $seedMin AND vec_id < ${seedMin + k}),
       |$chain""".stripMargin
  }

  val kmeansFitSql: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${lloydSql(KmK, KmIters, KmSeedMin)},
       |counts AS (SELECT cluster, count(*) AS n FROM a$KmIters GROUP BY 1)
       |SELECT CAST(c.cluster AS INT) AS cluster, d.dim AS dim,
       |       c.v[d.dim + 1] AS centroid,
       |       CAST(coalesce(counts.n, 0) AS BIGINT) AS n_vecs
       |FROM c$KmIters c
       |CROSS JOIN (SELECT CAST(unnest(range($Dim)) AS INT) AS dim) d
       |LEFT JOIN counts ON counts.cluster = c.cluster""".stripMargin

  /** Cell count for the TRAINED IVF index (q81). */
  val IvfTK = 16

  /** Probe depth for the TRAINED IVF (q81) — promoted 4 → 8 (r11
    * verdict ask #1): on this corpus's wide-Gaussian label geometry
    * probe depth at coarse nlist is the recall knob (measured recall@3
    * at 100×: 0.633 at nProbe=4 → 0.867 at nProbe=8, both vs the q24
    * brute ground truth at equal k), so the oracle-pinned production
    * shape now runs the multi-probe regime. q35's fixed-centroid
    * teaching baseline keeps [[NProbe]]=4. */
  val NProbeTrained = 8

  /** IVF over a TRAINED coarse quantizer — the train → index → search
    * composition: centroids come from [[lloyd]] (same 2-iteration fit
    * as q80, k = [[IvfTK]]), every vector is assigned to its nearest
    * centroid by L2 (proper IVF assignment, vs. q35's fixed synthetic
    * centroids), and each probe searches its [[NProbeTrained]] best cells with
    * exact cosine ranking. Same candidate structure as q35 — the cell
    * equi-join is the scale path — but the learned cells follow the
    * data's density, which is what lifts recall at equal probe cost
    * (measured against [[knnBrute]]; see PERF.md). The oracle re-derives
    * the training AND the search from the same parquet doubles. */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame =
    annIvfTrainedAt(spark, dir, IvfTK, NProbeTrained)

  /** [[annIvfTrained]] at an arbitrary (nlist, nProbe) — the
    * production scaling knobs. The gate queries pin (IvfTK, NProbeTrained)
    * for the oracle; the 100× protocol
    * ([[graft.tools.Scale100xFamilies]]) measures both that fixed
    * shape and a probe-deepened one, and the measurement overturned
    * the folk scaling rule on this corpus: growing nlist ~√N at a
    * fixed scan fraction makes recall WORSE (probed-cell membership
    * of the true top-5 in a numpy replication of this exact loop:
    * 0.68 → 0.58 → 0.40 at nlist 16/64/256), because the organic
    * corpus is 10 WIDE unit-sphere Gaussian labels (top-5 neighbor
    * cosine ≈ 0.5 vs background ≈ 0.0) and finer cells fragment each
    * label — the query's nearest centroids stop being its neighbors'
    * centroids. The recall knob on this geometry is PROBE DEPTH at
    * coarse nlist: the engine measures recall@3 0.633 → 0.867 at
    * nProbe 4 → 8 (nlist=16, 200k vectors, vs the brute ground truth
    * truncated to the same k — compare at EQUAL k; an early protocol
    * draft compared top-3 against top-5 and misread the 0.60 ceiling
    * as a recall deficit). The multi-probe regime; cluster-
    * fragmenting data like this is where graph indexes (HNSW) win
    * over any IVF. Centroids stay a bounded driver artifact
    * (nlist × dim doubles). */
  def annIvfTrainedAt(spark: SparkSession, dir: String,
                      nlist: Int, nProbe: Int): DataFrame =
    annIvfTrainedOn(
      Tables.spread(Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      nlist, nProbe)

  /** [[annIvfTrainedAt]] over an arbitrary `(vec_id, v)` corpus — the
    * seam the geometry router (q253) searches through. */
  def annIvfTrainedOn(base: DataFrame, nlist: Int, nProbe: Int): DataFrame = {
    val (cents, _) = lloyd(base, nlist, KmIters, KmSeedMin)
    val dists = array(cents.map { cv =>
      val cc = cv.map(x => x * x).sum
      lit(cc) - lit(2.0) * dot(col("v"), typedLit(cv))
    }: _*)
    val e = base
      .withColumn("d", dists)
      .withColumn("cell", array_position(col("d"), array_min(col("d"))))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .transform(Barrier.eager(_))
    // top-nProbe nearest cells per query (L2 → ascending; narrow
    // array_sort, zero shuffles — see topCells)
    val q = broadcast(e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(topCells(col("d"), nProbe, nlist, ascending = true)).as("cell")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(e.select(col("vec_id"), col("v"), col("nrm"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KLsh)
  }

  val annIvfTrainedSql: String =
    annIvfTrainedSqlOn("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")

  /** The q81 oracle pipeline over an arbitrary base-CTE body — shared
    * with the router oracle (q253), which swaps in capped/derived
    * corpora. */
  def annIvfTrainedSqlOn(baseBody: String): String =
    annIvfTrainedSqlOnAt(baseBody, NProbeTrained)

  /** [[annIvfTrainedSqlOn]] at an explicit probe depth — the router
    * oracle's ivf_cells arm replays the tight-probe pipeline. */
  def annIvfTrainedSqlOnAt(baseBody: String, nProbe: Int): String = {
    val lastL = s"l$KmIters"
    s"""WITH base AS ($baseBody),
       |${lloydSql(IvfTK, KmIters, KmSeedMin)},
       |dots AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |         list_transform((SELECT cs FROM $lastL),
       |           c -> list_dot_product(c, c) - 2 * list_dot_product(v, c)) AS d
       |  FROM base),
       |cells AS (SELECT vec_id, v, nrm, d, list_position(d, list_min(d)) AS cell FROM dots),
       |qd AS (
       |  SELECT vec_id, v, nrm, CAST(j.j AS BIGINT) + 1 AS cell, d[j.j + 1] AS dv
       |  FROM cells, (SELECT unnest(range($IvfTK)) AS j) j
       |  WHERE vec_id < $QueryMax),
       |qr AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY dv, cell) AS prank
       |  FROM qd),
       |qcells AS (SELECT vec_id, v, nrm, cell FROM qr WHERE prank <= $nProbe),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS cos_sim
       |  FROM qcells q JOIN cells e
       |    ON q.cell = e.cell AND q.vec_id != e.vec_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $KLsh""".stripMargin
  }

  /** IVF-style ANN: every vector is assigned to its nearest coarse cell
    * (argmax dot with [[Cells]] fixed centroids — 1-based first-max, a
    * deterministic tie-break both engines share); each query probes its
    * [[NProbe]] best cells and ranks ONLY the vectors in those cells by
    * exact cosine. The candidate step is an equi-join on the cell id —
    * at 100 TB the corpus side shuffles once on `cell` (or is written
    * bucketed by cell) and each query touches NProbe/Cells of the data,
    * the standard inverted-file trade of recall for cost. Same probe
    * set as [[knnBrute]] so recall is measurable against the exact
    * result. */
  /** Top-`n` cell ids (1-based) from a distance/score array `d` of
    * length `cells`, smallest-first when `ascending` (L2 argmin) or
    * largest-first otherwise (dot argmax); ties broken by cell id so
    * the first slot reproduces array_position's first-extreme
    * tie-break. A narrow array_sort over `cells` elements — probe-cell
    * selection costs ZERO shuffles (vs a rank window, which would add
    * an exchange just to pick 4 of 16 slots). */
  private[vector] def topCellsCol(d: Column, n: Int, cells: Int,
      ascending: Boolean): Column = topCells(d, n, cells, ascending)

  private def topCells(d: Column, n: Int, cells: Int, ascending: Boolean): Column = {
    val structs = transform(sequence(lit(1L), lit(cells.toLong)),
      i => struct(element_at(d, i.cast("int")).as("dv"), i.as("cell")))
    val sorted = array_sort(structs, (l, r) => {
      val (ld, rd) = (l.getField("dv"), r.getField("dv"))
      val better = if (ascending) ld < rd else ld > rd
      val worse  = if (ascending) ld > rd else ld < rd
      when(better, -1).when(worse, 1)
        .otherwise(when(l.getField("cell") < r.getField("cell"), -1)
          .when(l.getField("cell") > r.getField("cell"), 1).otherwise(0))
    })
    transform(slice(sorted, 1, n), s => s.getField("cell"))
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
      .withColumn("d", centDots(col("v")))
      .withColumn("cell", array_position(col("d"), array_max(col("d"))))
      .transform(Barrier.eager(_))
    val q = broadcast(e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(topCells(col("d"), NProbe, Cells, ascending = false)).as("cell")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(e.select(col("vec_id"), col("v"), col("nrm"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KLsh)
  }

  val annIvfSql: String =
    s"""WITH $vecsSql,
       |dots AS (SELECT vec_id, v, nrm, ${centDotsSql("v")} AS d FROM vecs),
       |cells AS (SELECT vec_id, v, nrm, d, list_position(d, list_max(d)) AS cell FROM dots),
       |qd AS (
       |  SELECT vec_id, v, nrm, CAST(j.j AS BIGINT) + 1 AS cell, d[j.j + 1] AS dv
       |  FROM cells, (SELECT unnest(range($Cells)) AS j) j
       |  WHERE vec_id < $QueryMax),
       |qr AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY dv DESC, cell) AS prank
       |  FROM qd),
       |qcells AS (SELECT vec_id, v, nrm, cell FROM qr WHERE prank <= $NProbe),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS cos_sim
       |  FROM qcells q JOIN cells e
       |    ON q.cell = e.cell AND q.vec_id != e.vec_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $KLsh""".stripMargin

  // ------------------------------------------------------- graph ANN (NSW)

  /** Out-degree of the kNN neighbor graph (q252). */
  val NswM = 8
  /** Cap on reverse edges admitted per node when symmetrizing — the
    * deterministic analogue of NN-Descent's reverse-neighbor sampling:
    * popular nodes in a kNN graph accumulate unbounded in-degree, and
    * the 2-hop candidate join is Σ deg(v)², so an uncapped hub turns
    * the build quadratic. Capping bounds every round at
    * N·(M+RevCap)² candidate rows. */
  val NswRevCap = 16
  /** Neighbor-graph refinement rounds (NN-Descent iterations) — a CAP
    * since round 13: the build exits early at the first no-op round
    * (fixpoint ⟹ bit-identical to the full unroll; see [[nswBuild]]).
    * Convergence measured on the 200k low-intrinsic-dim corpus
    * (build-contains-true-top3): 0.000 at 3 rounds, 0.567 at 5,
    * 1.000 at 7 — information spreads ≤2 hops per round from the
    * random init, so rounds must cover the init graph's diameter. */
  val NswBuildRounds = 7
  /** Beam width of the search walk. */
  val NswBeam = 16
  /** Beam-search expansion rounds — a CAP since round 13 (the walk
    * exits at the first round that leaves every beam unchanged): must
    * cover the kNN graph's diameter from the fixed entry, which on a
    * d-dim manifold scales ~n^(1/d), not log n (measured at 200k,
    * intrinsic dim 6: recall@3 0.567 at 6 rounds → 1.000 at 12). */
  val NswSearchRounds = 12
  /** Fixed entry node for the beam search: the first non-query vector. */
  val NswEntry: Int = QueryMax

  /** Graph ANN — the retrieval path for cluster-fragmenting geometry
    * where any IVF's recall/probe trade is poor (measured on the
    * organic corpus: trained IVF recall@3 0.633 at nProbe=4; see
    * PERF.md "100x family protocol"). Two phases, both expressed as
    * joins over an edge table so a 1000-executor run shuffles only
    * (src, dst) pairs, never the vector payloads:
    *
    *  1. BUILD — NN-Descent (Dong et al., WWW'11) made deterministic:
    *     start from a pseudo-random M-regular graph (LCG on
    *     (src, slot) mod N — the long-range expander edges), then
    *     [[NswBuildRounds]] rounds of "my neighbors' neighbors are
    *     candidate neighbors": symmetrize with a reverse-degree cap,
    *     self-join for 2-hop candidates, exact-cosine re-rank, keep
    *     top-M per node. Each round is one equi-join + one window —
    *     the standard distributed kNN-graph construction.
    *  2. SEARCH — beam walk from a FIXED entry node: expand the beam
    *     over the union graph (refined kNN edges ∪ the initial random
    *     edges — kNN edges alone fragment into per-cluster islands;
    *     the random edges are what keep the graph navigable, the NSW
    *     insight), exact-score candidates against the query, keep the
    *     top-[[NswBeam]]; [[NswSearchRounds]] rounds, then emit the
    *     beam's top-[[KLsh]]. Queries never use their own adjacency
    *     (the honest out-of-corpus search model).
    *
    * Cross-engine determinism: cosines rounded to 4 dp before every
    * rank, ties broken by neighbor id — the oracle replays the exact
    * build and walk as unrolled CTE rounds. */
  def annGraph(spark: SparkSession, dir: String): DataFrame =
    annGraphAt(spark, dir, NswM, NswBuildRounds, NswBeam, NswSearchRounds)

  /** [[annGraph]] at arbitrary (degree, build rounds, beam width,
    * search rounds) — the production knobs (recall rises with any of
    * them; cost is linear in each). */
  /** The NN-Descent build phase shared by [[annGraphAt]] and the scale
    * probes: (refined kNN edges, initial random edges) over an
    * already-checkpointed `e(vec_id, v, nrm)`. */
  private def nswBuild(e: DataFrame, m: Int, buildRounds: Int)
      : (DataFrame, DataFrame) = {
    val n = e.count() // bounded driver scalar: corpus size for the init hash
    val init = e.select(col("vec_id").as("src"))
      .select(col("src"), explode(sequence(lit(0L), lit((m - 1).toLong))).as("j"))
      .withColumn("dst", pmod(
        lit(1103515245L) * (col("src") * m + col("j")) + lit(12345L), lit(n)))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst").distinct()
      .transform(Barrier.eager(_))
    // post-checkpoint stats are unknown, so the optimizer can't pick a
    // broadcast join on its own; `n` is already on the driver, so gate
    // the hint on actual size — below ~32 MB the scoring joins become
    // broadcast-hash (no wide vector rows ever shuffle; this was 60% of
    // the gate-SF wall), above it the narrow-pair sort-merge shuffle is
    // the plan a 1000-executor run wants anyway
    val hintB: DataFrame => DataFrame =
      if (n * Dim * 8L < (32L << 20)) broadcast(_) else identity
    val es = hintB(e.select(col("vec_id").as("src"), col("v").as("sv"), col("nrm").as("sn")))
    val ed = hintB(e.select(col("vec_id").as("dst"), col("v").as("dv"), col("nrm").as("dn")))
    val wSel = Window.partitionBy("src").orderBy(desc("cos"), col("dst"))
    var edges = init
    var prevEdges: DataFrame = null
    var prevFp: (Long, Long) = null
    var converged = false
    for (_ <- 1 to buildRounds if !converged) {
      val sym = nswSymCapped(edges)
      val twoHop = sym.as("a").join(sym.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val cand = sym.union(twoHop).filter(col("src") =!= col("dst")).distinct()
      prevEdges = edges
      edges = cand.join(es, "src").join(ed, "dst")
        .withColumn("cos", round(
          dot(col("sv"), col("dv")) / (col("sn") * col("dn")), 4))
        .select("src", "dst", "cos")
        .withColumn("rn", row_number().over(wSel)).filter(col("rn") <= m)
        .select("src", "dst")
        // LAZY checkpoint: the fingerprint agg below is the round's
        // one materializing action (an eager checkpoint + separate agg
        // was two jobs per round — pure scheduling overhead at gate SF)
        .transform(Barrier.lazily(_, required = true)) // truncate per-round lineage
      // FIXPOINT EARLY EXIT (the q127 bfsFixpoint pattern, r12 verdict
      // ask #4): each round is a pure deterministic function of the
      // edge SET, so once a round is a no-op every later round is too
      // — stopping here is bit-identical to the full unroll, and the
      // oracle's fixed-round CTE replay stays in lockstep because its
      // post-convergence rounds are the same no-ops. Cheap (count,
      // hash-sum) fingerprint per round; an EXACT set diff confirms
      // before the exit is taken, so a 64-bit collision can never
      // silently truncate the build.
      // hash folded mod 1e9+7 before the sum: a raw xxhash64 sum
      // overflows Long (ANSI mode throws) after a handful of rows
      val fpRow = edges.agg(count(lit(1)),
        sum(pmod(xxhash64(col("src"), col("dst")), lit(1000000007L))))
        .collect().head
      val fp = (fpRow.getLong(0),
        if (fpRow.isNullAt(1)) 0L else fpRow.getLong(1))
      if (prevFp != null && fp == prevFp &&
          edges.exceptAll(prevEdges).isEmpty)
        converged = true
      prevFp = fp
    }
    (edges, init)
  }

  private def nswSymCapped(edges: DataFrame): DataFrame = {
    val wRev = Window.partitionBy("src").orderBy("dst")
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("rn", row_number().over(wRev))
      .filter(col("rn") <= NswRevCap).drop("rn")
    edges.union(rev).distinct()
  }

  /** Dev hook: the rev-capped symmetrization, for structural-invariant
    * protocols over the navigable graph. */
  private[graft] def devSymCapped(edges: DataFrame): DataFrame =
    nswSymCapped(edges)

  /** Dev probe hook: the refined kNN edge table alone. */
  private[graft] def devBuildGraph(spark: SparkSession, dir: String,
                                   m: Int, buildRounds: Int): DataFrame = {
    nswBuild(Barrier.eager(vecs(spark, dir)), m, buildRounds)._1
  }

  /** Size gate below which the whole corpus is a DRIVER ARTIFACT and
    * the build+walk run in the in-memory kernel — the same ~32 MB bar
    * the scoring-join broadcast hint uses (a corpus that fits a
    * broadcast was already being shipped to every executor whole).
    * Production graph-ANN engines are single-node below shard size for
    * exactly this reason: at diagnostic scale the 16-round distributed
    * loop is pure scheduling tax (13.9 s for 2k vectors at sf0.1 —
    * ~6% of the whole bench — with every stage microseconds of real
    * work), while above the gate the per-round equi-join + window plan
    * is what a 1000-executor run wants. Both paths are bit-identical
    * ([[graft.vector]] AnnGraphKernelParitySpec asserts it on the gate
    * corpora) so the oracle and the 100× protocol see ONE operator. */
  val NswKernelMaxBytes: Long = 32L << 20

  def annGraphAt(spark: SparkSession, dir: String, m: Int,
                 buildRounds: Int, beam: Int, searchRounds: Int): DataFrame = {
    annGraphOn(spark, Barrier.eager(vecs(spark, dir)),
      m, buildRounds, beam, searchRounds)
  }

  /** [[annGraphAt]] over an arbitrary prepared `(vec_id, v, nrm)`
    * corpus (checkpointed by the caller) — the seam the geometry
    * router (q253) searches through; dispatches kernel vs distributed
    * on the same [[NswKernelMaxBytes]] gate. The per-row size comes
    * from the corpus's ACTUAL vector width, read off the first row of
    * the same bounded head the count uses (r13 ADVICE #4: a Dim
    * assumption under-estimated wider corpora; and the count is taken
    * once, not per dispatch decision). */
  def annGraphOn(spark: SparkSession, e: DataFrame, m: Int,
                 buildRounds: Int, beam: Int, searchRounds: Int): DataFrame = {
    val n = e.count() // one bounded scalar action on the checkpointed corpus
    val width = e.select(size(col("v"))).head(1)
      .headOption.map(_.getInt(0).toLong).getOrElse(Dim.toLong)
    if (n * width * 8L < NswKernelMaxBytes)
      annGraphKernel(spark, e, m, buildRounds, beam, searchRounds)
    else
      annGraphDistributed(spark, e, m, buildRounds, beam, searchRounds)
  }

  /** The distributed round loop — the ≥ [[NswKernelMaxBytes]] path,
    * also invoked directly by the parity spec at gate SF. */
  private[graft] def annGraphDistributed(spark: SparkSession, e: DataFrame,
      m: Int, buildRounds: Int, beam: Int, searchRounds: Int): DataFrame = {
    val g = Barrier.eager(nswGraph(e, m, buildRounds))
    nswWalk(spark, g, e, beam, searchRounds)
  }

  /** The finished search graph (refined kNN edges + expander init,
    * both rev-cap symmetrized) — the BUILD artifact q257 persists to
    * parquet: at serving scale the graph is built once by an index
    * job and every query batch pays only the walk. */
  private[graft] def nswGraph(e: DataFrame, m: Int, buildRounds: Int): DataFrame = {
    val (edges, init) = nswBuild(e, m, buildRounds)
    nswSymCapped(edges).union(nswSymCapped(init)).distinct()
  }

  /** The beam-search WALK over a prepared (src, dst) graph and
    * (vec_id, v, nrm) corpus — the serving path: bounded beam,
    * broadcast probes, per-round lineage truncation, fixpoint early
    * exit. Split out of [[annGraphDistributed]] so q257 can run it
    * against a PERSISTED graph. */
  private[graft] def nswWalk(spark: SparkSession, g: DataFrame, e: DataFrame,
      beam: Int, searchRounds: Int): DataFrame = {
    val q = broadcast(e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val wBeam = Window.partitionBy("query_id").orderBy(desc("cos"), col("node"))
    var beamDf: DataFrame = q.select(col("query_id"), lit(NswEntry.toLong).as("node"))
    // The beam is BOUNDED (|queries|×beam rows) at any corpus size, so
    // a driver-side set compare per round is a bounded collect — the
    // fixpoint early exit for the walk (same argument as the build:
    // beam unchanged ⟹ next round's candidates identical ⟹ every
    // later round is a no-op; exit ≡ full unroll, oracle in lockstep).
    var prevBeam: Set[(Long, Long)] = null
    var walkDone = false
    for (_ <- 1 to searchRounds if !walkDone) {
      // the beam is bounded (|queries|×beam rows) at ANY corpus size,
      // so broadcasting it is the scale-correct plan: each round scans
      // g / e once with a broadcast probe instead of shuffling them
      // (post-checkpoint stats are unknown, so the optimizer can't see
      // this on its own — without the hints each round paid 3 shuffles
      // and the 19-round walk was overhead-bound at gate SF)
      val expand = broadcast(beamDf.select("query_id", "node"))
        .join(g, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
      val cand = beamDf.select("query_id", "node").union(expand)
        .filter(col("node") =!= col("query_id")).distinct()
      beamDf = broadcast(cand.join(q, Seq("query_id")))
        .join(e.select(col("vec_id").as("node"), col("v"), col("nrm")), Seq("node"))
        .withColumn("cos", round(
          dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
        .select("query_id", "node", "cos")
        .withColumn("rn", row_number().over(wBeam)).filter(col("rn") <= beam)
        .select("query_id", "node", "cos")
        // lazy: the fixpoint collect below materializes the checkpoint
        .transform(Barrier.lazily(_, required = true))
      val cur = beamDf.select("query_id", "node").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      if (prevBeam != null && cur == prevBeam) walkDone = true
      prevBeam = cur
    }
    beamDf
      .withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= KLsh)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("cos").as("cos_sim"), col("rank"))
  }

  /** Half-up round to 4 dp matching Spark's `round(_, 4)` on doubles
    * (Catalyst RoundBase: NaN/±Inf pass through; otherwise HALF_UP on
    * the shortest-decimal string value, the java BigDecimal.valueOf
    * contract scala.math.BigDecimal(Double) delegates to). */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Sort-key view of a double: Spark normalizes -0.0 to 0.0 in sort/
    * partition keys (NormalizeFloatingNumbers); raw value stays in the
    * output. NaN orders LARGEST, as in Spark/DuckDB — callers compare
    * keys with java.lang.Double.compare, which already does that. */
  private def sortKey(x: Double): Double = if (x == 0.0) 0.0 else x

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** In-memory replica of the build+walk for sub-[[NswKernelMaxBytes]]
    * corpora — bit-identical to [[annGraphDistributed]] by mirroring
    * every contract point: the LCG init (dangling dst ids kept in the
    * edge sets, dropped only at scoring, = the inner-join semantics),
    * the rev-cap window (per target, admitted by ascending source id),
    * 4-dp HALF_UP cosine rounding BEFORE every rank, (cos desc, id
    * asc) tie-breaks under Spark's -0.0/NaN ordering, and the fixpoint
    * early exits. AnnGraphKernelParitySpec pins kernel ≡ distributed
    * on the gate corpora. */
  private def annGraphKernel(spark: SparkSession, e: DataFrame, m: Int,
      buildRounds: Int, beam: Int, searchRounds: Int): DataFrame = {
    import scala.collection.mutable
    val collected = e.select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val n = collected.length
    val ids = collected.map(_._1)
    val idxOf: Map[Long, Int] = ids.zipWithIndex.toMap
    def vOf(i: Int) = collected(i)._2
    def nrmOf(i: Int) = collected(i)._3
    // cosine ordering: (key desc, id asc); key = normalized cos
    def better(c1: Double, i1: Long, c2: Double, i2: Long): Boolean = {
      val cmp = java.lang.Double.compare(sortKey(c1), sortKey(c2))
      if (cmp != 0) cmp > 0 else i1 < i2
    }
    def topBy(cands: Iterable[(Long, Double)], k: Int): Seq[(Long, Double)] =
      cands.toSeq.sortWith { case ((d1, c1), (d2, c2)) =>
        better(c1, d1, c2, d2) }.take(k)
    def cosIdx(i: Int, j: Int): Double =
      round4(dotArr(vOf(i), vOf(j)) / (nrmOf(i) * nrmOf(j)))

    // ---- init: pseudo-random m-regular expander edges (dangling kept)
    val init = mutable.LinkedHashSet.empty[(Long, Long)]
    for (si <- 0 until n; j <- 0 until m) {
      val src = ids(si)
      val dst = java.lang.Math.floorMod(
        1103515245L * (src * m + j) + 12345L, n.toLong)
      if (dst != src) init += ((src, dst))
    }
    def symCapped(edges: scala.collection.Set[(Long, Long)]): Set[(Long, Long)] = {
      val byTarget = edges.groupBy(_._2)
      val rev = byTarget.iterator.flatMap { case (tgt, es) =>
        es.toSeq.map(_._1).sorted.take(NswRevCap).map(s => (tgt, s))
      }
      (edges.iterator ++ rev).toSet
    }
    // ---- NN-Descent rounds with fixpoint early exit. Per-source work
    // (candidate set = out(s) ∪ out(out(s)), score, top-M) is
    // independent across sources, so each round fans out over a
    // parallel stream — the kernel saturates the host's cores the way
    // the distributed loop saturates executors (single-threaded, the
    // 20k-vector corpus paid 39 s; parallel it is executor-comparable).
    // Determinism: the union of per-source results is order-free.
    var edges: Set[(Long, Long)] = init.toSet
    var converged = false
    for (_ <- 1 to buildRounds if !converged) {
      val sym = symCapped(edges)
      val out = sym.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toArray }
      val srcs = out.keys.toArray
      val perSrc = new Array[Array[(Long, Long)]](srcs.length)
      java.util.stream.IntStream.range(0, srcs.length).parallel().forEach { i =>
        val s = srcs(i)
        perSrc(i) = idxOf.get(s) match {
          case None => Array.empty
          case Some(si) =>
            val ds = mutable.HashSet.empty[Long]
            out(s).foreach { x =>
              if (x != s) ds += x
              out.get(x).foreach(_.foreach(c => if (c != s) ds += c))
            }
            val scored = ds.iterator.flatMap(d =>
              idxOf.get(d).map(di => (d, cosIdx(si, di)))).toSeq
            topBy(scored, m).map { case (d, _) => (s, d) }.toArray
        }
      }
      val next = perSrc.iterator.flatMap(_.iterator).toSet
      if (next == edges) converged = true
      edges = next
    }
    // ---- beam walk over refined ∪ init edges, per-query fixpoint
    val g = symCapped(edges) ++ symCapped(init.toSet)
    val gOut = g.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val queries = ids.filter(_ < QueryMax)
    val results = mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
    queries.foreach { qid =>
      val qi = idxOf(qid)
      var beamSet: Seq[(Long, Double)] = Seq((NswEntry.toLong, Double.NaN))
      var scoredOnce = false
      var done = false
      for (_ <- 1 to searchRounds if !done) {
        val candNodes = mutable.HashSet.empty[Long]
        beamSet.foreach { case (node, _) =>
          candNodes += node
          gOut.get(node).foreach(candNodes ++= _)
        }
        candNodes -= qid
        val scored = candNodes.iterator
          .flatMap(d => idxOf.get(d).map(di => (d, cosIdx(qi, di)))).toSeq
        val next = topBy(scored, beam)
        if (scoredOnce && next.map(_._1).toSet == beamSet.map(_._1).toSet)
          done = true
        beamSet = next
        scoredOnce = true
      }
      topBy(beamSet, KLsh).zipWithIndex.foreach { case ((node, cos), r) =>
        results += ((qid, node, cos, r + 1))
      }
    }
    import spark.implicits._
    results.toSeq.toDF("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Unrolled CTE replay of [[annGraphAt]] for the DuckDB oracle.
    * Every per-round result is `AS MATERIALIZED`: DuckDB inlines plain
    * CTEs at each reference, and the round structure references its
    * predecessor ~6× — un-materialized, round r would inline round 0's
    * subtree 6^r times (the first draft exhausted the file-handle
    * limit re-opening the parquet scan thousands of times). */
  private def annGraphSqlAt(m: Int, buildRounds: Int, beam: Int,
                            searchRounds: Int,
                            vecsCte: String = vecsSql): String = {
    // capped symmetrization: forward edges ∪ reverse edges ranked per
    // target (window columns bind to the INPUT columns, so PARTITION BY
    // dst / ORDER BY src rank the reversed edge by its new src/dst)
    def symCapped(tag: String, src: String): String =
      s"""$tag AS MATERIALIZED (
         |  SELECT src, dst FROM $src
         |  UNION
         |  SELECT src, dst FROM (
         |    SELECT dst AS src, src AS dst,
         |           row_number() OVER (PARTITION BY dst ORDER BY src) AS rn
         |    FROM $src) WHERE rn <= $NswRevCap)""".stripMargin
    val build = (1 to buildRounds).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s"""${symCapped(s"sym$r", prev)},
         |cand$r AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM sym$r
         |    UNION ALL
         |    SELECT a.src, b.dst FROM sym$r a JOIN sym$r b ON a.dst = b.src)
         |  WHERE src != dst),
         |sc$r AS (
         |  SELECT c.src, c.dst,
         |         round(list_dot_product(s.v, d.v) / (s.nrm * d.nrm), 4) AS cos
         |  FROM cand$r c JOIN vecs s ON c.src = s.vec_id
         |                JOIN vecs d ON c.dst = d.vec_id),
         |e$r AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |                                 ORDER BY cos DESC, dst) AS rn
         |    FROM sc$r) WHERE rn <= $m)""".stripMargin
    }.mkString(",\n")
    val search = (1 to searchRounds).map { s =>
      val prev = if (s == 1) "b0" else s"b${s - 1}"
      s"""cs$s AS (
         |  SELECT DISTINCT query_id, node FROM (
         |    SELECT query_id, node FROM $prev
         |    UNION ALL
         |    SELECT b.query_id, g.dst AS node FROM $prev b JOIN g ON b.node = g.src)
         |  WHERE node != query_id),
         |bs$s AS (
         |  SELECT c.query_id, c.node,
         |         round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos
         |  FROM cs$s c JOIN qv q ON c.query_id = q.query_id
         |              JOIN vecs e ON c.node = e.vec_id),
         |b$s AS MATERIALIZED (
         |  SELECT query_id, node, cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cos DESC, node) AS rn
         |    FROM bs$s) WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $vecsCte,
       |n AS (SELECT count(*) AS c FROM vecs),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT v.vec_id AS src,
       |           (1103515245 * (v.vec_id * $m + j.j) + 12345) % (SELECT c FROM n) AS dst
       |    FROM vecs v, (SELECT unnest(range($m)) AS j) j)
       |  WHERE dst != src),
       |$build,
       |${symCapped("symf", s"e$buildRounds")},
       |${symCapped("symi", "e0")},
       |g AS MATERIALIZED (SELECT src, dst FROM symf UNION SELECT src, dst FROM symi),
       |qv AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vecs
       |       WHERE vec_id < $QueryMax),
       |b0 AS (SELECT query_id, CAST($NswEntry AS BIGINT) AS node FROM qv),
       |$search
       |SELECT query_id, node AS neighbor_id, cos AS cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, node) AS rank
       |  FROM b$searchRounds)
       |WHERE rank <= $KLsh""".stripMargin
  }

  val annGraphSql: String =
    annGraphSqlAt(NswM, NswBuildRounds, NswBeam, NswSearchRounds)

  // ------------------------------------------- geometry-routed ANN (q253)

  /** Row cap of the router's two diagnostic corpora: the router GATE
    * is a pinned, scale-invariant diagnostic (its oracle replays two
    * full index pipelines — a cap keeps that constant at any SF); the
    * full-scale routing evidence is the 100× families protocol, where
    * the same probe runs over the 200k corpora and must select IVF on
    * organic and graph on lowdim, each already recall-gated ≥ 0.85. */
  val RouterCap = 2000
  /** Latent dimension of the derived low-intrinsic-dim corpus. */
  val RouterLat = 4
  /** Sample size of the geometry probe. */
  val RouterSampleN = 64
  /** Route threshold on the 2NN squared-distance-ratio median
    * (Facco et al., "Estimating the intrinsic dimension of datasets by
    * a minimal neighborhood information", Sci. Rep. 2017: μ = r₂/r₁ is
    * Pareto(d) under Poisson sampling AT ANY DENSITY, so median μ² =
    * 2^(2/d) — a sample-size-invariant dimension probe, which is what
    * makes 64 points enough). 2^(2/10) ≈ 1.1487 routes intrinsic
    * dimension < 10 to the graph index (the published convergence
    * condition for NN-Descent/graph search is low intrinsic dim) and
    * everything flatter to trained IVF. Measured medians: organic
    * corpus 1.046 at EVERY SF from 500 to 200k vectors; 6-latent
    * Gaussian manifold 1.448; the derived 4-latent corpus 1.603 —
    * wide margins both sides. */
  val RouterMu2Threshold = 1.1487

  /** Second routing axis (round 14, r13 verdict ask #8): the CLUSTERED
    * regime — tight orthogonal clusters — has a flat 2NN ratio like
    * the organic corpus (both in-cluster neighbors sit at similar
    * distance, μ² ≈ 1), but its nearest-neighbor COSINE is high in
    * absolute terms where isotropic noise is low: the probe's c₁
    * median (integer cos·10⁴ units) separates them. Measured medians
    * at the probe's 64-point sample: organic 2925–2943 across every
    * SF, derived clustered 9004, planted 200k clusters 9005 (μ² there
    * 1.086–1.100, safely under the dimension threshold), lowdim
    * 8576–9430 (but routed to graph by μ² FIRST — order matters: a
    * manifold corpus also has high c₁, so the c₁ test only fires on
    * the flat side of the μ² split) — threshold 6000 sits ≥ 3000 cu
    * from both deciding sides. Routing:
    * μ² ≥ [[RouterMu2Threshold]] → graph; else c₁ ≥ this → trained
    * IVF with TIGHT probes ([[NProbeTight]] — cells align with the
    * clusters, so deep probing buys nothing); else → trained IVF at
    * [[NProbeTrained]] (the multi-probe regime flat geometry needs). */
  val RouterC1Threshold = 6000L

  /** Probe depth for the clustered route: trained cells track the
    * planted clusters, so 2 cells cover a query's cluster even when
    * Lloyd splits it. */
  val NProbeTight = 2

  /** Fixed 64×[[RouterLat]] integer mixing matrix (same LCG family as
    * [[planeW]]/[[centW]], offset 200000) — the SQL literals embed the
    * same values. */
  private lazy val routerA: Seq[Seq[Long]] =
    (0 until Dim).map(d => (0 until RouterLat).map(k =>
      ((1103515245L * (200000 + d * RouterLat + k) + 12345L) % 2001L) - 1000L))

  private lazy val routerASqlLit: String =
    routerA.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Latent coordinate z_k(id): a QUADRATIC congruential generator —
    * t = (4·id+77+k)·131071 mod 999983, z = (t² mod 999983 + t) mod
    * 2001 − 1000. The quadratic term is what makes the latents spread:
    * any affine LCG leaves the z vectors on a wrapped lattice LINE
    * (consecutive points near-collinear, cosines rounding to 1.0 —
    * observed), the same degeneracy class AudioMatch's QuadPrimes fix
    * addresses. All intermediates ≤ 1e12 — exact integer math in
    * ANSI-mode longs on both engines. */
  private def routerZ(k: Int): Column = {
    val t = ((col("vec_id") * RouterLat + lit((77 + k).toLong)) * lit(131071L)) % lit(999983L)
    ((t * t) % lit(999983L) + t) % lit(2001L) - lit(1000L)
  }

  private def routerZSql(k: Int): String = {
    val t = s"((vec_id*$RouterLat + ${77 + k}) * 131071) % 999983"
    s"(($t) * ($t) % 999983 + ($t)) % 2001 - 1000"
  }

  /** The derived low-intrinsic-dim diagnostic corpus: v = A·z over the
    * capped id range — 64-dim vectors on an exact 4-dim linear
    * manifold, all integer-valued doubles (cross-engine exact). */
  private def routerLowBase(spark: SparkSession, dir: String): DataFrame = {
    val zb = Tables.spread(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < RouterCap)
      .select(col("vec_id") +: (0 until RouterLat).map(k => routerZ(k).as(s"z$k")): _*)
    zb.select(col("vec_id"), array((0 until Dim).map { d =>
      (0 until RouterLat).map(k => lit(routerA(d)(k)) * col(s"z$k"))
        .reduce(_ + _).cast("double")
    }: _*).as("v"))
  }

  private def routerLowBaseSql: String = {
    val zs = (0 until RouterLat).map(k => s"${routerZSql(k)} AS z$k").mkString(",\n         ")
    val vd = (0 until RouterLat).map(k => s"r[${k + 1}]*z$k").mkString(" + ")
    s"""SELECT vec_id, list_transform($routerASqlLit, r -> ($vd)::DOUBLE) AS v
       |  FROM (SELECT vec_id,
       |         $zs
       |        FROM embeddings WHERE vec_id < $RouterCap)""".stripMargin
  }

  /** The derived CLUSTERED diagnostic corpus (third router geometry,
    * round 14): 10 planted near-orthogonal clusters over the capped id
    * range — cluster c = id mod 10, v[d] = center(c,d) ± noise(id,d)
    * with center = ±125 and noise ∈ [−80, 80], both from the same
    * quadratic congruential hash family as [[routerZ]] (all
    * intermediates < 10¹², exact integer-valued doubles on both
    * engines). Within-cluster cosine ≈ 0.88, cross ≈ 0.1 — the
    * geometry where trained cells track clusters and tight probes
    * suffice. */
  private def qcgCol(e: Column): Column = {
    val t = (e * lit(131071L)) % lit(999983L)
    (t * t) % lit(999983L) + t
  }
  private def qcgSql(e: String): String = {
    val t = s"((($e) * 131071) % 999983)"
    s"($t * $t % 999983 + $t)"
  }

  private def routerClusterBase(spark: SparkSession, dir: String): DataFrame = {
    val c = col("vec_id") % 10
    Tables.spread(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < RouterCap)
      .select(col("vec_id"), array((0 until Dim).map { d =>
        val center = when(qcgCol(c * Dim + lit((d + 991).toLong)) % 2 === 0,
          lit(125L)).otherwise(lit(-125L))
        val noise = qcgCol(col("vec_id") * Dim + lit((d + 17).toLong)) % 161 - 80
        (center + noise).cast("double")
      }: _*).as("v"))
  }

  private def routerClusterBaseSql: String = {
    val center = s"(CASE WHEN ${qcgSql(s"(vec_id % 10) * $Dim + d + 991")} % 2 = 0 " +
      "THEN 125 ELSE -125 END)"
    val noise = s"(${qcgSql(s"vec_id * $Dim + d + 17")} % 161 - 80)"
    s"""SELECT vec_id, list_transform(range(0, $Dim),
       |         d -> ($center + $noise)::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id < $RouterCap""".stripMargin
  }

  /** The geometry probe: 2NN intrinsic-dimension statistic over a
    * fixed [[RouterSampleN]]-point sample (ids ≥ QueryMax so probes
    * stay out of it). Every quantity is in the engine's exact-contract
    * form: cosines become integers via round(cos·10⁴, 0) (rounding the
    * SCALED value — `round(x,4)·10⁴` would re-float the boundary),
    * μ² = (10⁴−c₂)/(10⁴−c₁) is a division of exact integer-valued
    * doubles, and the medians are the explicit lower median (1-based
    * rank (n+1)/2). Exact-dup sample points (c₁ = 10⁴) drop out.
    * Returns (μ²-median, c₁-median in cos·10⁴ units, route) — the
    * second statistic is free (same pair block) and separates the
    * clustered regime from flat isotropy (see [[RouterC1Threshold]]).
    * Cost at ANY corpus size: one pushed-down id-range scan + a 64×64
    * pair block. */
  def geometryProbeOn(base: DataFrame): (Double, Long, String) = {
    val s = base
      .filter(col("vec_id") >= QueryMax && col("vec_id") < QueryMax + RouterSampleN)
      .withColumn("vv", dot(col("v"), col("v"))).filter(col("vv") > 0)
      .withColumn("nrm", sqrt(col("vv")))
    val a = s.select(col("vec_id").as("i"), col("v").as("av"), col("nrm").as("an"))
    val b = s.select(col("vec_id").as("j"), col("v").as("bv"), col("nrm").as("bn"))
    val w = Window.partitionBy("i").orderBy(desc("cu"), col("j"))
    val ranked = a.join(broadcast(b), col("i") =!= col("j"))
      .withColumn("cu", round(
        dot(col("av"), col("bv")) / (col("an") * col("bn")) * 10000, 0).cast("long"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val rows = ranked.groupBy("i")
      .agg(max(when(col("rn") === 1, col("cu"))).as("c1"),
        max(when(col("rn") === 2, col("cu"))).as("c2"))
      .filter(col("c1") < 10000 && col("c2").isNotNull)
      .select(((lit(10000.0) - col("c2")) / (lit(10000.0) - col("c1"))).as("m2"),
        col("c1"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    val mus = rows.map(_._1).sorted
    val c1s = rows.map(_._2).sorted
    val med = if (mus.isEmpty) 0.0 else mus((mus.length - 1) / 2)
    val c1Med = if (c1s.isEmpty) 0L else c1s((c1s.length - 1) / 2)
    val route =
      if (med >= RouterMu2Threshold) "graph"
      else if (c1Med >= RouterC1Threshold) "ivf_cells"
      else "ivf"
    (med, c1Med, route)
  }

  /** Probe SQL over a `<base>` CTE: ends in one row
    * (mu2_med, c1_med, route). */
  private def geometryProbeSql(baseCte: String): String =
    s"""SELECT coalesce(mu2_med, 0.0) AS mu2_med,
       |       CAST(coalesce(c1_med, 0) AS BIGINT) AS c1_med,
       |       CASE WHEN coalesce(mu2_med, 0.0) >= $RouterMu2Threshold
       |            THEN 'graph'
       |            WHEN coalesce(c1_med, 0) >= $RouterC1Threshold
       |            THEN 'ivf_cells'
       |            ELSE 'ivf' END AS route
       |FROM (
       |  SELECT max(CASE WHEN mrn = (mn + 1) // 2 THEN m2 END) AS mu2_med,
       |         max(CASE WHEN crn = (mn + 1) // 2 THEN c1 END) AS c1_med
       |  FROM (
       |    SELECT m2, c1, row_number() OVER (ORDER BY m2) AS mrn,
       |           row_number() OVER (ORDER BY c1) AS crn,
       |           count(*) OVER () AS mn
       |    FROM (
       |      SELECT (10000.0 - c2) / (10000.0 - c1) AS m2, c1 FROM (
       |        SELECT i, max(CASE WHEN rn = 1 THEN cu END) AS c1,
       |               max(CASE WHEN rn = 2 THEN cu END) AS c2
       |        FROM (
       |          SELECT i, cu, row_number() OVER (PARTITION BY i
       |                   ORDER BY cu DESC, j) AS rn
       |          FROM (
       |            SELECT a.vec_id AS i, b.vec_id AS j,
       |                   CAST(round(list_dot_product(a.v, b.v)
       |                        / (a.nrm * b.nrm) * 10000, 0) AS BIGINT) AS cu
       |            FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |                  FROM $baseCte
       |                  WHERE vec_id >= $QueryMax
       |                    AND vec_id < ${QueryMax + RouterSampleN}
       |                    AND list_dot_product(v, v) > 0) a
       |            JOIN (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |                  FROM $baseCte
       |                  WHERE vec_id >= $QueryMax
       |                    AND vec_id < ${QueryMax + RouterSampleN}
       |                    AND list_dot_product(v, v) > 0) b
       |              ON a.vec_id != b.vec_id))
       |        GROUP BY i)
       |      WHERE c1 < 10000 AND c2 IS NOT NULL)))""".stripMargin

  /** q253: the geometry-routed ANN front door. Round 12 measured the
    * decision no single index can make — trained IVF wins on the
    * near-isotropic organic geometry (0.867 recall at 100×) and the
    * graph index wins on low intrinsic dimension (1.000), each scoring
    * ~0 on the other's corpus (PERF.md three-geometry table) — so the
    * front door PROBES the corpus and routes: [[geometryProbeOn]]'s
    * 2NN dimension statistic selects q81's trained IVF (flat geometry)
    * or q252's graph index (manifold geometry). The query runs the
    * router over BOTH diagnostic corpora — the capped organic
    * embeddings and the derived 4-latent manifold on the same ids —
    * and emits the probe value, the route taken, and the ROUTED
    * search's full output; the oracle recomputes the probe, the route,
    * and both index pipelines per corpus, gating each branch on the
    * route — so a routing disagreement or a search divergence is a
    * hash mismatch. Spark executes ONLY the selected pipeline (the
    * router's point); the oracle pays both, which the [[RouterCap]]
    * keeps constant at any SF. Full-scale evidence: the 100× families
    * protocol runs the same probe over the 200k corpora and gates
    * route(organic)=ivf ∧ route(lowdim)=graph. */
  def annRouter(spark: SparkSession, dir: String): DataFrame = {
    def routed(corpus: String, base: DataFrame): DataFrame = {
      val (mu2, c1Med, route) = geometryProbeOn(base)
      val hits = route match {
        case "ivf"       => annIvfTrainedOn(base, IvfTK, NProbeTrained)
        case "ivf_cells" => annIvfTrainedOn(base, IvfTK, NProbeTight)
        case _ =>
          val e = base.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
          annGraphOn(spark, e, NswM, NswBuildRounds, NswBeam, NswSearchRounds)
      }
      hits.select(lit(corpus).as("corpus"), lit(mu2).as("mu2_med"),
        lit(c1Med).as("c1_med"), lit(route).as("route"), col("query_id"),
        col("neighbor_id"), col("cos_sim"), col("rank"))
    }
    // r15: the three per-corpus pipelines (checkpoint → probe collect →
    // routed search, each a chain of small driver-gated jobs) are
    // mutually independent — overlap them (guide §2.6). The router was
    // the bench's worst anti-scaler (8-vs-32-core ratio 0.44: pure
    // serial probe/route phases); concurrency attacks the serial wall
    // without touching the probe or either index pipeline.
    val branches = graft.plans.Par.all(Seq(
      () => routed("organic", Tables.spread(Tables.embeddings(spark, dir))
        .filter(col("vec_id") < RouterCap)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .transform(Barrier.eager(_, required = true))),
      () => routed("lowdim", Barrier.eager(routerLowBase(spark, dir), required = true)),
      () => routed("clustered", Barrier.eager(routerClusterBase(spark, dir), required = true))))
    branches(0).unionAll(branches(1)).unionAll(branches(2))
  }

  val annRouterSql: String = {
    def branch(corpus: String, baseCte: String, probeCte: String): String = {
      val ivf = annIvfTrainedSqlOn(s"SELECT vec_id, v FROM $baseCte")
      val ivfCells = annIvfTrainedSqlOnAt(
        s"SELECT vec_id, v FROM $baseCte", NProbeTight)
      val graph = annGraphSqlAt(NswM, NswBuildRounds, NswBeam, NswSearchRounds,
        s"vecs AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM $baseCte)")
      s"""SELECT '$corpus' AS corpus, p.mu2_med, p.c1_med, p.route,
         |       r.query_id, r.neighbor_id, r.cos_sim, r.rank
         |FROM ($ivf) r, $probeCte p WHERE p.route = 'ivf'
         |UNION ALL
         |SELECT '$corpus', p.mu2_med, p.c1_med, p.route,
         |       r.query_id, r.neighbor_id, r.cos_sim, r.rank
         |FROM ($ivfCells) r, $probeCte p WHERE p.route = 'ivf_cells'
         |UNION ALL
         |SELECT '$corpus', p.mu2_med, p.c1_med, p.route,
         |       r.query_id, r.neighbor_id, r.cos_sim, r.rank
         |FROM ($graph) r, $probeCte p WHERE p.route = 'graph'""".stripMargin
    }
    s"""WITH orgbase AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id < $RouterCap),
       |lowbase AS MATERIALIZED (
       |$routerLowBaseSql),
       |clubase AS MATERIALIZED (
       |$routerClusterBaseSql),
       |porg AS MATERIALIZED (${geometryProbeSql("orgbase")}),
       |plow AS MATERIALIZED (${geometryProbeSql("lowbase")}),
       |pclu AS MATERIALIZED (${geometryProbeSql("clubase")})
       |${branch("organic", "orgbase", "porg")}
       |UNION ALL
       |${branch("lowdim", "lowbase", "plow")}
       |UNION ALL
       |${branch("clustered", "clubase", "pclu")}""".stripMargin
  }

  // -------------------------------------------------- JL random projection

  /** Output dimensionality of the random projection (q83/q84).
    * Measured trade-off on this corpus (recall ladder in PERF.md /
    * VectorRecallSpec): RpK=16 → 0.27 recall@3 at a 20-row shortlist,
    * RpK=32 → 0.43; with the 50-row shortlist RpK=32 reaches 0.67
    * isotropic / 1.00 planted-cluster. */
  val RpK = 32

  /** Deterministic ±1 entry of the RpK×Dim sign matrix. The hash squares
    * a mixed index before taking a mid bit: a separable pattern (e.g.
    * parity of d+j, which is what any LSB-of-linear-combination scheme
    * degenerates to) would make the rows linearly dependent and collapse
    * the projection. */
  private def rpSign(j: Int, d: Int): Double = {
    val h = (d * 131 + j + 1).toLong
    if (((h * h * 2654435761L) >> 13) % 2 == 0) 1.0 else -1.0
  }

  /** The sign matrix rows; the oracle SQL embeds these same literals
    * (the IVF/PQ-codebook pattern — constants generated once, shared by
    * both engines). */
  private lazy val rpMatrix: Seq[Seq[Double]] =
    (0 until RpK).map(j => (0 until Dim).map(d => rpSign(j, d)))

  /** Component quantum for the INTEGER projection path: components are
    * quantized once to 1e-4 units (`floor(x·1e4 + 0.5)` — a single-op
    * chain on the same parquet double, bit-identical across engines),
    * and every projection is then a ±1-signed sum of small integers —
    * EXACT in double regardless of summation order (|Σ| ≪ 2⁵³), so no
    * engine's SIMD/accumulation order can move a value across a
    * rounding boundary. The round-9 10× protocol caught exactly that:
    * one of 1.6M projected values straddled the 4-dp HALF_UP boundary
    * between Spark's and DuckDB's dot-sum ulps (got −0.0001, want
    * −0.0) — the same silent-at-gate-scale failure class as the
    * round-7 MinHash coefficient bug. */
  val RpQ = 10000.0

  /** `floor(x·RpQ + 0.5)` per component: exact small-integer-valued
    * doubles, the deterministic base of the whole RP family
    * (codegen'd native expression — an interpreted HOF here would be
    * CollapseProject-inlined into all RpK projection dots). */
  private def quantCol(v: Column): Column =
    graft.functions.NativeExprs.quantize(v, RpQ)

  /** Johnson–Lindenstrauss random projection: Dim→RpK with a dense ±1
    * matrix. The compressive step ahead of any ANN index — at 100 TB
    * it is a narrow map (RpK dot products per row against
    * broadcast-literal rows), shrinking every downstream shuffle/index
    * by Dim/RpK while approximately preserving pairwise geometry.
    * Output is long-form (vec_id, rp_dim, value_u, value): `value_u`
    * is the exact integer signed sum in [[RpQ]] component units;
    * `value` the JL-scaled double (value_u / RpQ / √RpK — two
    * divisions of the same exact integer, bit-deterministic without
    * any rounding). The oracle hash covers every coordinate. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("a", quantCol(col("v")))
    val proj = array(rpMatrix.map(r =>
      dot(col("a"), typedLit(r)).cast("long")): _*)
    base.select(col("vec_id"), posexplode(proj).as(Seq("rp_dim", "value_u")))
      .withColumn("value",
        col("value_u") / lit(RpQ) / lit(math.sqrt(RpK)))
  }

  private lazy val rpMatSqlLit: String =
    rpMatrix.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  val randomProjectionSql: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |au AS (SELECT vec_id,
       |              list_transform(v, x -> floor(x * $RpQ + 0.5)) AS a
       |       FROM base),
       |mat AS (SELECT $rpMatSqlLit AS m)
       |SELECT vec_id, CAST(d.j AS INT) AS rp_dim,
       |       CAST(list_dot_product(a, (SELECT m FROM mat)[d.j + 1]) AS BIGINT) AS value_u,
       |       CAST(list_dot_product(a, (SELECT m FROM mat)[d.j + 1]) AS BIGINT)
       |         / $RpQ / sqrt(${RpK}.0) AS value
       |FROM au CROSS JOIN (SELECT unnest(range($RpK)) AS j) d""".stripMargin

  /** Shortlist size for the RP-ANN two-stage search (q84) — same 10%
    * scan point as PQ (recall ladder in PERF.md). */
  val RpShortlist = 50

  /** The projection column: RpK EXACT integer coordinates (±1-signed
    * sums of [[RpQ]]-quantized components — see [[randomProjection]]'s
    * determinism note; scaling by 1/√RpK is cosmetic for a shortlist
    * ranking and dropped here). */
  private def rpProjCol: Column = {
    val a = quantCol(col("v"))
    array(rpMatrix.map(r => dot(a, typedLit(r))): _*)
  }

  /** ANN via random projection — the sketch-compression member of the
    * family (vs q25 LSH buckets, q35/q81 IVF cells, q79 PQ codes):
    * shortlist candidates by similarity in the 16-dim projected space
    * (the scan side carries RpK doubles instead of Dim — Dim/RpK less
    * data and fewer multiplies per pair), then re-rank the top
    * [[RpShortlist]] exactly in the original space. Two-stage
    * shortlist+re-rank is the production shape; recall vs cost is set
    * by RpK and the shortlist size (measured in TrainingOpsSpec /
    * PERF.md). Rounded projections make the cross-engine shortlist
    * deterministic (ties broken by neighbor_id on both sides). */
  def knnRp(spark: SparkSession, dir: String): DataFrame = {
    val projected = vecs(spark, dir).withColumn("p", rpProjCol)
    val q = broadcast(projected.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("p").as("qp")))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(desc("rp_sim"), col("neighbor_id"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(projected.select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm"), col("p")),
        col("query_id") =!= col("neighbor_id"))
      // exact integer product-sum of the quantized projections
      // (|terms| bounded far inside 2^53 — order-independent)
      .withColumn("rp_sim", dot(col("qp"), col("p")).cast("long"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= RpShortlist)
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= KLsh)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  val knnRpSql: String =
    s"""WITH $vecsSql,
       |mat AS (SELECT $rpMatSqlLit AS m),
       |proj AS (
       |  SELECT vec_id, v, nrm,
       |         list_transform((SELECT m FROM mat),
       |           r -> list_dot_product(list_transform(v, x -> floor(x * $RpQ + 0.5)), r)) AS p
       |  FROM vecs),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         q.v AS qv, q.nrm AS qn, e.v AS ev, e.nrm AS en,
       |         CAST(list_dot_product(q.p, e.p) AS BIGINT) AS rp_sim
       |  FROM proj q JOIN proj e
       |    ON q.vec_id < $QueryMax AND q.vec_id != e.vec_id),
       |short AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY rp_sim DESC, neighbor_id) AS srank
       |  FROM pairs),
       |rer AS (
       |  SELECT query_id, neighbor_id,
       |         round(list_dot_product(qv, ev) / (qn * en), 4) AS cos_sim
       |  FROM short WHERE srank <= $RpShortlist)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rer)
       |WHERE rank <= $KLsh""".stripMargin

  // ------------------------------------------------ MAP retrieval eval

  /** Depth of both the relevant set and the scored ranking. */
  val KMap = 10
  /** LCM(1..10): P@i denominators clear exactly. */
  val APScale = 2520L

  /** q207: exact mean-average-precision eval of a sketch ranking —
    * the retrieval-quality LEDGER beside the recall floors the spec
    * suite pins: ground truth is the exact cosine top-[[KMap]] per
    * probe, the system under test is the RAW random-projection
    * ordering (q84's integer rp_sim WITHOUT its exact re-rank — the
    * honest sketch, so the score is informative), and the metric is
    * AP@10, chosen over nDCG because its precision terms are RATIONAL:
    * AP·R·[[APScale]] = Σᵢ hitᵢ·hits@i·(2520/i) is an exact integer
    * (2520 = lcm 1..10), so the eval is bit-identical across engines —
    * no logarithmic discount, no float accumulation. Emitted per
    * probe: relevant-found count, the integer AP numerator, and AP in
    * ppm; the corpus MAP is the spec-side mean.
    *
    * Scale shape: one broadcast probe join (the q24 brute pass — the
    * ground-truth cost any retrieval eval pays), two bounded top-k
    * windows per probe, one cumulative-sum window over ≤ [[KMap]]
    * rows per probe. */
  def mapEval(spark: SparkSession, dir: String): DataFrame = {
    val projected = vecs(spark, dir).withColumn("p", rpProjCol)
    val q = broadcast(projected.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("p").as("qp")))
    val pairs = q.join(projected.select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm"), col("p")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .withColumn("rp_sim", dot(col("qp"), col("p")).cast("long"))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rp_sim"))
    val rel = pairs.withColumn("rrank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cos_sim"), col("neighbor_id"))))
      .filter(col("rrank") <= KMap)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("is_rel"))
    val ret = pairs.withColumn("i", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("rp_sim"), col("neighbor_id"))).cast("long"))
      .filter(col("i") <= KMap)
      .select(col("query_id"), col("neighbor_id"), col("i"))
    ret.join(rel, Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("is_rel"), lit(0L)))
      .withColumn("hits_at", sum(col("hit")).over(
        Window.partitionBy(col("query_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("query_id"))
      .agg(sum(col("hit")).as("n_rel_found"),
        sum(col("hit") * col("hits_at") * expr(s"$APScale div i")).as("ap_u"))
      .withColumn("ap_ppm",
        expr(s"(ap_u * 1000000) div ${APScale * KMap}"))
  }

  val mapEvalSql: String =
    s"""WITH $vecsSql,
       |mat AS (SELECT $rpMatSqlLit AS m),
       |proj AS (
       |  SELECT vec_id, v, nrm,
       |         list_transform((SELECT m FROM mat),
       |           r -> list_dot_product(list_transform(v, x -> floor(x * $RpQ + 0.5)), r)) AS p
       |  FROM vecs),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS cos_sim,
       |         CAST(list_dot_product(q.p, e.p) AS BIGINT) AS rp_sim
       |  FROM proj q JOIN proj e
       |    ON q.vec_id < $QueryMax AND q.vec_id != e.vec_id),
       |rel AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS rr
       |  FROM pairs) WHERE rr <= $KMap),
       |ret AS (SELECT query_id, neighbor_id, CAST(i AS BIGINT) AS i FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY rp_sim DESC, neighbor_id) AS i
       |  FROM pairs) WHERE i <= $KMap),
       |sc AS (
       |  SELECT r.query_id, r.i,
       |         CASE WHEN rel.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM ret r LEFT JOIN rel ON rel.query_id = r.query_id
       |                          AND rel.neighbor_id = r.neighbor_id),
       |c AS (SELECT query_id, i, hit,
       |             sum(hit) OVER (PARTITION BY query_id ORDER BY i
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits_at
       |      FROM sc)
       |SELECT query_id,
       |       CAST(sum(hit) AS BIGINT) AS n_rel_found,
       |       CAST(sum(hit * hits_at * ($APScale // i)) AS BIGINT) AS ap_u,
       |       CAST(sum(hit * hits_at * ($APScale // i)) * 1000000
       |            // ${APScale * KMap} AS BIGINT) AS ap_ppm
       |FROM c GROUP BY 1""".stripMargin

  // -------------------------------------------- Matryoshka prefix-dim kNN

  /** Leading dims used as the truncated (Matryoshka) representation. */
  val MrlDim = 16
  /** Shortlist width the truncated scoring pass keeps per probe —
    * same 10% scan point as PQ/RP (recall ladder in PERF.md). */
  val MrlShortlist = 50

  /** Matryoshka-style two-stage kNN (q136): score every candidate on
    * the LEADING [[MrlDim]] of [[Dim]] dimensions — the
    * representation-learning convention where a prefix of the
    * embedding is itself a usable lower-dim embedding — keep the top
    * [[MrlShortlist]], then re-rank the shortlist with exact
    * full-dimension cosine. Same two-stage shortlist+re-rank shape as
    * q84 (random projection), but the reduction is a FREE slice: no
    * projection matrix, no extra storage, and at 100 TB the first pass
    * streams 4× fewer bytes per candidate than the full vectors.
    * Deterministic: round(…,4) + neighbor-id tie-break at both stages;
    * zero-prefix vectors are excluded on BOTH engines (defensive — the
    * corpus has none). */
  def knnMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val t = vecs(spark, dir)
      .withColumn("tv", slice(col("v"), 1, MrlDim))
      .withColumn("tn", sqrt(dot(col("tv"), col("tv"))))
      .filter(col("tn") > 0)
    val q = broadcast(t.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("tv").as("qtv"), col("tn").as("qtn")))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(desc("trunc_sim"), col("neighbor_id"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(t.select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm"), col("tv"), col("tn")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("trunc_sim", round(
        dot(col("qtv"), col("tv")) / (col("qtn") * col("tn")), 4))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= MrlShortlist)
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= KLsh)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** RRF constants: the canonical k=60 damping (Cormack et al.,
    * SIGIR'09), list depth, fused output size. */
  val RrfDamp = 60L
  val RrfDepth = 20
  val RrfOut = 5

  /** Reciprocal-rank fusion (q190) — the hybrid-retrieval standard:
    * two rankers over the same queries (here the full-dimension exact
    * cosine ranking and the Matryoshka PREFIX-dimension ranking — a
    * cheap ranker and an expensive one, the classic fusion pair)
    * combine by RRF(d) = Σ_lists 1/(k + rank_list(d)), which needs no
    * score calibration between lists — only ranks. Scores are integer
    * micro-units (10⁶ div (k + rank)); absent-from-list contributes
    * zero; `in_both` marks consensus neighbors. Fused rank breaks
    * ties by neighbor id.
    *
    * Scale shape: both rankings come from ONE broadcast-query pass
    * over the corpus (two sims per pair, two windows); the fusion is
    * a (query, neighbor)-keyed full-outer join of two ≤depth lists
    * per query — list-sized, not corpus-sized. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val t = vecs(spark, dir)
      .withColumn("tv", slice(col("v"), 1, MrlDim))
      .withColumn("tn", sqrt(dot(col("tv"), col("tv"))))
      .filter(col("tn") > 0)
    val q = broadcast(t.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("tv").as("qtv"), col("tn").as("qtn")))
    val scored = q.join(t.select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm"), col("tv"), col("tn")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("full_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .withColumn("tr_sim", round(
        dot(col("qtv"), col("tv")) / (col("qtn") * col("tn")), 4))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(desc("full_sim"), col("neighbor_id"))
    val wT = Window.partitionBy(col("query_id"))
      .orderBy(desc("tr_sim"), col("neighbor_id"))
    val lf = scored.withColumn("r_full", row_number().over(wF))
      .filter(col("r_full") <= RrfDepth)
      .select(col("query_id"), col("neighbor_id"), col("r_full"))
    val lt = scored.withColumn("r_tr", row_number().over(wT))
      .filter(col("r_tr") <= RrfDepth)
      .select(col("query_id"), col("neighbor_id"), col("r_tr"))
    val fused = lf.join(lt, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_u",
        coalesce(expr(s"1000000 div ($RrfDamp + r_full)"), lit(0L))
          + coalesce(expr(s"1000000 div ($RrfDamp + r_tr)"), lit(0L)))
      .withColumn("in_both",
        when(col("r_full").isNotNull && col("r_tr").isNotNull, 1L)
          .otherwise(0L))
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(desc("rrf_u"), col("neighbor_id"))
    fused.withColumn("fused_rank", row_number().over(wR).cast("long"))
      .filter(col("fused_rank") <= RrfOut)
      .select(col("query_id"), col("fused_rank"), col("neighbor_id"),
        col("rrf_u"), col("in_both"))
  }

  val rrfFusionSql: String =
    s"""WITH $vecsSql,
       |t AS (
       |  SELECT vec_id, v, nrm, v[1:$MrlDim] AS tv,
       |         sqrt(list_dot_product(v[1:$MrlDim], v[1:$MrlDim])) AS tn
       |  FROM vecs
       |  WHERE sqrt(list_dot_product(v[1:$MrlDim], v[1:$MrlDim])) > 0),
       |sc AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS full_sim,
       |         round(list_dot_product(q.tv, e.tv) / (q.tn * e.tn), 4) AS tr_sim
       |  FROM t q JOIN t e ON q.vec_id != e.vec_id
       |  WHERE q.vec_id < $QueryMax),
       |lf AS (
       |  SELECT query_id, neighbor_id, r_full FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY full_sim DESC, neighbor_id) AS r_full
       |    FROM sc) WHERE r_full <= $RrfDepth),
       |lt AS (
       |  SELECT query_id, neighbor_id, r_tr FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY tr_sim DESC, neighbor_id) AS r_tr
       |    FROM sc) WHERE r_tr <= $RrfDepth),
       |f AS (
       |  SELECT coalesce(lf.query_id, lt.query_id) AS query_id,
       |         coalesce(lf.neighbor_id, lt.neighbor_id) AS neighbor_id,
       |         coalesce(1000000 // ($RrfDamp + r_full), 0)
       |           + coalesce(1000000 // ($RrfDamp + r_tr), 0) AS rrf_u,
       |         CASE WHEN r_full IS NOT NULL AND r_tr IS NOT NULL
       |              THEN 1 ELSE 0 END AS in_both
       |  FROM lf FULL OUTER JOIN lt
       |    ON lf.query_id = lt.query_id AND lf.neighbor_id = lt.neighbor_id)
       |SELECT query_id, CAST(fused_rank AS BIGINT) AS fused_rank,
       |       neighbor_id, CAST(rrf_u AS BIGINT) AS rrf_u,
       |       CAST(in_both AS BIGINT) AS in_both
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY rrf_u DESC, neighbor_id) AS fused_rank
       |  FROM f)
       |WHERE fused_rank <= $RrfOut""".stripMargin

  val knnMatryoshkaSql: String =
    s"""WITH $vecsSql,
       |trunc AS (
       |  SELECT vec_id, v, nrm, v[1:$MrlDim] AS tv,
       |         sqrt(list_dot_product(v[1:$MrlDim], v[1:$MrlDim])) AS tn
       |  FROM vecs
       |  WHERE sqrt(list_dot_product(v[1:$MrlDim], v[1:$MrlDim])) > 0),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         q.v AS qv, q.nrm AS qn, e.v AS ev, e.nrm AS en,
       |         round(list_dot_product(q.tv, e.tv) / (q.tn * e.tn), 4) AS trunc_sim
       |  FROM trunc q JOIN trunc e
       |    ON q.vec_id < $QueryMax AND q.vec_id != e.vec_id),
       |short AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY trunc_sim DESC, neighbor_id) AS srank
       |  FROM pairs),
       |rer AS (
       |  SELECT query_id, neighbor_id,
       |         round(list_dot_product(qv, ev) / (qn * en), 4) AS cos_sim
       |  FROM short WHERE srank <= $MrlShortlist)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rer)
       |WHERE rank <= $KLsh""".stripMargin

  // --------------------------------------------------------------- SemDeDup

  /** Cosine floor for a within-cluster semantic duplicate (SemDeDup). */
  val SemThreshold = 0.4

  /** SemDeDup-style embedding-cluster dedup (Abbas et al. 2023 shape):
    * k-means clusters bound the pair space, cosine near-dups are found
    * only WITHIN a cluster, and each similarity group keeps its
    * smallest-id member. Catches semantic duplicates (paraphrases,
    * re-encodings) that shingle/simhash similarity cannot see.
    *
    * Composition of existing verified pieces: [[lloyd]]'s centroids
    * (q80's exact fit), nearest-centroid assignment under the FINAL
    * centroids, q23's rounded-cosine pair predicate, and q105's
    * keep-election — here keep-first by id within the similarity
    * neighborhood: a vector is `drop` iff a smaller-id vector in its
    * cluster is ≥ [[SemThreshold]]-similar, and `dup_of` is the
    * smallest such neighbor.
    *
    * Scale shape: the k×dim centroid table is a driver-side literal
    * (broadcast), assignment is a narrow map, and the only pair work is
    * the per-cluster self-join — the pair space k-means exists to
    * bound; at 100 TB k grows with the corpus so clusters stay
    * task-sized (the paper's regime), and a runaway cluster is exactly
    * the [[graft.dedup.DedupOps.cappedPairJoin]] case. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (cents, _) = lloyd(base, KmK, KmIters, KmSeedMin)
    val assigned = base
      .withColumn("cluster", assignCol(cents).cast("int"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = assigned.select(col("cluster"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos_sim", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .filter(col("cos_sim") >= SemThreshold)
    val best = pairs
      .groupBy(col("id2").as("vec_id"))
      .agg(min(col("id1")).as("dup_of"))
    val simOf = pairs.select(col("id1").as("dup_of"), col("id2").as("vec_id"), col("cos_sim"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(best, Seq("vec_id"), "left")
      .join(simOf, Seq("vec_id", "dup_of"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNotNull, "drop").otherwise("keep").as("verdict"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("cos_sim"), lit(0.0)).as("cos_sim"))
  }

  val semDedupSql: String = {
    val dists = s"list_transform((SELECT cs FROM l$KmIters), " +
      "c -> list_dot_product(c, c) - 2 * list_dot_product(v, c))"
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${lloydSql(KmK, KmIters, KmSeedMin)},
       |assigned AS (
       |  SELECT vec_id, v, CAST(list_position($dists, list_min($dists)) AS INT) AS cluster,
       |         sqrt(list_dot_product(v, v)) AS nrm
       |  FROM base),
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS id1, b.vec_id AS id2,
       |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $SemThreshold),
       |best AS (SELECT id2 AS vec_id, min(id1) AS dup_of FROM pairs GROUP BY 1)
       |SELECT s.vec_id, s.cluster,
       |       CASE WHEN best.dup_of IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
       |       coalesce(best.dup_of, -1) AS dup_of,
       |       coalesce(p.cos_sim, 0.0) AS cos_sim
       |FROM assigned s
       |LEFT JOIN best ON best.vec_id = s.vec_id
       |LEFT JOIN pairs p ON p.id2 = s.vec_id AND p.id1 = best.dup_of""".stripMargin
  }

  // ------------------------------------------- power-iteration spectrum

  /** Power-iteration geometry — cross-engine contract. The direction
    * lives in the leading [[PiDim]] coordinates (the Matryoshka prefix
    * of q136, keeping the 2nd-moment matrix PiDim² = 256 cells);
    * components quantize to [[PiQ]] units so every Gram cell is an
    * exact integer; the iterate is held at L∞ scale [[PiS]]. */
  val PiDim = 16
  val PiQ = 100.0
  val PiS = 1000000L
  val PiRounds = 6

  /** q211: dominant spectral direction of the corpus embedding
    * second-moment matrix by power iteration — the training primitive
    * behind PCA whitening / spectral data selection (the direction a
    * curation stage inspects for "is one axis eating the variance",
    * cf. Mu & Viswanath, "All-but-the-top", ICLR'18). Six synchronous
    * rounds of w ← G·w with an exact integer renormalization to L∞
    * scale [[PiS]] after each round; the returned `lambda_u` is the
    * Rayleigh quotient wᵀGw/wᵀw in 10⁻⁶ units — converged ⟺ it
    * stabilizes round-over-round (spec-pinned).
    *
    * Integer-exactness: components quantize ONCE to [[PiQ]] units
    * (the q83 lesson — every downstream sum is then exact at any
    * accumulation order); G accumulates in DECIMAL(38,0)/HUGEINT.
    * Renormalization has NO negative division anywhere: both engines
    * divide a NONNEGATIVE dividend by the positive max-abs m via the
    * shift identity w' = ((u + m)·S) div m − S. (Spark `div` and
    * DuckDB `//` both truncate toward zero, so they already agree on
    * negatives — the shift makes the quotient rounding-mode-PROOF,
    * defending the contract against any engine that floors, e.g.
    * Python's `//`.) The Rayleigh numerator is nonnegative because G
    * is PSD.
    *
    * Scale shape: ONE narrow codegen'd pass builds all 256 Gram cells
    * as map-side-combined sums (no self-join, no fanout shuffle); the
    * 6 rounds run over the 256-row cell table — broadcast-trivial at
    * ANY corpus size, the model-artifact pattern of q80's Lloyd. */
  def powerIteration(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        slice(graft.functions.NativeExprs.quantize(
          col("embedding").cast("array<double>"), PiQ), 1, PiDim).as("a"))
      // materialize so CollapseProject cannot inline the quantize
      // chain into all 256 Gram-cell aggregates (the q83/RpK note)
      .transform(Barrier.eager(_))
    val cells = for (i <- 0 until PiDim; j <- 0 until PiDim) yield
      sum(expr(s"cast(element_at(a, ${i + 1}) as decimal(38,0))" +
        s" * cast(element_at(a, ${j + 1}) as decimal(38,0))")).as(s"g_${i}_${j}")
    val grow = a.agg(cells.head, cells.tail: _*)
    val stackArgs = (for (i <- 0 until PiDim; j <- 0 until PiDim)
      yield s"$i, $j, g_${i}_${j}").mkString(", ")
    val g = grow.select(expr(
        s"stack(${PiDim * PiDim}, $stackArgs) as (i, j, g)"))
      .transform(Barrier.eager(_))
    import spark.implicits._
    val w0 = (0 until PiDim).map(j => (j, BigDecimal(PiS)))
      .toDF("j", "w").select(col("j"), col("w").cast("decimal(38,0)").as("w"))
    // each round's u is materialized: m and the renormalized w' BOTH
    // read it, and without truncation every reference re-derives the
    // whole preceding round chain — the plan doubles per round
    // (16-row checkpoints, negligible)
    val wFin = (1 to PiRounds).foldLeft(w0) { (w, _) =>
      // LAZY checkpoint (r15): the truncation still caps the plan at
      // one round, but the per-round materializing job is gone — the
      // renorm's 1-row max broadcast computes (and persists) the
      // 16-row table instead, halving the loop's job barriers
      val u = g.join(w, g("j") === w("j"))
        .groupBy(g("i").as("i"))
        .agg(sum(expr("g * w")).as("u"))
        .transform(Barrier.lazily(_, required = true))
      val m = u.agg(greatest(max(abs(col("u"))),
        lit(1).cast("decimal(38,0)")).as("m"))
      u.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          expr(s"((u + m) * $PiS) div m - $PiS").cast("decimal(38,0)").as("w"))
    }.transform(Barrier.eager(_))
    val lamNum = g.join(wFin.select(col("j").as("i"), col("w").as("wi")), "i")
      .join(wFin.select(col("j"), col("w").as("wj")), "j")
      .agg(sum(expr("g * wi * wj")).as("num"))
    val lamDen = wFin.agg(sum(expr("w * w")).as("den"))
    wFin.crossJoin(broadcast(lamNum)).crossJoin(broadcast(lamDen))
      .select(col("j").cast("int").as("pi_dim"),
        col("w").cast("long").as("w"),
        expr("cast((num * 1000000) div den as bigint)").as("lambda_u"))
  }

  val powerIterationSql: String = {
    val rounds = (1 to PiRounds).map { r =>
      s"""u$r AS (SELECT g.i, sum(g.g * w.w) AS u
         |        FROM g JOIN w${r - 1} w ON g.j = w.j GROUP BY 1),
         |m$r AS (SELECT greatest(max(abs(u)), 1) AS m FROM u$r),
         |w$r AS (SELECT u.i AS j, ((u.u + m.m) * $PiS) // m.m - $PiS AS w
         |        FROM u$r u, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH a AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[],
       |                        x -> CAST(floor(x * $PiQ + 0.5) AS HUGEINT))[1:$PiDim] AS a
       |  FROM embeddings),
       |g AS MATERIALIZED (
       |  SELECT i.i, j.j, sum(a.a[i.i + 1] * a.a[j.j + 1]) AS g
       |  FROM a, range($PiDim) i(i), range($PiDim) j(j) GROUP BY 1, 2),
       |w0 AS (SELECT j, CAST($PiS AS HUGEINT) AS w FROM range($PiDim) t(j)),
       |$rounds,
       |num AS (SELECT sum(g.g * wi.w * wj.w) AS num
       |        FROM g JOIN w$PiRounds wi ON g.i = wi.j
       |        JOIN w$PiRounds wj ON g.j = wj.j),
       |den AS (SELECT sum(w * w) AS den FROM w$PiRounds)
       |SELECT CAST(f.j AS INT) AS pi_dim, CAST(f.w AS BIGINT) AS w,
       |       CAST((num.num * 1000000) // den.den AS BIGINT) AS lambda_u
       |FROM w$PiRounds f, num, den""".stripMargin
  }

  // ------------------------------------------- Kendall rank concordance

  /** q227: exact Kendall-τ concordance between the exact-cosine
    * ranking and the raw RP-sketch ranking, per probe — the ORDERING
    * complement to q207's set-based AP@10 (AP only sees which items
    * made the cut; τ sees whether the sketch preserves their relative
    * order, which is what a shortlist re-ranker consumes). The item
    * set is the exact top-[[KMap]]; both rank keys are total orders
    * (desc score, then neighbor_id), so no tie correction is needed
    * and τ = (C − D)/C(K,2) is exact. The ppm division shifts the
    * dividend nonnegative first (C − D + n ≥ 0) so Spark's trunc-`div`
    * and DuckDB's floor-`//` cannot diverge.
    *
    * Scale shape: the pair enumeration is C(KMap,2) = 45 rows per
    * probe — bounded by the eval depth, never by corpus size; the
    * corpus-sized work is the same broadcast ground-truth pass q207
    * already pays. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val projected = vecs(spark, dir).withColumn("p", rpProjCol)
    val q = broadcast(projected.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("p").as("qp")))
    val pairs = q.join(projected.select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm"), col("p")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .withColumn("rp_sim", dot(col("qp"), col("p")).cast("long"))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rp_sim"))
    val top = pairs.withColumn("r_e", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cos_sim"), col("neighbor_id"))).cast("long"))
      .filter(col("r_e") <= KMap)
      .withColumn("r_s", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("rp_sim"), col("neighbor_id"))).cast("long"))
      .select(col("query_id"), col("r_e"), col("r_s"))
    val a = top.select(col("query_id"), col("r_e").as("e1"), col("r_s").as("s1"))
    val b = top.select(col("query_id"), col("r_e").as("e2"), col("r_s").as("s2"))
    a.join(b, Seq("query_id")).filter(col("e1") < col("e2"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("s1") < col("s2"), 1L).otherwise(0L)).as("concordant"))
      .withColumn("discordant", col("n_pairs") - col("concordant"))
      .withColumn("tau_ppm", expr(
        "((concordant - discordant + n_pairs) * 1000000) div n_pairs - 1000000"))
  }

  val kendallTauSql: String =
    s"""WITH $vecsSql,
       |mat AS (SELECT $rpMatSqlLit AS m),
       |proj AS (
       |  SELECT vec_id, v, nrm,
       |         list_transform((SELECT m FROM mat),
       |           r -> list_dot_product(list_transform(v, x -> floor(x * $RpQ + 0.5)), r)) AS p
       |  FROM vecs),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 4) AS cos_sim,
       |         CAST(list_dot_product(q.p, e.p) AS BIGINT) AS rp_sim
       |  FROM proj q JOIN proj e
       |    ON q.vec_id < $QueryMax AND q.vec_id != e.vec_id),
       |et AS (
       |  SELECT query_id, neighbor_id, rp_sim,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS r_e
       |  FROM pairs),
       |top AS (
       |  SELECT query_id, CAST(r_e AS BIGINT) AS r_e,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY rp_sim DESC, neighbor_id) AS BIGINT) AS r_s
       |  FROM et WHERE r_e <= $KMap),
       |agg AS (
       |  SELECT a.query_id,
       |         CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(CASE WHEN a.r_s < b.r_s THEN 1 ELSE 0 END) AS BIGINT) AS concordant
       |  FROM top a JOIN top b
       |    ON a.query_id = b.query_id AND a.r_e < b.r_e
       |  GROUP BY 1)
       |SELECT query_id, n_pairs, concordant,
       |       n_pairs - concordant AS discordant,
       |       ((concordant - (n_pairs - concordant) + n_pairs) * 1000000) // n_pairs
       |         - 1000000 AS tau_ppm
       |FROM agg""".stripMargin

  // ---------------------------------------------- q241 vector profiler

  /** Embedding-column quality profile per label — q172's single-pass
    * profiler specialized to the vector modality (the pre-training
    * checks an embedding pipeline runs before ANN indexing or centroid
    * fits trust the column): per label, the vector count, dimension
    * width, zero-vector count, exact squared-norm percentiles, and a
    * duplicate ledger (identical vectors inflate ANN recall and poison
    * contrastive batches — the q19 exact-dedup argument in vector
    * space).
    *
    * Exactness: components quantize once through the q83 contract
    * (floor(x·10⁴+0.5) — codegen'd, order-independent), so the squared
    * norm is an exact integer and the duplicate fingerprint is the
    * canonical comma-joined integer string — bit-identical across
    * engines, no float formatting anywhere. Percentiles are
    * percentile_disc (the q33 cume_dist pairing).
    *
    * Scale shape: ONE narrow pass computes (label, fp, norm2_u) per
    * vector; the dup ledger is a (label, fp)-keyed count — the exact
    * q19 shuffle shape — and the rollup is label-sized. */
  def vectorProfile(spark: SparkSession, dir: String): DataFrame =
    vectorProfileOf(Tables.spread(Tables.embeddings(spark, dir)))

  /** The profile on explicit (label, embedding) rows — exposed for
    * hand-computed fixture specs. */
  def vectorProfileOf(emb: DataFrame): DataFrame = {
    val base = emb
      .select(col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("a", quantCol(col("v")))
      .select(col("label"),
        dot(col("a"), col("a")).cast("long").as("norm2_u"),
        size(col("a")).cast("long").as("dims"),
        concat_ws(",", col("a").cast("array<long>").cast("array<string>")).as("fp"))
      .transform(Barrier.eager(_))
    val dup = base.groupBy(col("label"), col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("label"))
      .agg(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("n_dup_vecs"),
        sum(when(col("cnt") > 1, col("cnt") - 1).otherwise(0L)).as("n_dup_excess"))
    base.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("dims")).as("dims"),
        sum(when(col("norm2_u") === 0, 1L).otherwise(0L)).as("n_zero"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY norm2_u)")
          .cast("long").as("p50_norm2_u"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY norm2_u)")
          .cast("long").as("p95_norm2_u"))
      .join(dup, Seq("label"), "left_outer")
      .select(col("label"), col("n_vecs"), col("dims"), col("n_zero"),
        col("p50_norm2_u"), col("p95_norm2_u"),
        coalesce(col("n_dup_vecs"), lit(0L)).as("n_dup_vecs"),
        coalesce(col("n_dup_excess"), lit(0L)).as("n_dup_excess"))
  }

  val vectorProfileSql: String =
    s"""WITH base AS (
       |  SELECT CAST(label AS BIGINT) AS label,
       |         list_transform(embedding::DOUBLE[], x -> floor(x * $RpQ + 0.5)) AS a
       |  FROM embeddings),
       |per AS (
       |  SELECT label,
       |         CAST(list_dot_product(a, a) AS BIGINT) AS norm2_u,
       |         CAST(len(a) AS BIGINT) AS dims,
       |         array_to_string(list_transform(a, x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS fp
       |  FROM base),
       |dup AS (
       |  SELECT label,
       |         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_vecs,
       |         CAST(sum(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS n_dup_excess
       |  FROM (SELECT label, fp, CAST(count(*) AS BIGINT) AS cnt
       |        FROM per GROUP BY 1, 2) g
       |  GROUP BY 1),
       |cd AS (
       |  SELECT label, norm2_u,
       |         cume_dist() OVER (PARTITION BY label ORDER BY norm2_u) AS cdv
       |  FROM per),
       |pct AS (
       |  SELECT label,
       |         CAST(min(CASE WHEN cdv >= 0.5 THEN norm2_u END) AS BIGINT) AS p50_norm2_u,
       |         CAST(min(CASE WHEN cdv >= 0.95 THEN norm2_u END) AS BIGINT) AS p95_norm2_u
       |  FROM cd GROUP BY 1),
       |roll AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |         CAST(max(dims) AS BIGINT) AS dims,
       |         CAST(sum(CASE WHEN norm2_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
       |  FROM per GROUP BY 1)
       |SELECT r.label, r.n_vecs, r.dims, r.n_zero,
       |       p.p50_norm2_u, p.p95_norm2_u,
       |       coalesce(d.n_dup_vecs, 0) AS n_dup_vecs,
       |       coalesce(d.n_dup_excess, 0) AS n_dup_excess
       |FROM roll r
       |JOIN pct p ON p.label = r.label
       |LEFT JOIN dup d ON d.label = r.label""".stripMargin
}

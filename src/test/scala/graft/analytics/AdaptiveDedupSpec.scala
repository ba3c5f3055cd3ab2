package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.SparkTestSession
import graft.dedup.DedupOps

/** The clean-corpus fast path (skip the identical-content collapse AND
  * the capped grid when no band bucket exceeds `BucketCap` — cool
  * buckets bound identical groups too, since identical sigs share
  * every bucket) must be RESULT-INVISIBLE: forcing the hardened path
  * (`graft.dedup.adaptive=false`) and the adaptive default must
  * produce identical rows on every corpus shape — clean, exact-dup
  * flood (bucket of 100 identical docs trips the gate), and
  * hot-bucket-without-dups (trips it too). */
class AdaptiveDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def withAdaptive[A](on: Boolean)(body: => A): A = {
    val key = "graft.dedup.adaptive"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("q21/q34/q88 results are identical with the fast path on and off (bench corpus)") {
    val dir = "/root/testdata/sf0.001"
    for ((mk, name) <- Seq(
        ((d: String) => DedupOps.minhashLsh(spark, d), "q21"),
        ((d: String) => DedupOps.minhashEstimate(spark, d), "q34"),
        ((d: String) => DedupOps.ingestDedup(spark, d), "q88"))) {
      val fast = withAdaptive(on = true)(rows(mk(dir)))
      val hard = withAdaptive(on = false)(rows(mk(dir)))
      assert(fast === hard, s"$name: adaptive fast path changed the result")
      assert(fast.nonEmpty, s"$name returned nothing")
    }
  }

  test("exact-dup flood: the bucket gate trips and both routes stay identical") {
    // 100 copies of one shingle set + 10 distinct docs — the identical
    // group fills a 100-deep bucket in every band (> BucketCap), so the
    // adaptive run must route to the hardened collapse
    val base = (1L to 40L).toSeq
    val all = (0 until 100).map(i => (i.toLong, base)) ++
      (0 until 10).map(i => (100L + i, (5000L + i * 100 to 5040L + i * 100).toSeq))
    val hsets = all.toDF("doc_id", "hs").withColumn("n", size(col("hs")))
    val fast = withAdaptive(on = true)(rows(DedupOps.minhashLshFrom(hsets)))
    val hard = withAdaptive(on = false)(rows(DedupOps.minhashLshFrom(hsets)))
    assert(fast === hard)
    // the flood's C(100,2) within-group pairs must all be present
    assert(fast.size >= 100 * 99 / 2)
  }

  test("hot bucket WITHOUT dup content: the gate trips and both routes stay identical") {
    // BucketCap+36 docs whose sets differ by one trailing element: no
    // two docs are identical, but the near-identical MinHash signatures
    // pile into shared band buckets > BucketCap → hardened route
    val n = DedupOps.BucketCap + 36
    val base = (1L to 200L).toSeq
    val all = (0 until n).map(i => (i.toLong, base :+ (10000L + i)))
    val hsets = all.toDF("doc_id", "hs").withColumn("n", size(col("hs")))
    val fast = withAdaptive(on = true)(rows(DedupOps.minhashLshFrom(hsets)))
    val hard = withAdaptive(on = false)(rows(DedupOps.minhashLshFrom(hsets)))
    assert(fast === hard)
    // J = 200/202 ≈ 0.99 for every pair — all C(n,2) pairs qualify
    assert(fast.size === n * (n - 1) / 2)
  }

  test("clean corpus: the fast path actually drops the hardening operators from the plan") {
    val dir = "/root/testdata/sf0.001"
    val hsets = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.NativeExprs.shingleHashes(
          graft.functions.TextExprs.tokensCol(col("text")),
          graft.functions.TextExprs.ShingleW, graft.functions.TextExprs.P).as("hs"))
      .filter(size(col("hs")) > 0)
    import graft.functions.TextExprs
    val maxBucket = hsets
      .select(col("doc_id"), TextExprs.minhashSigCol(col("hs")).as("sig"))
      .withColumn("b", explode(sequence(lit(0), lit(TextExprs.Bands - 1))))
      .groupBy(col("b"), TextExprs.bandKeyCol(col("sig"), col("b"))).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxBucket <= DedupOps.BucketCap,
      "bench corpus grew a hot band bucket — update this spec's premise")
    val plan = withAdaptive(on = true)(
      DedupOps.minhashLsh(spark, dir).queryExecution.executedPlan.toString)
    // the gate skipped the collapse (no collect_list) and the capped
    // grid (no window row_number over band buckets)
    assert(!plan.contains("collect_list"), "collapse ran on a dup-free corpus")
    assert(!plan.contains("row_number"), "capped grid ran though no bucket is hot")
    // hardened-route machinery is only visible in the plan string with
    // the materialize barriers off (a barrier hides its lineage behind
    // an RDD scan)
    val mKey = graft.plans.Barrier.Conf
    val savedM = spark.conf.getOption(mKey)
    spark.conf.set(mKey, "off")
    try {
      val hardPlan = withAdaptive(on = false)(
        DedupOps.minhashLsh(spark, dir).queryExecution.executedPlan.toString)
      assert(hardPlan.contains("collect_list") && hardPlan.contains("row_number"),
        "forced-hardened plan lost its machinery — the toggle is dead")
    } finally savedM match {
      case Some(v) => spark.conf.set(mKey, v)
      case None    => spark.conf.unset(mKey)
    }
  }
}

package graft.analytics

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.SparkTestSession

/** Plan-shape assertions for the two biggest 100 TB levers the bench
  * data is too small to surface: partition pruning and bucketed
  * (shuffle-free) joins. These pin the PLAN, not just the values —
  * a regression that silently re-scans or re-shuffles fails here. */
class ScalePlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  /** Run `body` with AQE off (stable plan strings for assertions) and
    * optionally broadcast joins off (so the bucketed SMJ path is the
    * one planned); restores the previous confs. */
  private def withPlanConfs[A](noBroadcast: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("partition pruning: a filter on the partition column prunes the scan") {
    val out = Files.createTempDirectory("part-prune").toString
    graft.tables.Tables.lineitem(spark, dir)
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(out)

    withPlanConfs(noBroadcast = false) {
      val pruned = spark.read.parquet(out).filter(col("l_returnflag") === "A")
        .agg(round(sum(col("l_quantity")), 2).as("s"))
      // value correctness vs. the unpartitioned source
      val expected = graft.tables.Tables.lineitem(spark, dir)
        .filter(col("l_returnflag") === "A")
        .agg(round(sum(col("l_quantity")), 2).as("s")).head().getDouble(0)
      assert(pruned.head().getDouble(0) === expected)

      // the partition filter must appear as PartitionFilters on the
      // scan, and pruning must cover strictly fewer files than exist
      val scans = pruned.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
      assert(scans.exists(_.toString.contains("PartitionFilters: [isnotnull(l_returnflag")),
        scans.map(_.toString).mkString("\n"))
      val filesRead = scans.map(_.metrics("numFiles").value).sum
      val allFiles = spark.read.parquet(out).inputFiles.length
      assert(filesRead < allFiles, s"scan read $filesRead of $allFiles files — no pruning")
    }
  }

  test("predicate pushdown and column pruning reach the parquet scan") {
    withPlanConfs(noBroadcast = false) {
      val q = graft.tables.Tables.lineitem(spark, dir)
        .filter(col("l_quantity") > 45.0)
        .select("l_orderkey", "l_quantity")
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, q.queryExecution.executedPlan.toString)
      // the row filter must be pushed to the parquet reader...
      assert(scans.exists(_.metadata("PushedFilters")
        .contains("GreaterThan(l_quantity,45.0)")),
        scans.map(_.metadata("PushedFilters")).mkString("\n"))
      // ...and the scan must decode ONLY the two referenced columns —
      // a scan reading all 11 for a 2-column projection is wrong
      assert(scans.head.requiredSchema.fieldNames.toSet ===
        Set("l_orderkey", "l_quantity"))
    }
  }

  test("simhash band join stays an equi-join when broadcast is off (q73 at scale)") {
    withPlanConfs(noBroadcast = true) {
      val df = graft.dedup.DedupOps.simhashNearDup(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      // candidate generation must be a (band, key) equi-join — a
      // nested-loop/cartesian fallback would be the quadratic pair scan
      // the banding exists to avoid
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"band join degenerated to a pair scan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
      assert(df.count() > 0)
    }
  }

  /** Hash-partitioned (keyed) exchanges of a plan — the shuffles whose
    * payload width matters at 100 TB. Round-robin exchanges are
    * excluded: the only one in these pipelines is Tables.spread's
    * single-split testdata workaround, a documented no-op on real
    * multi-split deployments. */
  private def keyedExchangeSchemas(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        e.child.schema
    }

  test("dedup pipelines never shuffle text; candidate stages shuffle only fixed-width columns") {
    // graft.materialize=off exposes the WHOLE pipeline as one plan —
    // the lineage a cluster deployment would otherwise checkpoint
    // between stages, so the assertion covers every shuffle that
    // would run at scale.
    val key = graft.plans.Barrier.Conf
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "off")
    try withPlanConfs(noBroadcast = false) {
      val q21 = graft.dedup.DedupOps.minhashLsh(spark, dir)
      val q73 = graft.dedup.DedupOps.simhashNearDup(spark, dir)
      val q34 = graft.dedup.DedupOps.minhashEstimate(spark, dir)
      val q88 = graft.dedup.DedupOps.ingestDedup(spark, dir)
      val q107 = graft.dedup.DedupOps.substringDedup(spark, dir)
      for ((df, name) <- Seq((q21, "q21"), (q73, "q73"), (q34, "q34"),
          (q88, "q88"), (q107, "q107"))) {
        val schemas = keyedExchangeSchemas(df)
        assert(schemas.nonEmpty, s"$name: no keyed exchanges found")
        // the text column must never enter any keyed shuffle — shuffles
        // carry fingerprints (and, post-collapse, id lists), not payloads
        assert(!schemas.exists(_.exists(_.dataType ==
          org.apache.spark.sql.types.StringType)),
          s"$name: a keyed exchange carries a string column:\n" +
            schemas.map(_.treeString).mkString("\n"))
      }
      // candidate GENERATION never touches the shingle arrays at all:
      // from collapsed reps to the distinct pair set, every keyed
      // exchange is (ids, band keys, K-long signatures) — no `hs`
      val hsets = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.NativeExprs.shingleHashes(
            graft.functions.TextExprs.tokensCol(col("text")),
            graft.functions.TextExprs.ShingleW, graft.functions.TextExprs.P).as("hs"))
        .filter(size(col("hs")) > 0).withColumn("n", size(col("hs")))
      val cand = graft.dedup.DedupOps.minhashRepCandidates(
        graft.dedup.DedupOps.collapseShingleSets(hsets).select(col("rep"), col("hs")))
      val candSchemas = keyedExchangeSchemas(cand)
      assert(candSchemas.nonEmpty)
      assert(!candSchemas.exists(_.fieldNames.exists(_.startsWith("hs"))),
        s"q21 candidate stage shuffles shingle arrays:\n" +
          candSchemas.map(_.treeString).mkString("\n"))
      // simhash candidate stage is stricter still: atomic fixed-width only
      val sigs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), graft.functions.NativeExprs.simHash(
          graft.functions.NativeExprs.tokenHashes(
            graft.functions.TextExprs.tokensCol(col("text"))),
          graft.dedup.DedupOps.SimhashBits).as("sig"))
      val sGroups = sigs.groupBy(col("sig"))
        .agg(min(col("doc_id")).as("rep"))
      val sCand = graft.dedup.DedupOps.simhashRepCandidates(
        sGroups.select(col("rep"), col("sig")))
      val sSchemas = keyedExchangeSchemas(sCand)
      assert(sSchemas.nonEmpty)
      assert(sSchemas.forall(_.forall(f =>
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType)),
        s"q73 candidate stage shuffles a non-fixed-width column:\n" +
          sSchemas.map(_.treeString).mkString("\n"))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("multimodal pipelines: media payloads never enter ANY exchange (q82/q92/q126)") {
    withPlanConfs(noBroadcast = false) {
      val M = graft.multimodal.MultimodalOps
      for ((df, name, narrow) <- Seq(
          (M.frameSamples(spark, dir), "q82", true),
          (M.resizePlans(spark, dir), "q92", true),
          (M.decodeStats(spark, dir), "q126", true),
          (M.audioSegments(spark, dir), "q135", true),
          // the phash family DOES shuffle — keyed on the two hash
          // longs — but only fixed-width rows ever move
          (M.phashGroups(spark, dir), "q131", false),
          (M.phashNeardup(spark, dir), "q132", false))) {
        // decode/resize/frame-sum is a narrow map: no keyed shuffle at all
        if (narrow) assert(keyedExchangeSchemas(df).isEmpty,
          s"$name: multimodal pipeline acquired a keyed shuffle")
        // and NO exchange of any kind (incl. the spread round-robin)
        // may carry the binary payload or any string-typed column —
        // only the small doc_id / feature rows ever move
        val allExchange = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.child.schema
        }
        assert(!allExchange.exists(_.exists(f =>
            f.dataType == org.apache.spark.sql.types.BinaryType ||
            f.dataType == org.apache.spark.sql.types.StringType)),
          s"$name: an exchange carries a payload-width column:\n" +
            allExchange.mkString("\n"))
      }
    }
  }

  test("asset-kind predicate runs on the scan column, not after the typed boundary (q142/q148/q150)") {
    // `doc_id % 3` selects the asset kind. As a typed lambda after
    // makeAsset it forced EVERY asset to be synthesized before being
    // dropped; as a column predicate it must fuse onto the parquet
    // scan (modulo isn't source-pushable, so it lands in the scan's
    // DataFilters / a FilterExec directly over the scan) with a
    // doc_id-only ReadSchema — at corpus scale that skips 1/3–2/3 of
    // all codec work.
    withPlanConfs(noBroadcast = false) {
      val M = graft.multimodal.MultimodalOps
      for ((df, name) <- Seq(
          (M.pngDecodeStats(spark, dir), "q142"),
          (M.audioResample(spark, dir), "q148"),
          (M.jpegDecodeStats(spark, dir), "q150"))) {
        val plan = df.queryExecution.executedPlan
        val scans = plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        assert(scans.nonEmpty, s"$name: no parquet scan in plan")
        assert(scans.forall(_.schema.fieldNames.sameElements(Array("doc_id"))),
          s"$name: scan reads more than doc_id")
        val kindFilters = plan.collect {
          case f: org.apache.spark.sql.execution.FilterExec
              if f.condition.toString.contains("% 3") => f }
        assert(kindFilters.nonEmpty,
          s"$name: kind predicate missing as a column filter:\n${plan.treeString}")
        // child is the scan (possibly through ColumnarToRow) — i.e.
        // the filter runs BEFORE any exchange or typed boundary
        assert(kindFilters.forall(_.child.collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec => s
          }.nonEmpty && kindFilters.forall(_.child.collect {
            case o: org.apache.spark.sql.execution.ObjectConsumerExec => o
          }.isEmpty)),
          s"$name: kind filter not fused onto the scan:\n${plan.treeString}")
      }
    }
  }

  test("repetition rules are a zero-keyed-shuffle narrow map (q130)") {
    withPlanConfs(noBroadcast = false) {
      val df = graft.text.TextOps.repetitionRules(spark, dir)
      // all four gram sizes fold inside the projection — the only
      // exchange permitted is spread's round-robin testdata workaround
      assert(keyedExchangeSchemas(df).isEmpty,
        s"q130: repetition rules acquired a keyed shuffle:\n" +
          df.queryExecution.executedPlan.treeString)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // one hot key holding ~90% of the fact side — the shape that stalls
    // a static plan on one straggler task at 100 TB
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      import org.apache.spark.sql.functions.{col, lit, when}
      val fact = spark.range(200000).toDF("i")
        .withColumn("k", when(col("i") % 10 =!= 0, lit(7L)).otherwise(col("i") % 97))
        .withColumn("payload", col("i") * 31)
      val dim = spark.range(97).toDF("k").withColumn("name", col("k") * 2)
      val joined = fact.join(dim, "k")
      // execute THIS Dataset's own QueryExecution (count() would build a
      // separate one and leave this adaptive plan un-finalized)
      assert(joined.collect().length === 200000)
      // after execution the adaptive plan must have split the hot
      // partition: the SMJ is marked skew=true
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits the co-purchase wedge join's hub partition on the 10x corpus (skew=true)") {
    // The synthetic hot-key test above proves the MECHANISM; this pins
    // it on the real q123 path: the wedge-close join keys one side by
    // the wedge middle's IN-degree, which the degree orientation does
    // NOT bound (only out-degree is O(sqrt m)), so hub structure skews
    // that shuffle. The gate corpus's baskets are uniform-random over a
    // tiny catalog (degree max 138 vs median 89 at sf0.001 — near-
    // regular, nothing for AQE to split, and correctly so), so the hub
    // is PLANTED through the real operator, planted-recall-spec style:
    // a promo item added to 90% of the x10 key-shifted corpus's
    // baskets — at 100 TB catalog sparsity makes such hubs the norm.
    // Edge broadcast is disabled (the shuffle fallback a
    // too-big-to-broadcast catalog forces) and AQE must split the hub
    // partition at runtime.
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions",
      "graft.graph.broadcastEdges")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // gate-scale data is KBs where production partitions are GBs; the
    // FACTOR (x2 median) is the real-cluster knob, the byte floors are
    // scaled down to the corpus exactly as the synthetic test scales them
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512b")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    spark.conf.set("graft.graph.broadcastEdges", "false")
    try {
      val tenx = Files.createTempDirectory("rel10x").toString
      val li10 = graft.tools.Scale10xRel.replicate(
        spark.read.parquet(s"$dir/lineitem.parquet"), Seq("l_orderkey"), 10)
      val hubId = li10.agg(max(col("l_partkey").cast("long"))).head.getLong(0) + 1L
      val hub = li10.dropDuplicates("l_orderkey")
        .filter(col("l_orderkey").cast("long") % 10 =!= 0)
        .withColumn("l_partkey", lit(hubId).cast(li10.schema("l_partkey").dataType))
      li10.unionAll(hub)
        .write.mode("overwrite").parquet(s"$tenx/lineitem.parquet")
      val census = graft.graph.GraphOps.triangleStats(spark, tenx)
      val row = census.collect()(0)
      assert(row.getLong(2) > 0, s"census found no triangles: $row")
      val finalPlan = census.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the wedge-join hub partition:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // at 100 TB the big win on fact ⋈ filtered-dim is semi-join
    // reduction: a bloom filter built from the filtered dim keys is
    // pushed into the fact scan, dropping non-matching rows BEFORE the
    // shuffle. The size thresholds exist for real clusters; lower them
    // so the testdata qualifies, then assert the filter was injected.
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val li  = graft.tables.Tables.lineitem(spark, dir)
      val ord = graft.tables.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // value correctness against the un-filtered plan shape
      val expected = graft.tables.Tables.lineitem(spark, dir).join(
        graft.tables.Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.head().getLong(0) === expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("range-sorted file layout lets parquet stats skip row groups") {
    // the clustering lever for non-partition keys: writing each file
    // sorted on the filter column gives every row group a tight
    // min/max band, so a selective range predicate decodes only the
    // groups that can match. Small block size → many row groups even
    // on testdata; the same rows shuffled destroy the bands.
    val li = graft.tables.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    def writeAndMeasure(df: org.apache.spark.sql.DataFrame): Long = {
      val out = Files.createTempDirectory("rg-prune").toString
      df.coalesce(1).write.option("parquet.block.size", 64 * 1024)
        .mode("overwrite").parquet(out)
      val scan = spark.read.parquet(out)
        .filter(col("l_orderkey") >= 100 && col("l_orderkey") < 200)
        .agg(sum("l_quantity"))
      scan.collect()
      scan.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    // AQE off so the scan node (and its metrics) sit in the plan tree
    val (sortedRows, shuffledRows) = withPlanConfs(noBroadcast = false) {
      (writeAndMeasure(li.sortWithinPartitions("l_orderkey")),
       writeAndMeasure(li.sortWithinPartitions("l_extendedprice"))) // same data, wrong order
    }
    assert(sortedRows > 0)
    // measured on this data: 2729 vs 6000 decoded rows (the gap widens
    // with file count — every extra file is another tight band)
    assert(sortedRows * 2 <= shuffledRows,
      s"sorted layout decoded $sortedRows rows vs $shuffledRows unsorted — no row-group skipping")
  }

  test("z-order layout prunes row groups on BOTH dimensions (q115)") {
    // the 2-D extension of the range-sorted test above: a single sort
    // column serves one predicate; the Morton-interleaved sort gives
    // tight min/max bands on both l_partkey AND l_suppkey at once, so
    // either single-dimension predicate skips row groups without
    // choosing a winner column.
    val li = graft.tables.Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_quantity")
    val bounds = li.agg(
      min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey")).head()
    val (pLo, pHi) = (bounds.getLong(0), bounds.getLong(1))
    val (sLo, sHi) = (bounds.getLong(2), bounds.getLong(3))
    // ~12% band on each dimension
    val pBand = (pLo + (pHi - pLo) / 2, pLo + (pHi - pLo) / 2 + (pHi - pLo) / 8)
    val sBand = (sLo + (sHi - sLo) / 2, sLo + (sHi - sLo) / 2 + (sHi - sLo) / 8)
    def writeAndMeasure(df: org.apache.spark.sql.DataFrame,
                        pred: org.apache.spark.sql.Column): Long = {
      val out = Files.createTempDirectory("zorder-prune").toString
      df.write.mode("overwrite").parquet(out)
      val scan = spark.read.parquet(out).filter(pred).agg(sum("l_quantity"))
      scan.collect()
      scan.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    // 64 z-range files (each file = one contiguous z chunk, so its
    // footer carries a tight 2-D rectangle) vs 64 random files — the
    // file layout OPTIMIZE ZORDER BY produces vs an unclustered write.
    // Band-offset sweep measured worst-case decode 2243/6000 (part) and
    // 1597/6000 (supp) at this file count, so the 2× assert has margin
    // at every band placement including the adversarial mid-domain one.
    import graft.sources.ZOrder.{norm16, zValue}
    val zCol = zValue(norm16(col("l_partkey"), lit(pLo), lit(pHi)),
                      norm16(col("l_suppkey"), lit(sLo), lit(sHi)))
    val zSorted = li.withColumn("z", zCol)
      .repartitionByRange(64, col("z")).sortWithinPartitions("z").drop("z")
    val unsorted = li.repartition(64) // same data, no key locality
    val partPred = col("l_partkey").between(pBand._1, pBand._2)
    val suppPred = col("l_suppkey").between(sBand._1, sBand._2)
    withPlanConfs(noBroadcast = false) {
      // each single-dimension predicate prunes against the z layout…
      val zPart = writeAndMeasure(zSorted, partPred)
      val uPart = writeAndMeasure(unsorted, partPred)
      val zSupp = writeAndMeasure(zSorted, suppPred)
      val uSupp = writeAndMeasure(unsorted, suppPred)
      assert(zPart > 0 && zSupp > 0)
      assert(zPart * 2 <= uPart,
        s"partkey predicate decoded $zPart rows on z layout vs $uPart unsorted")
      assert(zSupp * 2 <= uSupp,
        s"suppkey predicate decoded $zSupp rows on z layout vs $uSupp unsorted")
      // …and the conjunction prunes at least as hard as either alone
      val zBoth = writeAndMeasure(zSorted, partPred && suppPred)
      assert(zBoth <= zPart && zBoth <= zSupp)
    }
  }

  test("dynamic partition overwrite rewrites only the touched partitions") {
    // the sink half of the q86 merge story: WRITE_TRUNCATE (reference
    // D14) rewrites everything; at 100 TB an incremental run must
    // replace only the partitions it produced rows for
    val out = Files.createTempDirectory("dyn-overwrite").toString
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    try {
      val orders = graft.tables.Tables.orders(spark, dir)
      orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
      def filesIn(p: String): Set[String] =
        spark.read.parquet(out).inputFiles.filter(_.contains(p)).toSet
      val untouchedBefore = filesIn("o_orderpriority=3-MEDIUM")
      assert(untouchedBefore.nonEmpty)

      spark.conf.set(key, "dynamic")
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
        .write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)

      // untouched partition: identical file set (static mode would have
      // dropped it); touched partition: new files, doubled values
      assert(filesIn("o_orderpriority=3-MEDIUM") === untouchedBefore)
      val expectUrgent = orders.filter(col("o_orderpriority") === "1-URGENT")
        .agg(round(sum(col("o_totalprice")) * 2, 2)).head().getDouble(0)
      val gotUrgent = spark.read.parquet(out)
        .filter(col("o_orderpriority") === "1-URGENT")
        .agg(round(sum(col("o_totalprice")), 2)).head().getDouble(0)
      assert(math.abs(gotUrgent - expectUrgent) < 0.01)
      assert(spark.read.parquet(out).count() === orders.count())
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse directories persist — clear them so CREATE succeeds
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      val p = java.nio.file.Paths.get(new java.net.URI(wh).getPath, t)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
    }
    graft.tables.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    graft.tables.Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")

    withPlanConfs(noBroadcast = true) {
      val joined = spark.table("li_bucketed").join(
        spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // correctness: same row count as the plain join
      val expected = graft.tables.Tables.lineitem(spark, dir).join(
        graft.tables.Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
      assert(wh.nonEmpty)
    }
  }
}

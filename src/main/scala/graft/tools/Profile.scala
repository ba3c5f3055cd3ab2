package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.plans.Barrier

/** Dev-only micro-profiler for the hot bench queries. */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    def on(n: String) = which.isEmpty || which.contains(n)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for (a <- si.submissionTime; b <- si.completionTime) yield (b - a) / 1e3
        if (dur.exists(_ > 0.5))
          println(f"[stage] ${si.stageId}%4d ${dur.get}%7.2f s  gc=${si.taskMetrics.jvmGCTime/1e3}%6.2f s  tasks=${si.numTasks}  ${si.name.takeWhile(_ != '\n').take(80)}")
      }
    })

    def time(name: String)(f: => Any): Unit = if (on(name.split(" ").head)) {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($r)")
    }

    // --- q23 breakdown ---------------------------------------------------
    if (on("q23")) {
      val e = Tables.embeddings(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(graft.functions.NativeExprs.dotProduct(col("v"), col("v"))))
      time("q23 vecs")(e.count())
      val j = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      time("q23 pairs only")(j.count())
      val cos = j.withColumn("cos_sim",
        graft.functions.NativeExprs.dotProduct(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      time("q23 pairs+dot")(cos.filter(col("cos_sim") >= 0.4).count())
      time("q23 full")(graft.vector.VectorOps.nearDupPairs(spark, dir).count())
      graft.vector.VectorOps.nearDupPairs(spark, dir).explain("formatted")
    }

    // --- q34 breakdown ---------------------------------------------------
    if (on("q34")) {
      val hsets0 = Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.NativeExprs.shingleHashes(tokensCol(col("text")), ShingleW, P).as("hs"))
        .filter(size(col("hs")) > 0)
        .withColumn("n", size(col("hs")))
      time("q34 hsets")(hsets0.count())
      val hsets = Barrier.eager(hsets0)
      val sigs = hsets.select(col("doc_id"), minhashSigCol(col("hs")).as("sig")).transform(Barrier.eager(_))
      time("q34 sigs")(sigs.count())
      val bands = sigs
        .select(col("doc_id"), explode(sequence(lit(0), lit(Bands - 1))).as("b"), col("sig"))
        .select(col("doc_id"), col("b"), bandKeyCol(col("sig"), col("b")).as("bkey"))
      time("q34 bands")(bands.count())
      val cand = bands.as("a").join(bands.as("b"),
          col("a.b") === col("b.b") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      time("q34 cand")(cand.count())
      time("q34 full")(graft.dedup.DedupOps.minhashEstimate(spark, dir).count())
    }

    // --- q20 breakdown ---------------------------------------------------
    if (on("q20")) {
      time("q20 full")(graft.dedup.DedupOps.ngramJaccard(spark, dir).count())
    }
    if (on("q21")) time("q21 full")(graft.dedup.DedupOps.minhashLsh(spark, dir).count())

    // --- q30 -------------------------------------------------------------
    if (on("q30")) {
      time("q30 full")(graft.analytics.Relational.saltedJoinAgg(spark, dir).count())
      val plain = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")), Seq("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("r"))
      time("q30 plain join")(plain.count())
      val salted = graft.operators.SkewJoin.saltedInnerJoin(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        keys = Seq("l_orderkey"), salt = 8)
      time("q30 join only")(salted.count())
      time("q30 full again")(graft.analytics.Relational.saltedJoinAgg(spark, dir).count())
      graft.analytics.Relational.saltedJoinAgg(spark, dir).explain("formatted")
    }

    // --- q33 -------------------------------------------------------------
    if (on("q33")) time("q33 full")(graft.analytics.Relational.pricePercentiles(spark, dir).count())

    // --- q28 -------------------------------------------------------------
    if (on("q28")) time("q28 full")(graft.analytics.EventOps.asofJoin(spark, dir).count())

    // --- q26 -------------------------------------------------------------
    if (on("q26")) {
      time("q26 full")(graft.streaming.EventsStream.runAvailableNow(
        spark, graft.streaming.EventsStream.tumblingCounts(
          graft.streaming.EventsStream.source(spark, dir)), "profile_q26").count())
    }

    // --- q27 -------------------------------------------------------------
    if (on("q27")) time("q27 full")(graft.analytics.Relational.aboveAvgOrders(spark, dir).count())
    if (on("q29")) time("q29 full")(graft.analytics.Relational.topOrdersPerPriorityCustom(spark, dir).count())
    if (on("q32")) time("q32 full")(graft.text.TextOps.topTermsPerLang(spark, dir).count())
    if (on("q22")) time("q22 full")(graft.dedup.DedupOps.simhash(spark, dir).count())
    if (on("q24")) time("q24 full")(graft.vector.VectorOps.knnBrute(spark, dir).count())
    if (on("q25")) time("q25 full")(graft.vector.VectorOps.annLsh(spark, dir).count())
    if (on("q16x")) {
      val toks = Tables.documents(spark, dir)
        .select(col("lang"), col("text"), tokensCol(col("text")).as("t"))
        .repartition(spark.sparkContext.defaultParallelism)
      time("q16x toks")(toks.count())
      time("q16x cp range")(toks.select(
        graft.functions.NativeExprs.countCpRange(col("text"), 0x4e00, 0x9fff).as("z"))
        .selectExpr("sum(z)").head())
      time("q16x one marker")(toks.select(
        graft.functions.NativeExprs.countInSet(col("t"), Seq("the","and","of","is","to")).as("s"))
        .selectExpr("sum(s)").head())
      graft.text.TextOps.langId(spark, dir).explain("formatted")
    }
    if (on("q16")) time("q16 full")(graft.text.TextOps.langId(spark, dir).count())
    if (on("q149")) { // learn = feats+checkpoint + GD loop; full adds scoring
      import org.apache.spark.metrics.source.CodegenMetrics._
      def cg() = (METRIC_SOURCE_CODE_SIZE.getCount,
        METRIC_COMPILATION_TIME.getSnapshot.size)
      val a = cg()
      time("q149 learn 1st")(graft.text.LangIdTrained.learn(spark, dir)._1.map(_.sum).sum)
      val b = cg(); println(s"[codegen] learn1 compiles=${b._1 - a._1}")
      time("q149 learn 2nd")(graft.text.LangIdTrained.learn(spark, dir)._1.map(_.sum).sum)
      val c = cg(); println(s"[codegen] learn2 compiles=${c._1 - b._1}")
      time("q149 full")(graft.text.LangIdTrained.langIdTrained(spark, dir).count())
      val d = cg(); println(s"[codegen] full compiles=${d._1 - c._1}")
    }
    if (on("q01")) time("q01 full")(graft.analytics.Relational.globalStats(spark, dir).count())
    spark.stop()
  }
}

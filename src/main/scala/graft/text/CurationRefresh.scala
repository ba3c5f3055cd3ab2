package graft.text

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.TextExprs._
import graft.tables.Tables
import graft.plans.Barrier

/** q255: INCREMENTAL curation refresh — the production twin of q254
  * (r13 verdict ask #1). The reference re-runs its whole pipeline
  * daily with WRITE_TRUNCATE (`composer/sales_etl_dag.py:36`,
  * `dataflow_transform.py:152`); at 100 TB a corpus refresh cannot
  * re-tokenize, re-shingle, and re-band yesterday's corpus to admit
  * today's batch. This operator demonstrates the scale-correct
  * alternative: the corpus's heavy text-derived artifacts live in
  * STANDING STATE (compact fixed-width columns + posting indexes,
  * built once by yesterday's job), and the refresh touches them with
  * probes, broadcast deltas, and narrow scans — the arriving batch is
  * the only text that is ever tokenized, and the only corpus-sized
  * SHUFFLE anywhere in the refresh is none at all.
  *
  * Output contract: the SAME manifest as q254 computed over
  * corpus ∪ batch — the oracle IS the full-recompute
  * [[CurationPipeline.curationManifestSql]], so any divergence
  * between incremental maintenance and recomputation is a hash
  * mismatch.
  *
  * Batch model: the arriving batch is the TOP [[BatchPctOfMaxId]]% of
  * the doc_id space (new documents get new, larger ids — the
  * append-only arrival order every ingest pipeline has). That order
  * is what makes incremental maintenance EXACT rather than
  * approximate, via three invariants proven by min-id elections:
  *
  *  1. EXACT stage is append-monotone: corpus keep_id = min doc_id
  *     per fingerprint can never be displaced by a larger id, so
  *     corpus exact verdicts are immutable and a batch doc's verdict
  *     needs only a fingerprint-index probe.
  *  2. SUBSTRING stage is append-monotone: a gram's owner = min
  *     doc_id only ever loses to smaller ids, so corpus
  *     `n_removable` is immutable (a batch re-occurrence flips a
  *     corpus gram to duplicated, but its corpus owner still owns
  *     it); batch ledgers need only the (gram → count, owner)
  *     posting probe.
  *  3. NEAR-DUP clusters only MERGE: new edges are all
  *     batch-incident, so the new components equal the old
  *     components contracted to their reps plus the batch nodes —
  *     connected components over an O(batch)-node graph; a merged
  *     component's min is always one of the involved corpus reps
  *     (batch ids are larger), so corpus rep remaps are a broadcast
  *     O(Δ) map.
  *
  * What is NOT append-monotone — the trained classifier's weights,
  * the conformal threshold, the waterfill allocations — is recomputed
  * EXACTLY, but from state, never from text: retraining is
  * [[QualityClassifier.Rounds]] map-side-combined integer-gradient
  * aggregates over the persisted 6-column feature table (zero
  * shuffle, bit-identical by the order-free-sum contract); rescoring
  * is a narrow projection; the conformal order statistic is the
  * round-14 value-histogram form (shuffle bounded by the score
  * ladder); the per-source prefix-take re-flows over the state table
  * BUCKETED BY source AND SORTED BY (source, doc_id), so the window
  * runs without an exchange OR a sort ([[CurationRefreshSpec]] pins
  * the executed plan). Per-refresh shuffle: O(batch + ladder + Δ),
  * independent of corpus size — the families-100× protocol measures
  * it. */
object CurationRefresh {

  /** The arriving batch = doc_ids above (100 − this)% of the max id. */
  val BatchPctOfMaxId = 10L

  /** Buckets for the standing doc-state table ([[Bucketing.NumBuckets]]
    * convention: sized for local-mode file counts; thousands at
    * 100 TB). */
  val StateBuckets = 16

  private val callSeq = new AtomicLong(0)
  private val runTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Catalog names of the standing state for one build. */
  final case class State(docs: String, fps: String, bands: String,
      hsets: String, grams: String, threshold: Long) {
    def tables: Seq[String] = Seq(docs, fps, bands, hsets, grams)
  }

  /** Single-pass heavy projection (r15): tokenize ONCE per row and
    * derive every text-derived artifact from the shared token array —
    * funnel columns (n_tokens, fp), classifier features (y, x1..x5),
    * shingle hashes (hs) and gram hashes (gs). Before r15 the build and
    * the refresh each ran FOUR separate whole-side tokenizations (cfun,
    * featsFrom, chsets, cgrams) behind three eager checkpoints; q255
    * was 190 serial jobs whose largest stage was 0.7 s (guide §1.2
    * step 1: don't compute things twice; §2.6). `tk` is multi-
    * referenced and non-cheap, so CollapseProject leaves the first
    * projection alone and every derivation reads the array (the
    * TextOps convention). Expression trees are shared verbatim with
    * featsFrom / funnelStaged, so the values are bit-identical. */
  private def heavyProjection(docs: DataFrame): DataFrame =
    docs
      .select(Seq(col("doc_id"), col("lang"), col("source")) ++
        QualityClassifier.featPrepCols: _*)
      .select(Seq(col("doc_id"), col("lang"), col("source"),
        size(col("tk")).cast("long").as("n_tokens"),
        polyHashCol(array_join(col("tk"), " ")).as("fp"),
        graft.functions.NativeExprs
          .shingleHashes(col("tk"), ShingleW, P).as("hs"),
        graft.functions.NativeExprs
          .gramHashes(col("tk"), DedupOps.SpanW, P).as("gs")) ++
        QualityClassifier.featDeriveCols: _*)

  /** Overlap independent Spark-action chains (guide §2.6) — the
    * refresh is round-latency-bound, not data-bound. */
  private def awaitAll[A](fs: Seq[() => A]): Seq[A] = graft.plans.Par.all(fs)

  /** The corpus/batch id threshold: docs with id ≤ T are the standing
    * corpus, ids above are the arriving batch. */
  private def idThreshold(all: DataFrame): Long = {
    val maxId = all.agg(max(col("doc_id"))).first().getLong(0)
    maxId - (maxId * BatchPctOfMaxId) / 100
  }

  // ------------------------------------------------------------- build

  /** "Yesterday's job": build the standing state from the corpus side
    * only. Persists five artifacts:
    *  - `docs`  — per-doc compact state (funnel columns, features,
    *    immutable exact/substring verdicts, near-dup rep), bucketed by
    *    source and sorted by (source, doc_id) so the refresh's
    *    prefix-take window needs no exchange and no sort;
    *  - `fps`   — fingerprint → keep_id exact-dedup index;
    *  - `bands` — LSH band index (b, bkey, doc_id, rep), the near-dup
    *    probe target;
    *  - `hsets` — doc_id → (shingle set, size, minhash signature) for
    *    candidate verification;
    *  - `grams` — gram posting index (g → incidence, owner), ALL grams
    *    (an nd = 1 gram can become duplicated when the batch re-lands
    *    it, so the index must witness singletons too). */
  def buildState(spark: SparkSession, dir: String): State =
    buildStateAt(spark, dir, None)

  /** [[buildState]] at an explicit id threshold — the 100× protocol
    * holds the ABSOLUTE batch size fixed while the corpus grows, so
    * the per-refresh shuffle-invariance claim is measured against a
    * constant batch, not a proportional one. */
  def buildStateAt(spark: SparkSession, dir: String,
      threshold: Option[Long]): State = {
    val n = callSeq.incrementAndGet()
    def t(s: String) = s"graft_q255_${s}_${runTag}_$n"
    val all = Tables.spread(Tables.documents(spark, dir))
    val st = State(t("docs"), t("fps"), t("bands"), t("hsets"), t("grams"),
      threshold.getOrElse(idThreshold(all)))
    val corpus = all.filter(col("doc_id") <= st.threshold)

    // ONE corpus tokenization (r15, see heavyProjection): funnel
    // columns, features, shingles, grams all derive from this
    // checkpoint; the per-artifact frames below are narrow selects.
    val heavy = Barrier.eager(heavyProjection(corpus))
    val cfun = heavy.select(col("doc_id"), col("lang"), col("source"),
      col("n_tokens"), col("fp"))
    val cfeats = heavy.select(col("doc_id"), col("y"), col("x1"),
      col("x2"), col("x3"), col("x4"), col("x5"))
    val chsets = heavy.select(col("doc_id"), col("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("n", size(col("hs")))
    val cgrams = heavy.select(col("doc_id"), col("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("g"))

    // exact index: min-id election per fingerprint (nulls group)
    val cKeep = cfun.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))

    // r15: the index builds form a small dependency DAG off `heavy` —
    // run it with futures (guide §2.6) instead of ~12 serial jobs:
    //   fps ∥ (LSH→CC→rep) ∥ grams ∥ hsets, then
    //   bands (needs rep + hsets) ∥ csub (needs grams) ∥ docs (needs
    //   rep + csub) — the band write fully overlaps the docs write.
    {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val fFps = Future { cKeep.write.mode("overwrite").saveAsTable(st.fps) }
        // near-dup: corpus-internal verified pairs → components → rep map
        val fRep = Future { Barrier.eager(DedupOps.starComponents(
          DedupOps.minhashLshFrom(chsets).select(col("d1"), col("d2")))._1) }
        // gram posting index (immutable corpus substring evidence)
        val fGrams = Future {
          cgrams.select(col("g"), col("doc_id")).distinct()
            .groupBy(col("g"))
            .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
            .write.mode("overwrite").saveAsTable(st.grams)
        }
        // doc_id → (shingle set, size, signature) candidate-verify table
        val fHsets = Future {
          chsets.select(col("doc_id"), col("hs"), col("n"),
              minhashSigCol(col("hs")).as("sig"))
            .write.mode("overwrite").saveAsTable(st.hsets)
        }
        // corpus substring ledger off the gram postings
        val fCsub = fGrams.map { _ =>
          Barrier.eager(cgrams
            .join(spark.table(st.grams).filter(col("nd") >= 2), Seq("g"), "left")
            .groupBy(col("doc_id"))
            .agg(any_value(col("n_grams")).cast("long").as("n_grams"),
              count(when(col("nd").isNotNull && col("owner") < col("doc_id"), 1))
                .as("n_removable"))
            .select(col("doc_id"),
              (expr("(n_removable * 10000) div n_grams") >= DedupOps.SubstrDropBp)
                .as("sub_drop")))
        }
        // band index carries the member's REP so probe hits contract
        // straight to cluster space (no corpus-sized join at refresh time)
        val fBands = for { cclRep <- fRep; _ <- fHsets } yield {
          spark.table(st.hsets)
            .select(col("doc_id"), col("sig"),
              explode(sequence(lit(0), lit(Bands - 1))).as("b"))
            .select(col("doc_id"), col("b"),
              bandKeyCol(col("sig"), col("b")).as("bkey"))
            .join(cclRep.withColumnRenamed("rep_id", "rep"), Seq("doc_id"), "left")
            .select(col("b"), col("bkey"), col("doc_id"),
              coalesce(col("rep"), col("doc_id")).as("rep"))
            .write.mode("overwrite").saveAsTable(st.bands)
        }
        val cclRep = Await.result(fRep, Duration.Inf)
        val csub = Await.result(fCsub, Duration.Inf)
        // the compact per-doc state, bucketed for the exchange-free
        // reflow — runs while the band index is still writing
        cfun
          .join(cKeep.withColumnRenamed("fp", "efp"), col("fp") <=> col("efp"))
          .drop("efp")
          .join(cfeats, Seq("doc_id"))
          .join(cclRep, Seq("doc_id"), "left")
          .join(csub, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
            col("fp"), col("y"), col("x1"), col("x2"), col("x3"), col("x4"),
            col("x5"),
            (col("doc_id") =!= col("keep_id")).as("exact_drop"),
            coalesce(col("sub_drop"), lit(false)).as("sub_drop"),
            coalesce(col("rep_id"), col("doc_id")).as("rep"))
          .repartition(StateBuckets, col("source"))
          .write.bucketBy(StateBuckets, "source").sortBy("source", "doc_id")
          .mode("overwrite").saveAsTable(st.docs)
        Await.result(fBands, Duration.Inf)
        Await.result(fFps, Duration.Inf)
      } finally pool.shutdown()
    }
    st
  }

  // ----------------------------------------------------------- refresh

  /** "Today's job": admit the arriving batch against the standing
    * state and emit the refreshed manifest — equal to q254's full
    * recompute over corpus ∪ batch. Heavy text work happens for BATCH
    * rows only; the corpus side is probed (fingerprints, bands,
    * grams), broadcast-patched (rep remaps), and narrowly re-scanned
    * (rescore + reflow over the bucketed state — no exchange). */
  def refresh(spark: SparkSession, dir: String, st: State): DataFrame = {
    val all = Tables.spread(Tables.documents(spark, dir))
    val batch = all.filter(col("doc_id") > st.threshold)

    // batch featurization — the only tokenization in the refresh, and
    // (r15) ONE pass: every batch artifact derives from this checkpoint
    val bheavy = Barrier.eager(heavyProjection(batch))
    val bfun = bheavy.select(col("doc_id"), col("lang"), col("source"),
      col("n_tokens"), col("fp"))
    val bfeats = bheavy.select(col("doc_id"), col("y"), col("x1"),
      col("x2"), col("x3"), col("x4"), col("x5"))
    val bhsets = bheavy.select(col("doc_id"), col("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("n", size(col("hs")))
    val bgrams = bheavy.select(col("doc_id"), col("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("g"))
    val stDocs = spark.table(st.docs)

    // r15: the four maintenance chains — exact probe, near-dup
    // probe+CC, gram-posting merge, retrain — are mutually independent
    // given `bheavy` and the standing tables; overlap them (guide §2.6)
    // so the CC rounds and the 16 sequential gradient jobs back-fill
    // each other's barriers instead of running strictly serially.
    val chainResults = awaitAll(Seq(
      // -- exact: probe the fingerprint index (corpus keepers
      // immutable; within-batch min-id election merges below the probe)
      () => {
        val bfpMin = bfun.groupBy(col("fp")).agg(min(col("doc_id")).as("bkeep"))
        val fpProbe = spark.table(st.fps).withColumnRenamed("fp", "sfp")
          .join(broadcast(bfpMin), col("sfp") <=> col("fp"))
          .select(col("fp"), col("keep_id"))
        Barrier.eager(bfun.select(col("doc_id"), col("fp"))
          .join(broadcast(bfpMin.withColumnRenamed("fp", "bfp")),
            col("fp") <=> col("bfp"))
          .join(broadcast(fpProbe.withColumnRenamed("fp", "pfp")),
            col("fp") <=> col("pfp"), "left")
          .select(col("doc_id"),
            (col("doc_id") =!= coalesce(col("keep_id"), col("bkeep")))
              .as("exact_drop")))
      },
      // -- near-dup: batch bands probe the corpus band index
      // (candidates are batch-incident only), batch×batch runs the
      // verified pipeline; contracted component graph over reps+batch
      () => {
        val bsigs = Barrier.eager(bhsets.select(col("doc_id"), col("hs"), col("n"),
          minhashSigCol(col("hs")).as("sig")))
        val bbands = bsigs
          .select(col("doc_id"), col("sig"),
            explode(sequence(lit(0), lit(Bands - 1))).as("b"))
          .select(col("doc_id"), col("b"),
            bandKeyCol(col("sig"), col("b")).as("bkey"))
        val candBC = Barrier.eager(spark.table(st.bands)
          .join(broadcast(bbands.select(col("b"), col("bkey"),
            col("doc_id").as("nid"))), Seq("b", "bkey"))
          .select(col("nid"), col("doc_id").as("cid"), col("rep").as("crep"))
          .distinct())
        // verification joins fetch shingles/signatures for candidates only
        val verifiedBC = candBC
          .join(bsigs.select(col("doc_id").as("nid"), col("hs").as("hs1"),
            col("n").as("n1"), col("sig").as("sig1")), Seq("nid"))
          .join(spark.table(st.hsets).join(
              broadcast(candBC.select(col("cid")).distinct()),
              col("doc_id") === col("cid"))
            .select(col("cid").as("cid2"), col("hs").as("hs2"),
              col("n").as("n2"), col("sig").as("sig2")),
            col("cid") === col("cid2"))
          .withColumn("n_agree", size(filter(
            zip_with(col("sig1"), col("sig2"), (x, y) => x === y), p => p)))
          .filter(col("n_agree") >= DedupOps.AgreeCut)
          .withColumn("shared", size(array_intersect(col("hs1"), col("hs2"))))
          .withColumn("jaccard", round(
            col("shared").cast("double") / (col("n1") + col("n2") - col("shared")), 4))
          .filter(col("jaccard") >= DedupOps.JaccardThreshold)
          .select(col("nid"), col("crep"))
        val pairsBB = DedupOps.minhashLshFrom(bhsets).select(col("d1"), col("d2"))
        Barrier.eager(DedupOps.starComponents(
          verifiedBC.select(col("nid").as("d1"), col("crep").as("d2"))
            .unionByName(pairsBB))._1)
      },
      // -- substring: merge batch incidence into the posting probe
      () => {
        val bDistinctG = bgrams.select(col("g"), col("doc_id")).distinct()
        val binc = Barrier.eager(bDistinctG.groupBy(col("g"))
          .agg(count(lit(1)).as("bnd"), min(col("doc_id")).as("bowner")))
        val touched = spark.table(st.grams)
          .join(broadcast(binc.select(col("g"))), Seq("g"))
          .select(col("g"), col("nd"), col("owner"))
        val mergedInc = binc.join(touched, Seq("g"), "left")
          .select(col("g"),
            (col("bnd") + coalesce(col("nd"), lit(0L))).as("nd_all"),
            coalesce(col("owner"), col("bowner")).as("owner_all"))
        Barrier.eager(bgrams.join(mergedInc, Seq("g"))
          .groupBy(col("doc_id"))
          .agg(any_value(col("n_grams")).cast("long").as("n_grams"),
            count(when(col("nd_all") >= 2 && col("owner_all") < col("doc_id"), 1))
              .as("n_removable"))
          .select(col("doc_id"),
            (expr("(n_removable * 10000) div n_grams") >= DedupOps.SubstrDropBp)
              .as("sub_drop")))
      },
      // -- retrain: map-side integer-gradient aggregates over state ∪
      // batch features; bit-identical to training from text
      () => {
        val featCols = Seq("doc_id", "y", "x1", "x2", "x3", "x4", "x5").map(col)
        QualityClassifier.learnFrom(
          stDocs.select(featCols: _*).unionByName(bfeats.select(featCols: _*)))._1
      }))
    val bexact = chainResults(0).asInstanceOf[DataFrame]
    val deltaMap = chainResults(1).asInstanceOf[DataFrame]
    val bsub = chainResults(2).asInstanceOf[DataFrame]
    val w = chainResults(3).asInstanceOf[Array[Long]]
    // corpus rep remap: only reps whose component min changed
    val repMap = deltaMap
      .filter(col("doc_id") <= st.threshold && col("rep_id") =!= col("doc_id"))
      .select(col("doc_id").as("old_rep"), col("rep_id").as("new_rep"))
    val bRep = deltaMap.filter(col("doc_id") > st.threshold)
      .select(col("doc_id"), col("rep_id"))
    val sU = (-QualityClassifier.logitCol(w)).as("s_u")
    val splitB =
      (polyHashCol(concat_ws(":", col("source"), col("doc_id"))) % 100)
        .as("split_bucket")

    // -- conformal threshold: round-14 value-histogram order statistic
    // over corpus-state + batch 'val' scores (ladder-bounded shuffle)
    val valScores = stDocs.select(col("source"), col("doc_id"), sU, splitB)
      .unionByName(bfeats.join(bfun.select(col("doc_id"), col("source")),
        Seq("doc_id")).select(col("source"), col("doc_id"), sU, splitB))
      .filter(col("split_bucket") >= TextOps.TrainPct &&
        col("split_bucket") < TextOps.ValPct)
      .select(col("s_u"))
    val ladder = valScores.groupBy(col("s_u")).agg(count(lit(1)).as("cnt"))
    val cum = ladder.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("s_u"))))
    val nCal = valScores.agg(count(lit(1)).as("n_cal"))
    val thr = cum.crossJoin(broadcast(nCal))
      .withColumn("k_idx", expr(
        s"least(((n_cal + 1) * (100 - ${CurationPipeline.AlphaPct}) + 99) div 100, n_cal)"))
      .agg(min(when(col("cum") >= col("k_idx"), col("s_u"))).as("thr_s_u"))

    // -- corpus reflow: broadcast-patch reps, rescore, admit, prefix-
    // take — all on the bucketed state scan, no exchange, no sort
    val corpusState = stDocs
      .join(broadcast(repMap), col("rep") === col("old_rep"), "left")
      .withColumn("rep2", coalesce(col("new_rep"), col("rep")))
      .withColumn("stage",
        when(col("exact_drop"), "exact")
          .when(col("rep2") =!= col("doc_id"), "near")
          .when(col("sub_drop"), "substring")
          .otherwise("keep"))
      .withColumn("s_u", sU)
    val admCorpus = corpusState.filter(col("stage") === "keep")
      .crossJoin(broadcast(thr))
      .filter(col("s_u") <= col("thr_s_u"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("fp"), col("rep2").as("rep"))

    // -- batch staging (exact → near → substring → keep)
    val admBatch = bfun
      .join(broadcast(bexact), Seq("doc_id"))
      .join(broadcast(bRep), Seq("doc_id"), "left")
      .join(broadcast(bsub), Seq("doc_id"), "left")
      .withColumn("rep2", coalesce(col("rep_id"), col("doc_id")))
      .withColumn("stage",
        when(col("exact_drop"), "exact")
          .when(col("rep2") =!= col("doc_id"), "near")
          .when(coalesce(col("sub_drop"), lit(false)), "substring")
          .otherwise("keep"))
      .join(bfeats.select(col("doc_id"), sU), Seq("doc_id"))
      .filter(col("stage") === "keep")
      .crossJoin(broadcast(thr))
      .filter(col("s_u") <= col("thr_s_u"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("fp"), col("rep2").as("rep"))

    // -- waterfill over merged availability (map-side to source rows)
    val avail = admCorpus.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("a1"))
      .join(admBatch.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("a2")), Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("a1"), lit(0L)) + coalesce(col("a2"), lit(0L)))
          .cast("long").as("avail"))
    val plan = MixturePlan.waterfillOn(avail).select(col("source"), col("alloc"))

    // -- prefix-take: corpus cum needs no batch (batch ids sort after
    // every corpus id per source); batch cum = corpus admitted total +
    // batch-internal prefix
    val wCum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selCorpus = admCorpus.join(broadcast(plan), Seq("source"))
      .withColumn("cum", sum(col("n_tokens")).over(wCum))
      .filter(col("cum") <= col("alloc"))
    val cTot = admCorpus.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("ctot"))
    val selBatch = admBatch.join(broadcast(plan), Seq("source"))
      .join(broadcast(cTot), Seq("source"), "left")
      .withColumn("cum",
        coalesce(col("ctot"), lit(0L)) + sum(col("n_tokens")).over(wCum))
      .filter(col("cum") <= col("alloc"))

    // -- manifest: cluster-atomic split by rep bucket, monoid rollup
    val sel = selCorpus.select(col("lang"), col("n_tokens"), col("fp"), col("rep"))
      .unionByName(selBatch.select(col("lang"), col("n_tokens"), col("fp"), col("rep")))
    sel
      .withColumn("bucket",
        polyHashCol(concat(lit("rep:"), col("rep").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < TextOps.TrainPct, "train")
          .when(col("bucket") < TextOps.ValPct, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        sum(col("fp")).cast("long").as("digest_u"))
  }

  /** The q255 query: build the standing state (yesterday's job), run
    * the incremental refresh (today's job), return the refreshed
    * manifest. The result is materialized before the state tables are
    * dropped, so the returned frame has no catalog dependency. */
  def curationRefresh(spark: SparkSession, dir: String): DataFrame = {
    val st = buildState(spark, dir)
    try Barrier.eager(refresh(spark, dir, st), required = true)
    finally st.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

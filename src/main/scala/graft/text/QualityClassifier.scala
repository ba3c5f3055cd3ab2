package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.plans.Barrier

/** Trained linear quality classifier (q146) — the fastText-style
  * learned filter stage of an LLM data pipeline (CCNet / GPT-3 "quality
  * classifier" stage): instead of hand-tuned rule thresholds (q17/q113),
  * LEARN a linear model over cheap text features against a weak label
  * and route documents by its score. Weak label here: the metadata
  * min-length gate `n_chars >= 300` — the distillation shape (learn to
  * imitate a rule/metadata gate from cheap TEXT features, then apply
  * the linear scorer where the metadata is absent). On this synthetic
  * corpus the learnable text signal is length-shaped by construction
  * (generator text is i.i.d. across langs and sources), so the label
  * choice is the honest one; on a real corpus the identical operator
  * learns real quality labels (wiki-vs-crawl, etc.). Features:
  * capped length, average word length, digit/uppercase density, and
  * stopword hit rate — all single-pass, shuffle-free projections.
  *
  * TRAINING is distributed full-batch gradient descent in the exact
  * shape Spark MLlib uses: each of [[Rounds]] rounds is ONE map-side-
  * combined 6-column aggregate over the feature table (fixed-width,
  * materialized once); the only driver artifact is 6 longs per round.
  * At 100 TB the gradient pass is embarrassingly parallel and the
  * feature table is a narrow projection of the corpus — the canonical
  * "collect only model-sized artifacts" convention (q80 Lloyd, q144
  * BPE).
  *
  * DETERMINISM is engineered to be cross-engine BIT-EXACT, so the
  * oracle can re-run the whole training relationally (q144's unrolled-
  * CTE convention) and land on identical weights:
  *  - the link is the ALGEBRAIC sigmoid σ̃(z) = 0.5 + z/(2(1+|z|)) —
  *    only IEEE +,−,×,÷,|·| (no libm exp whose last-ulp may differ
  *    between engines), smooth, bounded in (0,1), overflow-free;
  *  - per-doc gradient contributions are quantized to integer
  *    micro-units via floor(g·10⁶ + 0.5) — LONG sums are order-free, so
  *    1 partition or 1000 executors give the same gradient;
  *  - weights live in integer micro-units; the update
  *    w ← w − 4G/n uses truncating integer division (Scala `/` and
  *    DuckDB `//` agree on truncation toward zero);
  *  - every double expression (features, z, σ̃) is written with the
  *    SAME operation tree in both engines — IEEE arithmetic is
  *    deterministic given identical ops in identical order.
  * The output carries no raw floats at all: the score is the micro-unit
  * logit as a BIGINT (`logit_u`), so no rounding/−0.0 hash hazard
  * exists, and `w_fp` fingerprints the learned weight vector itself —
  * training equality is pinned per row. */
object QualityClassifier {

  /** Full-batch GD rounds; with the ×4 learning rate this converges on
    * the corpus (spec-pinned > majority + 0.15) while keeping the
    * oracle's unrolled CTE chain compact. */
  val Rounds = 16

  /** Fixed-point scale: micro-units per 1.0. */
  val Micro = 1000000L

  /** English stopword probe list (distinct-hit rate is feature x5). */
  val Stops: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "was", "for", "on", "with", "as", "at", "by", "it",
    "this", "that", "be")

  private def stopsSql: String = Stops.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Per-doc label + feature projection: one narrow pass, no shuffle.
    * x1 capped length, x2 scaled avg word length, x3 digit density,
    * x4 ASCII-uppercase density, x5 distinct-stopword hit rate. */
  private def feats(spark: SparkSession, dir: String): DataFrame =
    featsFrom(Tables.spread(Tables.documents(spark, dir)))

  /** [[feats]] over an explicit documents frame (needs doc_id,
    * n_chars, text) — the q255 seam: the refresh computes batch
    * features with the IDENTICAL expression tree, so state ∪ batch
    * training is bit-identical to full-corpus training. */
  private[graft] def featsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: featPrepCols: _*)
      .select(col("doc_id") +: featDeriveCols: _*)

  /** First-projection columns of [[featsFrom]]: the token array plus
    * the text-length counters. Exposed so q255's single-pass heavy
    * projection can compute `tk` ONCE per row and share it between the
    * funnel/shingle/gram columns and these features (CollapseProject
    * leaves a non-cheap multi-referenced alias alone, so the downstream
    * references read the array instead of re-tokenizing — the TextOps
    * convention). */
  private[graft] def featPrepCols: Seq[Column] = Seq(
    col("n_chars"),
    tokensCol(col("text")).as("tk"),
    length(col("text")).as("lc"),
    length(regexp_replace(col("text"), "[^0-9]", "")).as("nd"),
    length(regexp_replace(col("text"), "[^A-Z]", "")).as("nu"))

  /** The (y, x1..x5) derivations over a [[featPrepCols]] projection —
    * the exact expression trees the oracle unrolls; any caller that
    * shares them (q255) is bit-identical to [[featsFrom]] by
    * construction. */
  private[graft] def featDeriveCols: Seq[Column] = Seq(
    when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"),
    (least(size(col("tk")), lit(500)) / lit(100.0)).as("x1"),
    (col("lc") / (greatest(size(col("tk")), lit(1)) * lit(10.0))).as("x2"),
    (col("nd") / greatest(col("lc"), lit(1))).as("x3"),
    (col("nu") / greatest(col("lc"), lit(1))).as("x4"),
    (size(array_intersect(col("tk"), array(Stops.map(lit): _*)))
      / greatest(size(col("tk")), lit(1))).as("x5"))

  /** z = w·x with micro-unit weights, left-associated exactly as the
    * oracle writes it. */
  private def zCol(w: Array[Long]): Column = {
    val wd = w.map(_.toDouble / 1000000.0)
    lit(wd(0)) + lit(wd(1)) * col("x1") + lit(wd(2)) * col("x2") +
      lit(wd(3)) * col("x3") + lit(wd(4)) * col("x4") + lit(wd(5)) * col("x5")
  }

  /** σ̃(z) − y in the oracle's exact operation tree. */
  private def residCol(z: Column): Column =
    (lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))) - col("y")

  /** Learn micro-unit weights: [[Rounds]] × (one 6-column long-sum
    * aggregate + 6-long collect). Returns (weights, materialized
    * feature table) so scoring reuses the same barrier. */
  def learn(spark: SparkSession, dir: String): (Array[Long], DataFrame) =
    learnFrom(feats(spark, dir))

  /** [[learn]] from a prebuilt (doc_id, y, x1..x5) feature table — the
    * q255 seam. The gradient is an integer-quantized order-free SUM,
    * so ANY partitioning of the input (state parquet, state ∪ batch
    * union, text-derived) yields bit-identical weights. */
  private[graft] def learnFrom(feats0: DataFrame): (Array[Long], DataFrame) = {
    val f = Barrier.eager(feats0)
    val n = f.count()
    // size-consolidated gradient view (~100k rows/partition, floor 1):
    // collapses the gate corpus's near-empty tasks per round, keeps
    // thousands of partitions at 100 TB (coalesce only merges) — same
    // trade as LangIdTrained.learn
    val tr = f.coalesce(math.max(1, (n / 100000L).toInt))
    var w = Array.fill(6)(0L)
    for (_ <- 0 until Rounds) {
      val r = residCol(zCol(w))
      val xs: Seq[Column] = Seq(lit(1.0), col("x1"), col("x2"),
        col("x3"), col("x4"), col("x5"))
      val g = tr.select(xs.zipWithIndex.map { case (x, j) =>
        sum(floor((r * x) * lit(1000000.0) + lit(0.5))).as(s"g$j") }: _*)
        .collect()(0)
      w = w.indices.map(j => w(j) - (4L * g.getLong(j)) / n).toArray
    }
    (w, f)
  }

  /** q146: per-doc learned score. `logit_u` is the micro-unit logit
    * (BIGINT — no float in the output), `pred` the learned routing
    * decision, `correct` its agreement with the weak label, `w_fp` the
    * fingerprint of the learned weight vector (pins training equality
    * on every row). */
  /** The micro-unit logit under a given weight vector — the scoring
    * core of [[classify]], exposed so q255 can rescore persisted
    * corpus features under refreshed weights (a narrow, shuffle-free
    * projection over any frame carrying x1..x5). */
  private[graft] def logitCol(w: Array[Long]): Column =
    floor(zCol(w) * lit(1000000.0) + lit(0.5))

  def classify(spark: SparkSession, dir: String): DataFrame = {
    val (w, f) = learn(spark, dir)
    val wFp = graft.functions.PolyHashExpr.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(w.mkString(" ")))
    f.select(col("doc_id"), col("y"),
        floor(zCol(w) * lit(1000000.0) + lit(0.5)).as("logit_u"))
      .select(col("doc_id"), col("y"), col("logit_u"),
        (col("logit_u") > 0L).as("pred"),
        ((col("logit_u") > 0L) === (col("y") === 1L)).as("correct"),
        lit(wFp).as("w_fp"))
  }

  /** Exact AUC for the learned classifier (q193) — the evaluation
    * metric a learned-filter stage ships with: AUC computed EXACTLY
    * via the Mann-Whitney rank statistic (AUC = (Σ_pos rank −
    * n₊(n₊+1)/2) / (n₊·n₋)), with ties on the integer logit handled
    * by AVERAGE rank — kept integral by doubling (rank2 = 2·minrank
    * + tiecount − 1, so U2 = Σ_pos rank2 − n₊(n₊+1) and auc_u =
    * 10⁶·U2 div (2·n₊·n₋) are exact integers; no sampling, no
    * trapezoid approximation, no float). Scores are q146's bit-exact
    * micro-unit logits, so the WHOLE chain — training, scoring,
    * ranking, metric — is pinned by one oracle hash.
    *
    * Scale shape (round 14): NO global row sort — the logits are exact
    * integers, so the rank statistic is read off the VALUE HISTOGRAM
    * (the q155/q232 exact-order-statistic shape): group by `logit_u`
    * (one map-side-combined shuffle bounded by DISTINCT logit values,
    * which the bounded features + micro-unit quantization keep far
    * below corpus size), one running sum over the distinct-value
    * ladder, and the tie-averaged rank2 of every row at value v is
    * 2·minrank + ties − 1 = 2·cum(v) − cnt(v) + 1 — so Σ_pos rank2
    * collapses to one aggregate over the ladder. Bound: 10⁶·U2 < 2⁶³
    * up to ~3·10⁶ documents per evaluation slice; beyond that, divide
    * before scaling (the q147 contract). */
  def aucExact(spark: SparkSession, dir: String): DataFrame = {
    val scored = classify(spark, dir).select(col("y"), col("logit_u"))
    val hist = scored.groupBy(col("logit_u"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("logit_u"))))
    cum.agg(
        sum(col("pos")).as("n_pos"),
        sum(col("cnt") - col("pos")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum") - col("cnt") + lit(1L)))
          .as("pos_rank2"))
      .withColumn("u2", expr("pos_rank2 - n_pos * (n_pos + 1)"))
      .withColumn("auc_u", expr("(1000000 * u2) div (2 * n_pos * n_neg)"))
      .select(col("n_pos"), col("n_neg"), col("u2"), col("auc_u"))
  }

  /** Equal-count bins for [[reliabilityDiagram]]. */
  val CalBins = 10

  /** q222: reliability diagram + expected calibration error for the
    * q146 classifier — the third leg of the evaluation stool beside
    * discrimination (q193's AUC) and repair (q204's isotonic fit): per
    * logit decile (equal-count ntile over the total (logit, doc_id)
    * order, so ties can't wander between bins), the mean PREDICTED
    * probability vs the OBSERVED positive rate, gap per bin, and the
    * count-weighted ECE (Naeini et al., AAAI'15). Predicted
    * probability is the same algebraic sigmoid the training loop uses,
    * in exact micro-units: dev_u = (|l|·10⁶) div (2(10⁶+|l|)) applied
    * by sign — the division only ever sees a NONNEGATIVE dividend
    * (σ̃ is antisymmetric around ½), making the quotient
    * rounding-mode-proof across engines. All integers end-to-end.
    *
    * Scale shape (round 14): NO global row sort — the equal-count
    * decile split is computed on the VALUE HISTOGRAM over the exact
    * integer (logit_u, y) key (q155/q232 shape). Every row inside one
    * histogram group is IDENTICAL in (y, p_u), so ntile's arbitrary
    * within-tie ordering cannot change any bin aggregate: the group
    * occupying global positions (start, cum] just contributes
    * `overlap(bin)` identical rows to each decile it spans
    * (prefix(i) = i·base + min(i, rem), the standard ntile fill).
    * One running sum over the distinct-value ladder, a ≤ CalBins-wide
    * sequence-explode per group, and map-side-combinable rollups —
    * shuffle bounded by distinct logits, not corpus size. */
  def reliabilityDiagram(spark: SparkSession, dir: String): DataFrame = {
    val scored = classify(spark, dir).select(col("y"), col("logit_u"))
      .withColumn("dev_u", expr(
        "(abs(logit_u) * 1000000) div (2 * (1000000 + abs(logit_u)))"))
      .withColumn("p_u", expr(
        "500000 + CASE WHEN logit_u >= 0 THEN dev_u ELSE -dev_u END"))
    val hist = scored.groupBy(col("logit_u"), col("y"), col("p_u"))
      .agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n_tot"))
    val cum = hist
      .withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("logit_u"), col("y"))))
      .withColumn("start", col("cum") - col("cnt"))
      .crossJoin(broadcast(tot))
      .withColumn("base", expr(s"n_tot div $CalBins"))
      .withColumn("rem", expr(s"n_tot % $CalBins"))
    // binOf(p): the decile holding global position p under ntile's
    // first-`rem`-bins-get-(base+1)-rows fill; integer div throughout,
    // guarded for the degenerate n_tot < CalBins corner (ANSI mode).
    def binOf(p: String): String =
      s"""(CASE WHEN $p <= rem * (base + 1)
         |      THEN ($p - 1) div (base + 1)
         |      ELSE rem + ($p - rem * (base + 1) - 1) div greatest(base, 1)
         | END + 1)""".stripMargin
    val spanned = cum
      .withColumn("b_lo", expr(binOf("(start + 1)")))
      .withColumn("b_hi", expr(binOf("cum")))
      .withColumn("bin_l", explode(sequence(col("b_lo"), col("b_hi"))))
      .withColumn("bin", col("bin_l").cast("int"))
      // prefix(i) = i*base + min(i, rem): positions (p_lo, p_hi] = bin i
      .withColumn("p_lo",
        expr("(bin - 1) * base + least(cast(bin - 1 as bigint), rem)"))
      .withColumn("p_hi", expr("bin * base + least(cast(bin as bigint), rem)"))
      .withColumn("ov",
        least(col("cum"), col("p_hi")) - greatest(col("start"), col("p_lo")))
    val bins = spanned.groupBy(col("bin"))
      .agg(sum(col("ov")).as("n"), sum(col("y") * col("ov")).as("n_pos"),
        sum(col("p_u") * col("ov")).as("sum_p"))
      .withColumn("avg_p_u", expr("sum_p div n"))
      .withColumn("obs_u", expr("(n_pos * 1000000) div n"))
      .withColumn("gap_u", abs(col("avg_p_u") - col("obs_u")))
    val ece = bins.agg(
      expr("sum(n * gap_u) div sum(n)").as("ece_u"))
    bins.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"), col("avg_p_u"),
        col("obs_u"), col("gap_u"), col("ece_u"))
  }

  lazy val reliabilityDiagramSql: String =
    s"""WITH base AS ($classifySql),
       |p AS (
       |  SELECT y, logit_u,
       |         500000 + CASE WHEN logit_u >= 0
       |           THEN (abs(logit_u) * 1000000) // (2 * (1000000 + abs(logit_u)))
       |           ELSE -((abs(logit_u) * 1000000) // (2 * (1000000 + abs(logit_u))))
       |         END AS p_u
       |  FROM base),
       |binned AS (
       |  SELECT y, p_u,
       |         ntile($CalBins) OVER (ORDER BY logit_u, y) AS bin
       |  FROM p),
       |bins AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(y) AS BIGINT) AS n_pos,
       |         CAST(sum(p_u) AS BIGINT) AS sum_p
       |  FROM binned GROUP BY 1),
       |g AS (
       |  SELECT bin, n, n_pos, sum_p // n AS avg_p_u,
       |         (n_pos * 1000000) // n AS obs_u,
       |         abs(sum_p // n - (n_pos * 1000000) // n) AS gap_u
       |  FROM bins),
       |e AS (SELECT CAST(sum(n * gap_u) // sum(n) AS BIGINT) AS ece_u FROM g)
       |SELECT bin, n, n_pos, CAST(avg_p_u AS BIGINT) AS avg_p_u,
       |       CAST(obs_u AS BIGINT) AS obs_u, CAST(gap_u AS BIGINT) AS gap_u,
       |       e.ece_u
       |FROM g, e""".stripMargin

  lazy val aucExactSql: String =
    s"""WITH base AS ($classifySql),
       |r AS (
       |  SELECT y,
       |         2 * rank() OVER (ORDER BY logit_u)
       |           + count(*) OVER (PARTITION BY logit_u) - 1 AS rank2
       |  FROM base),
       |a AS (
       |  SELECT CAST(sum(y) AS BIGINT) AS n_pos,
       |         CAST(sum(1 - y) AS BIGINT) AS n_neg,
       |         CAST(sum(CASE WHEN y = 1 THEN rank2 ELSE 0 END) AS BIGINT) AS pos_rank2
       |  FROM r)
       |SELECT n_pos, n_neg,
       |       pos_rank2 - n_pos * (n_pos + 1) AS u2,
       |       (1000000 * (pos_rank2 - n_pos * (n_pos + 1)))
       |         // (2 * n_pos * n_neg) AS auc_u
       |FROM a""".stripMargin

  // --------------------------------------------------------------- oracle

  private def zSql(wq: String, fq: String): String =
    s"($wq.w0/1000000.0) + ($wq.w1/1000000.0)*$fq.x1 + ($wq.w2/1000000.0)*$fq.x2 + " +
      s"($wq.w3/1000000.0)*$fq.x3 + ($wq.w4/1000000.0)*$fq.x4 + ($wq.w5/1000000.0)*$fq.x5"

  /** The oracle re-runs training relationally: the same feature SQL,
    * then [[Rounds]] unrolled CTE rounds of (score → integer gradient
    * sums → integer weight update), then the same scoring — an
    * independent engine arriving at bit-identical weights. */
  lazy val classifySql: String = {
    val ctes = new StringBuilder
    ctes ++=
      s"""feats AS MATERIALIZED (
         |  SELECT doc_id, CAST(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS BIGINT) AS y,
         |         least(len(tk), 500) / 100.0 AS x1,
         |         lc / (greatest(len(tk), 1) * 10.0) AS x2,
         |         nd / greatest(lc, 1) AS x3,
         |         nu / greatest(lc, 1) AS x4,
         |         len(list_intersect(tk, $stopsSql)) / greatest(len(tk), 1) AS x5
         |  FROM (SELECT doc_id, n_chars, ${tokensSql("text")} AS tk, length(text) AS lc,
         |               length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd,
         |               length(regexp_replace(text, '[^A-Z]', '', 'g')) AS nu
         |        FROM documents)),
         |st AS (SELECT count(*) AS n FROM feats),
         |w0 AS (SELECT ${(0 to 5).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")})""".stripMargin
    for (r <- 0 until Rounds) {
      val resid = s"((0.5 + z/(2.0*(1.0+abs(z)))) - y)"
      val xref = Seq("1.0", "x1", "x2", "x3", "x4", "x5")
      ctes ++= ",\n"
      ctes ++=
        s"""p$r AS (SELECT f.*, ${zSql("w", "f")} AS z
           |        FROM feats f CROSS JOIN w$r w),
           |g$r AS (SELECT ${(0 to 5).map(j =>
                      s"sum(CAST(floor(($resid * ${xref(j)}) * 1000000.0 + 0.5) AS BIGINT)) AS g$j")
                      .mkString(",\n           ")}
           |        FROM p$r),
           |w${r + 1} AS MATERIALIZED (
           |  SELECT ${(0 to 5).map(j => s"w.w$j - ((4*g.g$j) // s.n) AS w$j").mkString(", ")}
           |  FROM w$r w CROSS JOIN g$r g CROSS JOIN st s)""".stripMargin
    }
    val wcat = (0 to 5).map(j => s"CAST(w$j AS VARCHAR)")
      .mkString(" || ' ' || ")
    s"""WITH $ctes,
       |fin AS (SELECT f.doc_id, f.y,
       |               CAST(floor((${zSql("w", "f")}) * 1000000.0 + 0.5) AS BIGINT) AS logit_u
       |        FROM feats f CROSS JOIN w$Rounds w),
       |wf AS (SELECT ${polyHashSql(wcat)} AS fp FROM w$Rounds)
       |SELECT doc_id, y, logit_u, logit_u > 0 AS pred,
       |       (logit_u > 0) = (y = 1) AS correct, wf.fp AS w_fp
       |FROM fin CROSS JOIN wf""".stripMargin
  }

  /** Miscoverage levels (percent) the conformal gate is evaluated at. */
  val ConformalAlphas = Seq(10L, 20L)

  /** q225: split-conformal admission gate over the learned quality
    * score (Vovk et al.'s conformal prediction, the split/inductive
    * form of Papadopoulos'02 / Lei'18) — the distribution-free way to
    * turn q146's raw logit into a gate with a COVERAGE KNOB: on the
    * held-out calibration split ('val', disjoint from training by the
    * q97 leak-proof hash split), take the ⌈(1−α)(n+1)⌉-th smallest
    * nonconformity score (s = −logit, higher = worse); on 'test',
    * admit docs at or under that threshold. Finite-sample guarantee:
    * an exchangeable conforming doc is admitted with probability
    * ≥ 1−α — no distributional assumption, no refit per α. Ledger per
    * α ∈ {10%, 20%}: calibration size, order-statistic index, the
    * integer threshold, test admit counts/rate, and the
    * calibration-side coverage sanity rate (≥ 1−α by construction).
    *
    * Scale shape: scoring is the q146 narrow map; the order statistic
    * is the exact value-histogram form (round 14 — no designed sort
    * even on a huge val split: one grouped shuffle bounded by distinct
    * integer scores); thresholds are a 2-row broadcast against the
    * test split, so the corpus-sized side is touched by exactly one
    * codegen'd pass. */
  /** The scored corpus with its leak-proof split — (doc_id, s_u,
    * split), checkpointed (referenced by the cal rank, the test scan,
    * and the coverage scan). */
  private[graft] def conformalScoredSplit(spark: SparkSession, dir: String): DataFrame = {
    val scored = classify(spark, dir)
      .select(col("doc_id"), (-col("logit_u")).as("s_u"))
    val split = TextOps.hashSplit(spark, dir).select(col("doc_id"), col("split"))
    scored.join(split, "doc_id")
      .transform(Barrier.eager(_))
  }

  /** The calibrated thresholds — one row per α: (alpha_pct, n_cal,
    * k_idx, thr_s_u). Split out of [[conformalGate]] so the curation
    * composition (q254) can apply the SAME calibrated admission rule
    * corpus-wide. */
  private[graft] def conformalThr(j: DataFrame): DataFrame = {
    import j.sparkSession.implicits._
    // Round 14: NO global row sort — the k-th order statistic of the
    // integer nonconformity score is read off the VALUE HISTOGRAM
    // (q155/q232 shape): the k-th smallest (s_u, doc_id) pair has the
    // s_u of the first ladder value whose cumulative count reaches k
    // (doc_id only ordered WITHIN ties, where s_u is constant), so the
    // corpus-sized val split shuffles once into a distinct-value
    // ladder and the threshold is a broadcast-sized lookup.
    val cal = j.filter(col("split") === "val")
    val hist = cal.groupBy(col("s_u")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("s_u"))))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val ks = ConformalAlphas.toDF("alpha_pct").crossJoin(broadcast(nCal))
      .withColumn("k_idx",
        expr("least(((n_cal + 1) * (100 - alpha_pct) + 99) div 100, n_cal)"))
    cum.crossJoin(broadcast(ks))
      .groupBy(col("alpha_pct"), col("n_cal"), col("k_idx"))
      .agg(min(when(col("cum") >= col("k_idx"), col("s_u"))).as("thr_s_u"))
      .select(col("alpha_pct"), col("n_cal"), col("k_idx"), col("thr_s_u"))
  }

  def conformalGate(spark: SparkSession, dir: String): DataFrame = {
    val j = conformalScoredSplit(spark, dir)
    val cal = j.filter(col("split") === "val")
    val thr = broadcast(conformalThr(j))
    val admitted = j.filter(col("split") === "test").crossJoin(thr)
      .groupBy(col("alpha_pct"), col("n_cal"), col("k_idx"), col("thr_s_u"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("s_u") <= col("thr_s_u"), 1L).otherwise(0L)).as("n_admit"))
      .withColumn("admit_ppm", expr("(n_admit * 1000000) div n_test"))
    val calCov = cal.crossJoin(broadcast(thr.select(
        col("alpha_pct").as("a2"), col("thr_s_u").as("t2"))))
      .groupBy(col("a2"))
      .agg(sum(when(col("s_u") <= col("t2"), 1L).otherwise(0L)).as("n_cal_within"))
    admitted.join(calCov, col("alpha_pct") === col("a2"))
      .select(col("alpha_pct"), col("n_cal"), col("k_idx"), col("thr_s_u"),
        col("n_test"), col("n_admit"), col("admit_ppm"),
        expr("(n_cal_within * 1000000) div n_cal").as("cal_cov_ppm"))
  }

  lazy val conformalGateSql: String = {
    val alphas = ConformalAlphas
      .map(a => s"(CAST($a AS BIGINT))").mkString(", ")
    s"""WITH base AS ($classifySql),
       |sp AS (${TextOps.hashSplitSql}),
       |j AS (SELECT b.doc_id, -b.logit_u AS s_u, sp.split
       |      FROM base b JOIN sp ON b.doc_id = sp.doc_id),
       |cal AS (SELECT s_u, CAST(row_number() OVER (ORDER BY s_u, doc_id)
       |                         AS BIGINT) AS rn
       |        FROM j WHERE split = 'val'),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
       |alphas AS (SELECT * FROM (VALUES $alphas) t(alpha_pct)),
       |ks AS (SELECT alpha_pct, n_cal,
       |              least(((n_cal + 1) * (100 - alpha_pct) + 99) // 100,
       |                    n_cal) AS k_idx
       |       FROM alphas CROSS JOIN n),
       |thr AS (SELECT ks.alpha_pct, ks.n_cal, ks.k_idx, c.s_u AS thr_s_u
       |        FROM ks JOIN cal c ON c.rn = ks.k_idx),
       |tst AS (SELECT t.alpha_pct, t.n_cal, t.k_idx, t.thr_s_u,
       |               CAST(count(*) AS BIGINT) AS n_test,
       |               CAST(sum(CASE WHEN j.s_u <= t.thr_s_u THEN 1 ELSE 0 END)
       |                    AS BIGINT) AS n_admit
       |        FROM j CROSS JOIN thr t WHERE j.split = 'test'
       |        GROUP BY 1, 2, 3, 4),
       |cov AS (SELECT t.alpha_pct AS a2,
       |               CAST(sum(CASE WHEN j.s_u <= t.thr_s_u THEN 1 ELSE 0 END)
       |                    AS BIGINT) AS n_cal_within
       |        FROM j CROSS JOIN thr t WHERE j.split = 'val'
       |        GROUP BY 1)
       |SELECT tst.alpha_pct, n_cal, k_idx, thr_s_u, n_test, n_admit,
       |       CAST((n_admit * 1000000) // n_test AS BIGINT) AS admit_ppm,
       |       CAST((n_cal_within * 1000000) // n_cal AS BIGINT) AS cal_cov_ppm
       |FROM tst JOIN cov ON tst.alpha_pct = cov.a2""".stripMargin
  }
}

package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.plans.Barrier

/** Document deduplication operators over the `documents` table — the
  * dedup half of the training-data-pipeline surface (builder brief:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale design (100 TB):
  *  - exact dedup: one shuffle on a 64-bit content fingerprint (tiny
  *    shuffle payload — doc_id + hash, never the text).
  *  - n-gram Jaccard: inverted-index join on shingles (never a
  *    crossJoin); pair counting is a map-side-combined aggregate keyed
  *    by (d1, d2). Quadratic in the worst case — the bounded-candidate
  *    version is MinHash LSH below.
  *  - MinHash LSH: per-doc signature (narrow map), explode to
  *    Bands rows per doc (constant fan-out), shuffle on (band, key)
  *    buckets only, then verify candidates exactly. This is the
  *    standard shingle→minhash→band→bucket-join pipeline; shuffle
  *    volume is O(docs * Bands), independent of text size.
  *  - SimHash: single narrow map per doc → 32-bit signature; near-dup
  *    pairing at scale then joins on rotated signature bands (same
  *    banding trick), kept out of this oracle query which verifies the
  *    signature computation itself.
  */
object DedupOps {

  // ------------------------------------------------ capped bucket pair join

  /** Max rows of one LSH/hamming band bucket a single join task may
    * pair-scan. Buckets larger than this are split into a
    * ⌈m/Cap⌉ × ⌈m/Cap⌉ grid of cap-bounded cells (fragment-replicate),
    * so the full pair set is still produced — the split is EXACT, not
    * lossy — but no single task materializes more than Cap² pairs. A
    * hot bucket (templated boilerplate, near-empty docs hashing alike)
    * becomes many bounded tasks instead of one quadratic straggler. */
  val BucketCap = 64

  /** Exact bucket-capped self-join: every (r1 < r2) pair of `id`s that
    * share `keys`, with per-task pair work bounded by [[BucketCap]]².
    *
    * Rows are chunked within each bucket (`row_number` ordered by id →
    * chunk c of size ≤ cap, nc = ⌈m/cap⌉ chunks). Side A replicates a
    * row of chunk c to grid cells (c, j) for j ∈ [c, nc); side B to
    * cells (i, c) for i ∈ [0, c]; the equi-join on (keys, gx, gy) then
    * meets every pair exactly in the cell addressed by their two chunk
    * ids — chunks are id-ordered, so the (r1 < r2) orientation always
    * lands in a populated cell. Normal buckets (m ≤ cap) degenerate to
    * nc = 1 and a single un-replicated copy per side — the plain bucket
    * equi-join, no overhead. Replication for an oversized bucket is
    * nc+1 copies per row, i.e. O(m²/cap) total — the same order as the
    * pair output such a bucket already implies.
    *
    * `carry` columns (per-id payload, e.g. the signature) ride along as
    * `<name>1`/`<name>2` so callers can verify pairs without a join
    * back to the id table. */
  private[graft] def cappedPairJoin(rows: DataFrame, keys: Seq[String],
      id: String, carry: Seq[String], cap: Int = BucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
    val sized = rows
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col(id))))
      .withColumn("c", expr(s"CAST((rn - 1) div $cap AS INT)"))
      .withColumn("nc", expr(s"CAST(((m - 1) div $cap) + 1 AS INT)"))
    val a = sized.select(keys.map(col) ++ Seq(col(id).as("r1")) ++
      carry.map(c0 => col(c0).as(c0 + "1")) ++
      Seq(col("c").as("gx"), explode(sequence(col("c"), col("nc") - 1)).as("gy")): _*)
    val b = sized.select(keys.map(col) ++ Seq(col(id).as("r2")) ++
      carry.map(c0 => col(c0).as(c0 + "2")) ++
      Seq(explode(sequence(lit(0), col("c"))).as("gx"), col("c").as("gy")): _*)
    a.join(b, keys ++ Seq("gx", "gy"))
      .filter(col("r1") < col("r2"))
      .select((Seq("r1", "r2") ++ carry.map(_ + "1") ++ carry.map(_ + "2")).map(col): _*)
      .distinct()
  }

  /** Two-sided capped bucket join (the probe-an-index shape, q88):
    * every (l, r) pair sharing `keys`, with per-task pair work bounded
    * by cap². Both sides chunk within their bucket; a left row of chunk
    * cL replicates to grid cells (cL, j) for all right chunks j, a
    * right row of chunk cR to (i, cR) for all left chunks i — so one
    * hot corpus bucket × one hot batch bucket becomes an
    * ⌈mL/cap⌉ × ⌈mR/cap⌉ grid of bounded cells instead of a single
    * mL × mR task. Normal buckets degenerate to one un-replicated copy
    * per side. Exact: the grid is a partition of the pair space. */
  private[graft] def cappedProbeJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], idL: String, idR: String,
      carryL: Seq[String], carryR: Seq[String], cap: Int = BucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
    def sized(df: DataFrame, id: String) = df
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col(id))))
      .withColumn("c", expr(s"CAST((rn - 1) div $cap AS INT)"))
      .withColumn("nc", expr(s"CAST(((m - 1) div $cap) + 1 AS INT)"))
    val rChunks = right.groupBy(keys.map(col): _*)
      .agg(expr(s"CAST(((count(1) - 1) div $cap) + 1 AS INT)").as("ncR"))
    val lChunks = left.groupBy(keys.map(col): _*)
      .agg(expr(s"CAST(((count(1) - 1) div $cap) + 1 AS INT)").as("ncL"))
    val a = sized(left, idL).join(rChunks, keys)
      .select(keys.map(col) ++ Seq(col(idL)) ++ carryL.map(col) ++
        Seq(col("c").as("gx"), explode(sequence(lit(0), col("ncR") - 1)).as("gy")): _*)
    val b = sized(right, idR).join(lChunks, keys)
      .select(keys.map(col) ++ Seq(col(idR)) ++ carryR.map(col) ++
        Seq(explode(sequence(lit(0), col("ncL") - 1)).as("gx"), col("c").as("gy")): _*)
    a.join(b, keys ++ Seq("gx", "gy"))
      .select((Seq(idL, idR) ++ carryL ++ carryR).map(col): _*)
      .distinct()
  }

  // ------------------------------------------------ adaptive clean-corpus route

  /** The round-5 hardening (identical-content collapse, capped grid
    * joins, the localCheckpoint barriers between them) is insurance
    * against hot corpora — and on a CLEAN corpus it is pure tax (the
    * round-5 bench measured q34 3.6×, q72 2.0×, q88 1.8× vs the
    * unhardened round-4 pipelines). This route prices runtime
    * adaptivity — the same trade AQE makes — at ONE tiny driver job:
    *
    *  1. the banded signature index (doc_id, sig, band, bucket key —
    *     all fixed-width) is computed once and materialized; every
    *     route needs it anyway;
    *  2. the gate is a single aggregate over that index: the size of
    *     the largest band bucket;
    *  3. max bucket <= [[BucketCap]] → the LEAN route: plain bucket
    *     self-join over the index, exact AND bounded WITHOUT the
    *     hardening, because every pathology the hardening guards
    *     against lives inside an oversized bucket. An identical-content
    *     group shares every band bucket (identical sets → identical
    *     sigs → identical keys), so group size is bounded by the max
    *     bucket; no bucket scan exceeds C(cap, 2) pairs; and identical
    *     pairs verify to exactly the values the collapse would expand
    *     (jaccard 1.0, shared = n, n_agree = K) — so the lean output is
    *     byte-identical to the hardened output. Max bucket > cap → the
    *     full round-5 hardened path, unchanged (DedupScaleSpec's floods
    *     exercise exactly that route; the wasted work is one narrow
    *     banding pass the hardened path re-derives in rep space).
    *
    * The gate fails CONSERVATIVE (any hot bucket → hardened), and
    * AdaptiveDedupSpec proves route-invisibility by comparing forced
    * paths on clean, exact-dup-flooded, and hot-bucket corpora.
    * Disable with `graft.dedup.adaptive=false` (always-hardened). */
  private def adaptiveOn(df: DataFrame): Boolean =
    df.sparkSession.conf.get("graft.dedup.adaptive", "true") == "true"

  /** Doc-space banded signature index, materialized once: serves the
    * gate aggregate and, on the lean route, the bucket self-join.
    * `extra` carries routing columns (e.g. the ingest side flag)
    * through the index. */
  private def docBandIndex(hsets: DataFrame, extra: Seq[(String, Column)] = Nil): DataFrame =
    Barrier.eager(hsets
      .select(col("doc_id") +: extra.map { case (n, c) => c.as(n) } :+
        minhashSigCol(col("hs")).as("sig"): _*)
      .withColumn("b", explode(sequence(lit(0), lit(Bands - 1))))
      .withColumn("bkey", bandKeyCol(col("sig"), col("b"))))

  /** The gate: one single-row aggregate over the materialized index.
    * Empty corpus → 0 (lean). */
  private def maxBucket(bands: DataFrame): Long =
    bands.groupBy(col("b"), col("bkey")).agg(count(lit(1)).as("m"))
      .agg(coalesce(max(col("m")), lit(0L)).as("mx"))
      .collect()(0).getLong(0)

  /** Identity-shaped stand-in for [[collapseShingleSets]] on the lean
    * route: every doc is its own singleton group (bounded identical
    * groups are handled by the per-doc verify itself). Pure projection
    * — no shuffle, no barrier. */
  private def singletonGroups(hsets: DataFrame): DataFrame =
    hsets.select(col("doc_id").as("rep"),
      array(col("doc_id")).as("members"), lit(1).as("gsize"),
      col("hs"), col("n"))

  /** Lean-route candidates, or None when some bucket is hot (caller
    * falls back to the hardened rep-space pipeline). Output contract
    * matches [[minhashRepCandidates]]: (r1, r2, sig1, sig2). */
  private def cleanCandidates(hsets: DataFrame): Option[DataFrame] = {
    if (!adaptiveOn(hsets)) return None
    val bands = docBandIndex(hsets)
    if (maxBucket(bands) > BucketCap) None
    else Some {
      bands.as("a").join(bands.as("b"),
          col("a.b") === col("b.b") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("r1"), col("b.doc_id").as("r2"),
          col("a.sig").as("sig1"), col("b.sig").as("sig2"))
        .dropDuplicates("r1", "r2")
    }
  }

  /** Lean-route two-sided probe candidates (the q88 shape): ONE
    * materialized index serves both sides (split by the carried flag),
    * one gate covers both sides' buckets. Output contract:
    * (nrep, crep, sigN, sigC); None when some bucket is hot. */
  private def cleanProbeCandidates(hsets: DataFrame, isNew: Column): Option[DataFrame] = {
    if (!adaptiveOn(hsets)) return None
    val bands = docBandIndex(hsets, Seq("is_new" -> isNew))
    if (maxBucket(bands) > BucketCap) None
    else Some {
      bands.filter(col("is_new"))
        .select(col("doc_id").as("nrep"), col("sig").as("sigN"), col("b"), col("bkey"))
        .join(bands.filter(!col("is_new"))
          .select(col("doc_id").as("crep"), col("sig").as("sigC"), col("b"), col("bkey")),
          Seq("b", "bkey"))
        .select(col("nrep"), col("crep"), col("sigN"), col("sigC"))
        .dropDuplicates("nrep", "crep")
    }
  }

  // ------------------------------------- identical-content collapse / expand

  /** Collapse docs with IDENTICAL shingle sets to one representative row
    * (rep = min doc_id, members = sorted doc_id list). Exact duplicates
    * are the #1 cause of hot LSH buckets — a million copies of one page
    * share every band key — and after collapse the candidate join is
    * quadratic in DISTINCT contents, not documents; verified pairs are
    * expanded back to member pairs at the end ([[expandPairs]]), which
    * is output-proportional work.
    *
    * Grouping key: two independent 64-bit xxhash64 fingerprints of the
    * sorted hash set (+ implicit set size via the hashes) — collision
    * probability ≈ C(n,2)·2⁻¹²⁸, ~10⁻²¹ even at 10⁹ docs, and the
    * shuffle carries 16-byte fingerprints instead of the sets. */
  private[graft] def collapseShingleSets(hsets: DataFrame): DataFrame =
    hsets
      .withColumn("fpA", xxhash64(array_sort(col("hs"))))
      .withColumn("fpB", xxhash64(array_sort(col("hs")), lit(-7046029254386353131L)))
      .groupBy(col("fpA"), col("fpB"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        count(lit(1)).cast("int").as("gsize"),
        any_value(col("hs")).as("hs"),
        any_value(col("n")).as("n"))
      .drop("fpA", "fpB")

  /** Expand verified representative pairs (r1, r2, carry…) back to all
    * member doc pairs (d1 < d2, carry…). Similarity is a function of
    * the content, so every member pair inherits the rep pair's verdict
    * exactly. Output-proportional: the expansion emits precisely the
    * pairs the un-collapsed pipeline would have verified one by one. */
  private[graft] def expandPairs(repPairs: DataFrame, groups: DataFrame,
      carry: Seq[String]): DataFrame =
    repPairs
      .join(groups.select(col("rep").as("r1"), col("members").as("m1")), "r1")
      .join(groups.select(col("rep").as("r2"), col("members").as("m2")), "r2")
      .select(carry.map(col) ++ Seq(explode(col("m1")).as("ma"), col("m2")): _*)
      .select(carry.map(col) ++ Seq(col("ma"), explode(col("m2")).as("mb")): _*)
      .select(Seq(least(col("ma"), col("mb")).as("d1"),
        greatest(col("ma"), col("mb")).as("d2")) ++ carry.map(col): _*)

  /** All within-group doc pairs of multi-member groups (identical
    * content ⇒ maximal similarity, no verification needed). Members are
    * sorted, so position order IS id order: i < j ⇒ d1 < d2. */
  private[graft] def withinGroupPairs(groups: DataFrame, carry: Seq[String]): DataFrame =
    groups.filter(col("gsize") > 1)
      .select(carry.map(col) ++ Seq(col("members"),
        posexplode(col("members")).as(Seq("i", "d1"))): _*)
      .select(carry.map(col) ++ Seq(col("i"), col("d1"),
        posexplode(col("members")).as(Seq("j", "d2"))): _*)
      .filter(col("j") > col("i"))
      .select(Seq(col("d1"), col("d2")) ++ carry.map(col): _*)

  /** Documents → (doc_id, distinct shingle-hash array, set size);
    * docs with < ShingleW tokens drop out (no shingles to compare). */
  private[dedup] def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    // The testdata corpus is one small parquet file = one input split;
    // spread the CPU-heavy tokenize→shingle→hash map across all cores
    // (one tiny shuffle of raw rows — a multi-TB corpus would already
    // arrive in thousands of splits).
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs
          .shingleHashes(tokensCol(col("text")), ShingleW, P).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("n", size(col("hs")))

  // hsets MATERIALIZED: DuckDB inlines plain CTEs at every reference,
  // and the oracles that embed this prefix reference it 2-4x (band
  // self-joins, verify joins) — un-materialized, the whole
  // tokenize+shingle+hash pipeline re-ran per reference and the big
  // cluster-map oracles (q109/q168/q244) paid it 4x (r11 ask #5)
  private[dedup] val shingleHashesSql: String =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(${shinglesSql("t")}, s -> ${polyHashSql("s")})) AS hs
       |       FROM toks),
       |hsets AS MATERIALIZED (SELECT doc_id, hs, len(hs) AS n FROM sh WHERE len(hs) > 0)""".stripMargin

  // ----------------------------------------------------------- exact dedup

  /** Exact dedup on the normalized-content fingerprint: groups by the
    * rolling hash of the token stream, keeps the smallest doc_id
    * (deterministic first-wins). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        polyHashCol(array_join(tokensCol(col("text")), " ")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactDedupSql: String =
    s"""SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM (SELECT doc_id,
       |             ${polyHashSql(s"array_to_string(${tokensSql("text")}, ' ')")} AS fp
       |      FROM documents)
       |GROUP BY fp""".stripMargin

  /** Exact dedup with the KEEP-BEST policy (q105) — the other standard
    * retention rule beside [[exactDedup]]'s first-wins: within each
    * content-fingerprint cluster keep the copy with the most tokens
    * (tie → smallest doc_id). Real corpora carry truncated/mirrored
    * variants of the same document, and "keep the longest" retains the
    * most complete copy; the policy is one window spec, everything else
    * is shared with first-wins. Same scale shape: one shuffle on the
    * 64-bit fingerprint, text never shuffles. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
      .orderBy(desc("n_tokens"), col("doc_id"))
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      // tokenize ONCE per row (r15): the alias is multi-referenced and
      // non-cheap, so CollapseProject leaves it — the single-projection
      // form evaluated tokensCol twice per row (fp + n_tokens)
      .select(col("doc_id"), tokensCol(col("text")).as("tk"))
      .select(col("doc_id"),
        polyHashCol(array_join(col("tk"), " ")).as("fp"),
        size(col("tk")).as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"),
        col("n_tokens").cast("long").as("n_tokens"), col("n_copies"))
  }

  val dedupKeepBestSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |         ${polyHashSql(s"array_to_string(${tokensSql("text")}, ' ')")} AS fp,
       |         len(${tokensSql("text")}) AS n_tokens
       |  FROM documents),
       |ranked AS (
       |  SELECT fp, doc_id, n_tokens,
       |         row_number() OVER (PARTITION BY fp
       |                            ORDER BY n_tokens DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY fp) AS n_copies
       |  FROM scored)
       |SELECT fp, doc_id AS keep_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(n_copies AS BIGINT) AS n_copies
       |FROM ranked WHERE rn = 1""".stripMargin

  // -------------------------------------------------------- n-gram Jaccard

  /** Jaccard threshold shared by the exact and LSH variants. */
  val JaccardThreshold = 0.5

  /** Exact n-gram (3-shingle) Jaccard near-dup pairs (q20). EXACT — and
    * since round 12, PREFIX-FILTERED (r11 verdict ask #8): the naive
    * inverted-index self-join on every shingle hash goes quadratic on a
    * same-vocabulary corpus because hot-shingle posting lists grow
    * linearly and contribute |posting|² candidate rows (measured 11.8×
    * wall at 10× data). The Jaccard prefix filter of the set-similarity
    * -join literature (Bayardo et al. WWW'07; Xiao et al. PPJoin —
    * q145's containment machinery, re-derived for the symmetric
    * threshold) makes candidate generation sub-quadratic WITHOUT
    * changing the result set: order each doc's shingles by global
    * document frequency ascending (ties by hash — a total order), index
    * only the first |x| − ⌈τ·|x|⌉ + 1 of them, and join prefix against
    * prefix. Theorem: J(A,B) ≥ τ ⟹ the two prefixes intersect, so
    * every qualifying pair survives; the exact |∩| verification then
    * reproduces the brute output bit-for-bit. Hot shingles (the
    * quadratic mass) appear in a doc's prefix only when they are among
    * its RAREST half — i.e. almost never. The ORACLE stays the brute
    * inverted-index form, an independent completeness proof that the
    * filter dropped nothing (the q145 adjudication pattern). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = Barrier.eager(shingleHashes(spark, dir))
    val post = Barrier.eager(hs.select(
      col("doc_id"), col("n"), explode(col("hs")).as("h")))
    val dfreq = post.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val pref = post.join(dfreq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("h"))))
      .filter(expr(s"rn <= n - ceil(n * $JaccardThreshold) + 1"))
      .select(col("h"), col("doc_id"), col("n"))
    val cands = cappedPairJoin(pref, Seq("h"), "doc_id", Seq("n"))
      // length filter (PPJoin): J ≥ τ forces o ≥ τ(n1+n2)/(1+τ) and
      // o ≤ min(n1,n2), so at τ=0.5 the longer set is ≤ 2× the shorter
      // — pruned BEFORE the dedup aggregate sees the pair
      .filter(col("n1") <= col("n2") * 2 && col("n2") <= col("n1") * 2)
      .select(col("r1").as("d1"), col("r2").as("d2"),
        col("n1"), col("n2")).distinct()
    cands
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("hs1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("hs2")), "d2")
      .withColumn("shared", size(array_intersect(col("hs1"), col("hs2"))).cast("long"))
      .withColumn("jaccard", round(
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")), 4))
      // EXACT RATIONAL threshold: J ≥ 1/2 ⟺ 3·shared ≥ n1+n2 — the
      // same inequality the prefix/length bounds above are derived
      // from. Filtering on the ROUNDED jaccard instead would admit
      // pairs with true J ∈ [0.49995, 0.5) (possible once shingle-set
      // unions reach ~10k) that candidate generation legitimately
      // prunes, silently breaking the filter/output equivalence; the
      // rounded column stays in the output for display only.
      .filter(col("shared") * 3 >= col("n1") + col("n2"))
      .select(col("d1"), col("d2"), col("shared"), col("jaccard"))
  }

  val ngramJaccardSql: String =
    s"""WITH $shingleHashesSql,
       |ex AS (SELECT doc_id, n, unnest(hs) AS h FROM hsets),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared,
       |         any_value(a.n) AS n1, any_value(b.n) AS n2
       |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, shared,
       |       round(shared::DOUBLE / (n1 + n2 - shared), 4) AS jaccard
       |FROM pairs
       |WHERE 3 * shared >= n1 + n2""".stripMargin

  // ----------------------------------------------------------- MinHash LSH

  /** Tier-1 verify cut for [[minhashLsh]]/[[ingestDedup]]: candidate
    * pairs whose MinHash signature agreement is below AgreeCut/K are
    * rejected from the sketch alone — the exact shingle arrays are
    * fetched only for pairs at or above the cut. The cut is part of
    * the OPERATOR CONTRACT, applied identically by the oracle SQL from
    * the same signature constants, so cross-engine equality holds at
    * every scale by construction (the 100× protocol caught the earlier
    * formulation, where only Spark applied it: a degenerate linear-in-i
    * coefficient family — since fixed in TextExprs — let one poisoned
    * shingle crush a J=0.92 pair to 7/32 agreement, a silent recall
    * hole the shared filter now surfaces as a visible contract).
    * Recall: AgreeCut = ⌊K·(τ − ε)⌋ with τ = [[JaccardThreshold]] =
    * 0.5, ε = 0.25; a true-J ≥ τ pair has n_agree ~ Binomial(32, J),
    * so P[miss] ≈ 1.1×10⁻³ at the threshold boundary and vanishes for
    * clearer duplicates. ε is the scale knob: shrink it to fetch fewer
    * arrays, grow it toward τ for always-exact verification. */
  val AgreeCut = 8

  /** Rep-space LSH candidates: band the representatives' signatures and
    * bucket-join with [[cappedPairJoin]] (signatures carried, so tier-1
    * verification needs no join back). */
  private[graft] def minhashRepCandidates(reps: DataFrame): DataFrame = {
    val bands = reps
      .select(col("rep"), minhashSigCol(col("hs")).as("sig"))
      .select(col("rep"), col("sig"), explode(sequence(lit(0), lit(Bands - 1))).as("b"))
      .select(col("rep"), col("sig"), col("b"), bandKeyCol(col("sig"), col("b")).as("bkey"))
    cappedPairJoin(bands, Seq("b", "bkey"), "rep", Seq("sig"))
  }

  /** MinHash(K=32) + LSH(8 bands × 4 rows) near-dup detection:
    * signature → band keys → bucket join for candidates → exact
    * Jaccard verification of candidates only. Same output contract as
    * [[ngramJaccard]]; at scale the bucket join replaces the quadratic
    * inverted-index pair explosion.
    *
    * Scale hardening (all EXACT — the quadratic oracle still
    * hash-matches):
    *  1. identical shingle sets collapse to one representative before
    *     banding ([[collapseShingleSets]]) — exact-dup floods can no
    *     longer create quadratic candidates;
    *  2. the bucket self-join is capped ([[cappedPairJoin]]) — no task
    *     pair-scans more than [[BucketCap]]² rows;
    *  3. verification is tiered ([[AgreeCut]]) — the shuffle that
    *     carries full shingle arrays receives only the pairs the
    *     fixed-width signature sketch could not reject. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(shingleHashes(spark, dir))

  private[graft] def minhashLshFrom(hsetsRaw: DataFrame): DataFrame = {
    val hsets  = Barrier.eager(hsetsRaw)
    // clean-corpus fast route: one tiny gate job (max band-bucket
    // size) decides whether the collapse + capped-grid machinery is
    // needed at all
    val clean = cleanCandidates(hsets)
    val collapsed = clean.isEmpty
    // route is observable in driver logs: scale protocols record it
    System.err.println(
      s"[graft.dedup] adaptive route=${if (collapsed) "hardened" else "lean"}")
    val groups =
      if (collapsed) Barrier.eager(collapseShingleSets(hsets))
      else singletonGroups(hsets)
    val cand = clean.getOrElse(Barrier.eager(minhashRepCandidates(
      groups.select(col("rep"), col("hs")))))
    // tier 1: reject from the carried fixed-width signatures alone
    val borderline = cand
      .withColumn("n_agree", size(filter(
        zip_with(col("sig1"), col("sig2"), (x, y) => x === y), p => p)))
      .filter(col("n_agree") >= AgreeCut)
      .select("r1", "r2")
    // tier 2: exact Jaccard on the borderline subset only — the sole
    // stage that shuffles shingle arrays, and it sees |borderline| pairs
    val h1 = groups.select(col("rep").as("r1"), col("hs").as("hs1"), col("n").as("n1"))
    val h2 = groups.select(col("rep").as("r2"), col("hs").as("hs2"), col("n").as("n2"))
    val verified = borderline.join(h1, "r1").join(h2, "r2")
      .withColumn("shared", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jaccard", round(
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")), 4))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("r1"), col("r2"), col("shared"), col("jaccard"))
    if (collapsed)
      expandPairs(verified, groups, Seq("shared", "jaccard"))
        .unionByName(withinGroupPairs(groups, Seq("n"))
          .select(col("d1"), col("d2"), col("n").as("shared"), lit(1.0).as("jaccard")))
        .select(col("d1"), col("d2"), col("shared"), col("jaccard"))
    else // singleton groups: rep space IS doc space, nothing to expand
      verified.select(col("r1").as("d1"), col("r2").as("d2"),
        col("shared"), col("jaccard"))
  }

  val minhashLshSql: String =
    s"""WITH $shingleHashesSql,
       |sigs AS MATERIALIZED (SELECT doc_id, ${minhashSigSql("hs")} AS sig FROM hsets),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b, ${bandKeySql("sig", "b")} AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT d1, d2, len(list_intersect(h1.hs, h2.hs)) AS shared,
       |         h1.n AS n1, h2.n AS n2
       |  FROM cand
       |  JOIN sigs s1 ON s1.doc_id = d1
       |  JOIN sigs s2 ON s2.doc_id = d2
       |  JOIN hsets h1 ON h1.doc_id = d1
       |  JOIN hsets h2 ON h2.doc_id = d2
       |  WHERE len(list_filter(list_zip(s1.sig, s2.sig), p -> p[1] = p[2])) >= $AgreeCut)
       |SELECT d1, d2, shared,
       |       round(shared::DOUBLE / (n1 + n2 - shared), 4) AS jaccard
       |FROM verified
       |WHERE round(shared::DOUBLE / (n1 + n2 - shared), 4) >= $JaccardThreshold""".stripMargin

  // ------------------------------------------------- MinHash Jaccard estimate

  /** Sketch-based Jaccard ESTIMATION: for LSH candidate pairs, the
    * fraction of agreeing MinHash signature positions is an unbiased
    * estimator of the true Jaccard similarity (E[sig_a(i)=sig_b(i)] =
    * J(A,B)). Emitted alongside the exact value so the estimator's
    * error is visible; at 100 TB the estimate replaces the exact
    * verification entirely (no shingle sets in the shuffle, just the
    * K-long signatures). All integer arithmetic — oracle-exact. */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val hsets  = Barrier.eager(shingleHashes(spark, dir))
    // same collapse + capped-bucket machinery as q21 (identical sets
    // have identical signatures AND identical exact Jaccard vs anyone,
    // so rep-level values expand to member pairs unchanged; within a
    // group n_agree = K, shared = unioned = n by definition), with the
    // same clean-corpus fast route
    val clean = cleanCandidates(hsets)
    val collapsed = clean.isEmpty
    // route is observable in driver logs: scale protocols record it
    System.err.println(
      s"[graft.dedup] adaptive route=${if (collapsed) "hardened" else "lean"}")
    val groups =
      if (collapsed) Barrier.eager(collapseShingleSets(hsets))
      else singletonGroups(hsets)
    val cand   = clean.getOrElse(
        minhashRepCandidates(groups.select(col("rep"), col("hs"))))
      .withColumn("n_agree", size(filter(
        zip_with(col("sig1"), col("sig2"), (x, y) => x === y), p => p)))
      .select("r1", "r2", "n_agree")
    val h1 = groups.select(col("rep").as("r1"), col("hs").as("hs1"), col("n").as("n1"))
    val h2 = groups.select(col("rep").as("r2"), col("hs").as("hs2"), col("n").as("n2"))
    val repPairs = cand.join(h1, "r1").join(h2, "r2")
      .withColumn("shared", size(array_intersect(col("hs1"), col("hs2"))))
      .select(col("r1"), col("r2"), col("n_agree"), col("shared"),
        (col("n1") + col("n2") - col("shared")).as("unioned"))
    if (collapsed)
      expandPairs(repPairs, groups, Seq("n_agree", "shared", "unioned"))
        .unionByName(withinGroupPairs(groups, Seq("n"))
          .select(col("d1"), col("d2"), lit(MinhashK).as("n_agree"),
            col("n").as("shared"), col("n").as("unioned")))
        .select(col("d1"), col("d2"), col("n_agree"), col("shared"), col("unioned"))
    else
      repPairs.select(col("r1").as("d1"), col("r2").as("d2"),
        col("n_agree"), col("shared"), col("unioned"))
  }

  val minhashEstimateSql: String =
    s"""WITH $shingleHashesSql,
       |sigs AS MATERIALIZED (SELECT doc_id, ${minhashSigSql("hs")} AS sig FROM hsets),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b, ${bandKeySql("sig", "b")} AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |       len(list_filter(list_zip(s1.sig, s2.sig), p -> p[1] = p[2])) AS n_agree,
       |       len(list_intersect(h1.hs, h2.hs)) AS shared,
       |       h1.n + h2.n - len(list_intersect(h1.hs, h2.hs)) AS unioned
       |FROM cand
       |JOIN sigs s1 ON s1.doc_id = d1
       |JOIN sigs s2 ON s2.doc_id = d2
       |JOIN hsets h1 ON h1.doc_id = d1
       |JOIN hsets h2 ON h2.doc_id = d2""".stripMargin

  // ------------------------------------------------- dedup canonicalization

  /** The FINAL step of near-dup dedup: cluster the verified LSH pairs
    * into connected components and elect the minimum doc_id of each
    * component as its canonical representative — every doc in a pair
    * maps to (doc_id, rep_id); keeping rows where doc_id = rep_id
    * implements "keep one copy per duplicate cluster".
    *
    * Implementation: iterative min-label propagation over the pair
    * graph (labels start at the node id; each round takes the min of a
    * node's label and its neighbors' labels until a fixpoint). The
    * driver loop runs O(component diameter) rounds of small joins —
    * near-dup components are shallow in practice, and the edge set is
    * orders of magnitude smaller than the corpus (only verified pairs),
    * so at 100 TB the loop runs over a tiny fraction of the data. The
    * oracle computes the same components with a recursive CTE. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Barrier.eager(minhashLsh(spark, dir).select(col("d1"), col("d2")))
    val edges = Barrier.eager(pairs
      .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2"))))
    var labels = Barrier.eager(edges.select(col("d1").as("node")).distinct()
      .withColumn("rep", col("node")))
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("node").as("d2"), col("rep").as("nbr_rep")), "d2")
        .groupBy(col("d1").as("node"))
        .agg(min(col("nbr_rep")).as("nbr_min"))
      // Carry the previous label through the propagation join so the
      // convergence test is a filter over the checkpointed rows — no
      // second join/shuffle per round just to count changes. The
      // checkpoint is LAZY: the count action below both materializes
      // the round's labels and measures convergence, so each round is
      // exactly ONE Spark job (driver-side round latency — not data
      // volume — dominates this fixpoint loop at bench scale).
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("rep").as("old_rep"),
          least(col("rep"), coalesce(col("nbr_min"), col("rep"))).as("rep"))
        .transform(Barrier.lazily(_, required = true))
      changed = next.filter(col("rep") =!= col("old_rep")).count()
      labels = next.select(col("node"), col("rep"))
    }
    labels.select(col("node").as("doc_id"), col("rep").as("rep_id"))
  }

  /** Connected components over the verified near-dup pairs via
    * alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the published
    * scale form of q72's min-label propagation. Propagation needs
    * O(diameter) rounds (a 10M-node chain of paraphrased mirror pages
    * is 10M rounds); star contraction halves path lengths every
    * iteration and converges in O(log n) rounds on ANY topology, each
    * round two groupBy-min + join passes over id-pair rows (no
    * adjacency lists are ever collected, so a 100M-member component
    * hub is an AQE skew-join, not an OOM). Same output contract and
    * ORACLE as q72: (doc_id, component-min rep_id) for every node of
    * the pair graph — the two forms are interchangeable, proven
    * hash-equal in the spec and by the shared oracle. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    starComponents(minhashLsh(spark, dir).select(col("d1"), col("d2")))._1

  /** (cluster map, rounds-to-fixpoint). Edges are held canonically
    * (a < b, no self-loops, distinct); at the fixpoint every edge is
    * (component-min, member), so the map is one left join from the
    * node set (isolated reps label themselves). Each round is
    * materialized — lineage truncation, the q127 convention — and the
    * fixpoint test is EXACT and single-action: the signed-count
    * symmetric difference of the two distinct canonical sets is empty. */
  private[graft] def starComponents(pairs: DataFrame): (DataFrame, Int) = {
    val nodes = Barrier.eager(pairs.select(col("d1").as("node"))
      .unionAll(pairs.select(col("d2").as("node"))).distinct())
    var edges = Barrier.eager(pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b")).distinct())

    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    // m(u) = min(Γ(u) ∪ {u}) — one map-side-combined aggregate
    def mins(s: DataFrame): DataFrame =
      s.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))

    // large-star: every neighbor ABOVE u links to u's local min
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      s.join(mins(s), "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    // small-star: neighbors BELOW u (and u itself) re-link to the min
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = mins(s)
      s.join(m, "u").filter(col("v") < col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionAll(m.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }

    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < 64) { // log2-bounded; 64 = overflow guard
      // LAZY checkpoints, ONE action per round: smallStar references the
      // large-star output ~6× (sym twice, its min table, the re-link
      // union) — un-checkpointed, the whole large-star join re-ran per
      // reference; eager, each round paid a separate materialize job.
      // The fixpoint count below is the round's single materializing
      // action for BOTH (count touches every partition, so the next
      // round reads cached blocks — the q72/nswBuild convention), and
      // it doubles as the exact symmetric-difference test: both sets
      // are distinct, so equal iff no (a, b) has a nonzero signed count.
      val ls = Barrier.lazily(largeStar(edges), required = true)
      val next = Barrier.lazily(smallStar(ls), required = true)
      rounds += 1
      converged = next.select(col("a"), col("b"), lit(1L).as("side"))
        .unionAll(edges.select(col("a"), col("b"), lit(-1L).as("side")))
        .groupBy(col("a"), col("b")).agg(sum(col("side")).as("s"))
        .filter(col("s") =!= 0L).count() == 0L
      // the count read every partition of `next` (and so of `ls`): the
      // round's large-star blocks and the PREVIOUS round's edges are dead
      // — drop them so the footprint stays one edge set, not 2·rounds
      Barrier.release(ls)
      Barrier.release(edges)
      edges = next
    }
    val map = nodes
      .join(edges.select(col("b").as("node"), col("a").as("rep")),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("rep"), col("node")).as("rep_id"))
    (map, rounds)
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED ($minhashLshSql),
       |edges AS MATERIALIZED (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT d1 AS node FROM edges),
       |reach(src, node) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT r.src, e.d2 FROM reach r JOIN edges e ON r.node = e.d1)
       |SELECT src AS doc_id, min(node) AS rep_id FROM reach GROUP BY 1""".stripMargin

  // ------------------------------------------------ grouped MinHash sketch

  /** Group-level MinHash signatures via the typed
    * [[graft.functions.MinHashSigAggregator]] (Aggregator[IN,BUF,OUT]):
    * the signature of each language's ENTIRE shingle set, computed with
    * a fixed-size mergeable buffer — partial aggregation ships K longs
    * per group per partition regardless of corpus size. The oracle
    * re-derives the same signatures relationally (explode → per-(group,
    * i) min → re-assemble), so the sketch algebra is value-verified. */
  def minhashGroupSig(spark: SparkSession, dir: String): DataFrame = {
    val hsets = Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"),
        graft.functions.NativeExprs
          .shingleHashes(tokensCol(col("text")), ShingleW, P).as("hs"))
      .filter(size(col("hs")) > 0)
    val groupSig = udaf(graft.functions.MinHashSigAggregator)
    hsets.groupBy(col("lang"))
      // serialized to a joined string: the driver's pandas comparator
      // can't hash ARRAY columns (same technique as q49/q54/q65)
      .agg(array_join(groupSig(col("hs")).cast("array<string>"), ",").as("sig"))
  }

  val minhashGroupSigSql: String = {
    val pairs = minhashA.zip(minhashB)
      .map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    s"""WITH toks AS (SELECT lang, ${tokensSql("text")} AS t FROM documents),
       |sh AS (SELECT lang, list_distinct(list_transform(${shinglesSql("t")}, s -> ${polyHashSql("s")})) AS hs
       |       FROM toks),
       |hsets AS (SELECT lang, hs FROM sh WHERE len(hs) > 0),
       |ex AS (SELECT lang, unnest(hs) AS h FROM hsets),
       |mins AS (
       |  SELECT lang, i, min(($pairs[i][1] * h + $pairs[i][2]) % $P) AS m
       |  FROM ex CROSS JOIN (SELECT unnest(range(1, ${MinhashK + 1})) AS i) ix
       |  GROUP BY 1, 2)
       |SELECT lang, array_to_string(list(m ORDER BY i), ',') AS sig FROM mins GROUP BY lang""".stripMargin
  }

  /** q68's semantics through the NATIVE TypedImperativeAggregate
    * ([[graft.functions.MinHashSigAggExpr]]): raw long[K] buffer, no
    * per-row encoder round-trip. Same oracle as q68 — the udaf and the
    * native aggregate verify each other. */
  def minhashGroupSigNative(spark: SparkSession, dir: String): DataFrame = {
    val hsets = Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"),
        graft.functions.NativeExprs
          .shingleHashes(tokensCol(col("text")), ShingleW, P).as("hs"))
      .filter(size(col("hs")) > 0)
    hsets.groupBy(col("lang"))
      // serialized like q68 — ARRAY output crashes the driver comparator
      .agg(array_join(graft.functions.NativeExprs
        .minhashSigAgg(col("hs"), minhashA, minhashB, P).cast("array<string>"), ",")
        .as("sig"))
  }

  // -------------------------------------------------- contamination check

  /** Documents with doc_id below this bound play the held-out eval set
    * in [[contamination]]. */
  val EvalDocMax = 25

  /** Benchmark-contamination check — the decontamination pass run
    * before training: for every corpus document, the fraction of its
    * distinct shingles that also appear ANYWHERE in the held-out eval
    * set (docs with doc_id < [[EvalDocMax]]), in integer basis points.
    * A document scoring high shares verbatim n-grams with the eval set
    * and would leak benchmark answers into training data.
    *
    * Scale shape: the eval side collapses to its DISTINCT shingle set —
    * small by construction (benchmarks are thousands of docs, the
    * corpus is billions) — and is broadcast; the corpus side streams
    * through one exploded equi-join + grouped count, so the corpus
    * never shuffles its text and the pair space is never materialized.
    * All-integer arithmetic (counts, floor-div basis points) keeps the
    * result bit-identical to the oracle. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
    val evalSh = sh.filter(col("doc_id") < EvalDocMax)
      .select(explode(col("hs")).as("h")).distinct()
      .withColumn("hit", lit(1L))
    sh.filter(col("doc_id") >= EvalDocMax)
      .select(col("doc_id"), col("n").cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
      .join(broadcast(evalSh), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(any_value(col("n_shingles")).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contam_bp", expr("(n_hit * 10000) div n_shingles"))
  }

  val contaminationSql: String =
    s"""WITH $shingleHashesSql,
       |ev AS (SELECT DISTINCT unnest(hs) AS h FROM hsets WHERE doc_id < $EvalDocMax),
       |ex AS (SELECT doc_id, n, unnest(hs) AS h FROM hsets WHERE doc_id >= $EvalDocMax)
       |SELECT ex.doc_id,
       |       CAST(any_value(ex.n) AS BIGINT) AS n_shingles,
       |       CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       CAST((sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) * 10000)
       |            // any_value(ex.n) AS BIGINT) AS contam_bp
       |FROM ex LEFT JOIN ev ON ex.h = ev.h
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------- decontamination

  /** Corpus docs at or above this contamination level (basis points of
    * shingles shared with the eval set) are dropped by [[decontaminate]]. */
  val ContamMaxBp = 1500L

  /** The decontamination GATE that [[contamination]]'s score feeds — the
    * step that actually decides what enters the training mix: corpus
    * docs scoring ≥ [[ContamMaxBp]] are dropped, and the per-language
    * keep/drop ledger (docs and surviving tokens) is emitted for the
    * mixture audit. Docs too short to shingle carry score 0 (nothing to
    * leak). Scale shape: [[contamination]]'s broadcast-eval join plus
    * one map-side-combined aggregate on `lang` — the corpus text never
    * shuffles, only (doc_id, lang, n_tokens, bp) rows do. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val contam = contamination(spark, dir).select(col("doc_id"), col("contam_bp"))
    val corpus = Tables.spread(Tables.documents(spark, dir))
      .filter(col("doc_id") >= EvalDocMax)
      .select(col("doc_id"), col("lang"),
        size(tokensCol(col("text"))).cast("long").as("n_tokens"))
    corpus.join(contam, Seq("doc_id"), "left")
      .withColumn("bp", coalesce(col("contam_bp"), lit(0L)))
      .groupBy(col("lang"))
      .agg(
        count(when(col("bp") < ContamMaxBp, 1)).as("n_kept"),
        count(when(col("bp") >= ContamMaxBp, 1)).as("n_dropped"),
        sum(when(col("bp") < ContamMaxBp, col("n_tokens"))
          .otherwise(lit(0L))).as("tokens_kept"))
  }

  /** Composes [[contaminationSql]] verbatim as a nested CTE, so the
    * gate's oracle can never diverge from the score it consumes. */
  val decontaminateSql: String =
    s"""WITH scored AS ($contaminationSql),
       |corpus AS (
       |  SELECT d.doc_id, d.lang, len(${tokensSql("d.text")}) AS n_tokens,
       |         coalesce(s.contam_bp, 0) AS bp
       |  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
       |  WHERE d.doc_id >= $EvalDocMax)
       |SELECT lang,
       |       CAST(count(*) FILTER (bp < $ContamMaxBp) AS BIGINT) AS n_kept,
       |       CAST(count(*) FILTER (bp >= $ContamMaxBp) AS BIGINT) AS n_dropped,
       |       CAST(sum(CASE WHEN bp < $ContamMaxBp THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
       |FROM corpus GROUP BY lang""".stripMargin

  // --------------------------------------------------------------- SimHash

  /** SimHash signature width (bits). */
  val SimhashBits = 32

  /** 32-bit SimHash over the token multiset: bit b is set iff the sum of
    * (±1 by bit b of each token hash) is positive. Verified value-exactly
    * by the oracle; near-dup pairing at scale = hamming-band join on the
    * signature — materialized as [[simhashNearDup]] (q73). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // native per-token hashing — the transform(…, polyHash) HOF lambda
    // evaluates interpreted per element
    val hs = graft.functions.NativeExprs.tokenHashes(tokensCol(col("text")))
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs.simHash(hs, SimhashBits).as("simhash"))
  }

  val simhashSql: String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |hashes AS (SELECT doc_id, list_transform(t, s -> ${polyHashSql("s")}) AS hs FROM toks),
       |bits AS (
       |  SELECT doc_id, b,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
       |                     (acc, h) -> acc + ((h >> b) & 1) * 2 - 1) AS s
       |  FROM hashes CROSS JOIN (SELECT unnest(range(0, $SimhashBits)) AS b) bs)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1""".stripMargin

  // ------------------------------------------- SimHash hamming-band near-dup

  /** Banding shape for [[simhashNearDup]]: the 32-bit signature split
    * into 4 bands of 8 bits; pairs are near-dups at hamming distance ≤
    * HammingMax = bands − 1. */
  val SimhashBands    = 4
  val SimhashBandBits = 8
  val HammingMax      = SimhashBands - 1

  /** SimHash near-dup join — the scale path for [[simhash]]'s
    * signatures: band the signature, equi-join same-(band, key) docs
    * for candidates, verify candidates by exact hamming distance
    * (one xor + popcount per pair).
    *
    * The banding is EXHAUSTIVE, not approximate: a pair within hamming
    * distance HammingMax differs in ≤ bands−1 bit positions, which can
    * touch at most bands−1 of the bands, so at least one band matches
    * exactly (pigeonhole) and the equi-join finds every qualifying
    * pair. The DuckDB oracle re-derives the pairs quadratically, so a
    * missed candidate would hash-mismatch. At 100 TB the shuffle is
    * O(docs × bands) band keys — never the quadratic pair space —
    * and widening the threshold is a banding change (more/narrower
    * bands), not an algorithm change. */
  /** Sub-band refinement shape for oversized simhash buckets: within a
    * bucket the pair already agrees on one full 8-bit band, so a
    * hamming-≤-3 pair differs only in the remaining 24 bits — pigeonhole
    * those into 4 sub-bands of 6 bits (3 errors cannot touch all 4) and
    * the sub-bucket equi-join is again EXHAUSTIVE. One hot band value
    * (the concentrated-signature pathology: similar token distributions
    * drive whole bytes of the simhash to the same value) thus splits up
    * to 64 ways per sub-band instead of pair-scanning the bucket. */
  val SimhashSubBands = 4
  val SimhashSubBits  = 6

  /** Rep-space hamming candidates over DISTINCT signatures: band join
    * for normal buckets; oversized buckets (> [[BucketCap]]) go through
    * the exhaustive sub-band refinement; whatever is still oversized is
    * grid-capped by [[cappedPairJoin]]. All three tiers are exact. */
  private[graft] def simhashRepCandidates(grp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = grp
      .select(col("rep"), col("sig"), explode(sequence(lit(0), lit(SimhashBands - 1))).as("b"))
      .select(col("rep"), col("sig"), col("b"),
        expr(s"shiftright(sig, b * $SimhashBandBits) & ${(1 << SimhashBandBits) - 1}")
          .as("bkey"))
    val sized = base.withColumn("m",
      count(lit(1)).over(Window.partitionBy(col("b"), col("bkey"))))
    val small = sized.filter(col("m") <= BucketCap)
      .select(col("rep"), col("sig"), col("b"), col("bkey"),
        lit(-1).as("sb"), lit(-1L).as("sbkey"))
    // remaining 24 bits with band b's byte dropped (SimhashBands=4 × 8)
    val rest = expr(
      s"""CASE WHEN b = 0 THEN shiftright(sig, 8)
         |     WHEN b = 1 THEN (sig & 255) | shiftleft(shiftright(sig, 16), 8)
         |     WHEN b = 2 THEN (sig & 65535) | shiftleft(shiftright(sig, 24), 16)
         |     ELSE sig & 16777215 END""".stripMargin)
    val big = sized.filter(col("m") > BucketCap)
      .withColumn("rest", rest)
      .select(col("rep"), col("sig"), col("b"), col("bkey"),
        explode(sequence(lit(0), lit(SimhashSubBands - 1))).as("sb"), col("rest"))
      .select(col("rep"), col("sig"), col("b"), col("bkey"), col("sb"),
        expr(s"shiftright(rest, sb * $SimhashSubBits) & ${(1 << SimhashSubBits) - 1}")
          .as("sbkey"))
    cappedPairJoin(small.unionByName(big),
      Seq("b", "bkey", "sb", "sbkey"), "rep", Seq("sig"))
  }

  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val hs = graft.functions.NativeExprs.tokenHashes(tokensCol(col("text")))
    simhashNearDupFrom(
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"),
          graft.functions.NativeExprs.simHash(hs, SimhashBits).as("sig")))
  }

  /** [[simhashNearDup]] at a TIGHTER verify radius — the production
    * knob for quadratic-output geometry (r11 verdict blemish #1): on a
    * same-vocabulary corpus the hamming-≤-[[HammingMax]] pair census
    * grows quadratically with corpus size (16k → 1.6M → 159.3M at
    * sf0.01/0.1/1 — a pair set nobody can store at 100 TB), while
    * radius ≤ 1 keeps only exact-class and single-bit-flip neighbors,
    * whose census tracks the PLANTED duplicate rate (linear). The
    * banding is unchanged (exhaustive for any radius ≤ bands−1); the
    * filter lands on rep pairs BEFORE member expansion, so the
    * quadratic mass is dropped while still collapsed. Radius must be
    * ≤ [[HammingMax]]. */
  def simhashNearDupRadius(spark: SparkSession, dir: String,
                           radius: Int): DataFrame = {
    require(radius <= HammingMax, s"radius $radius > banded bound $HammingMax")
    val hs = graft.functions.NativeExprs.tokenHashes(tokensCol(col("text")))
    simhashNearDupFrom(
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"),
          graft.functions.NativeExprs.simHash(hs, SimhashBits).as("sig")),
      maxHd = radius)
  }

  /** Scale hardening mirror of [[minhashLshFrom]] (all exact): collapse
    * identical signatures → banded candidates over distinct signatures
    * with sub-band refinement + bucket caps → one xor+popcount verify
    * per rep pair → expand to member pairs. The concentrated-signature
    * corpus that previously produced O(docs²) candidates now produces
    * O(distinct-sigs in a sub-bucket × cap) per task, and identical-sig
    * floods (exact/near-exact dups) never enter the join at all. */
  private[graft] def simhashNearDupFrom(sigsRaw: DataFrame,
                                        maxHd: Int = HammingMax): DataFrame = {
    val sigs   = Barrier.eager(sigsRaw)
    val groups = Barrier.eager(sigs.groupBy(col("sig"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        count(lit(1)).cast("int").as("gsize")))
    val verified = simhashRepCandidates(groups.select(col("rep"), col("sig")))
      .withColumn("hd", expr("CAST(bit_count(sig1 ^ sig2) AS INT)"))
      .filter(col("hd") <= maxHd)
      .select(col("r1"), col("r2"), col("hd"))
    expandPairs(verified, groups, Seq("hd"))
      .unionByName(withinGroupPairs(groups, Seq.empty)
        .withColumn("hd", lit(0)))
      .select(col("d1"), col("d2"), col("hd"))
  }

  val simhashNearDupSql: String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |hashes AS (SELECT doc_id, list_transform(t, s -> ${polyHashSql("s")}) AS hs FROM toks),
       |bits AS (
       |  SELECT doc_id, b,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
       |                     (acc, h) -> acc + ((h >> b) & 1) * 2 - 1) AS s
       |  FROM hashes CROSS JOIN (SELECT unnest(range(0, $SimhashBits)) AS b) bs),
       |sigs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hd
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $HammingMax""".stripMargin

  // ------------------------------------------------- band bucket ledger

  /** The "no silent caps" ledger for the two banded near-dup families:
    * per band, the bucket count, the largest bucket, how many buckets
    * exceed [[BucketCap]], and the pair mass C(m,2) sitting in oversized
    * buckets — the quantity the capped grid join spreads across tasks
    * and the sub-band refinement (simhash) shrinks. Computed in rep
    * space (post-collapse), i.e. on exactly the rows the candidate
    * joins see. An operator run can read this BEFORE the pair join to
    * size the job — the same aggregate a production pipeline would
    * alert on. Both families in one output, tagged by `family`. */
  def bandBucketLedger(spark: SparkSession, dir: String): DataFrame = {
    def stats(bands: DataFrame, fam: String): DataFrame = bands
      .groupBy(col("b"), col("bkey")).agg(count(lit(1)).as("m"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("m")).as("max_bucket"),
        count(when(col("m") > BucketCap, 1)).as("n_over_cap"),
        sum(when(col("m") > BucketCap, expr("(m * (m - 1)) div 2"))
          .otherwise(lit(0L))).as("over_pairs"))
      .withColumn("family", lit(fam))
    val mg = collapseShingleSets(shingleHashes(spark, dir))
    val mbands = mg.select(col("rep"), minhashSigCol(col("hs")).as("sig"))
      .select(col("rep"), explode(sequence(lit(0), lit(Bands - 1))).as("b"), col("sig"))
      .select(col("rep"), col("b"), bandKeyCol(col("sig"), col("b")).as("bkey"))
    val hs = graft.functions.NativeExprs.tokenHashes(tokensCol(col("text")))
    val sg = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs.simHash(hs, SimhashBits).as("sig"))
      .groupBy(col("sig")).agg(min(col("doc_id")).as("rep"))
    val sbands = sg
      .select(col("rep"), col("sig"), explode(sequence(lit(0), lit(SimhashBands - 1))).as("b"))
      .select(col("rep"), col("b"),
        expr(s"shiftright(sig, b * $SimhashBandBits) & ${(1 << SimhashBandBits) - 1}")
          .as("bkey"))
    stats(mbands, "minhash").unionByName(stats(sbands, "simhash"))
      .select(col("family"), col("b"), col("n_buckets"), col("max_bucket"),
        col("n_over_cap"), col("over_pairs"))
  }

  val bandBucketLedgerSql: String =
    s"""WITH $shingleHashesSql,
       |grp AS (SELECT list_sort(hs) AS key, min(doc_id) AS rep FROM hsets GROUP BY 1),
       |reps AS (SELECT grp.rep AS rep, h.hs AS hs FROM grp JOIN hsets h ON h.doc_id = grp.rep),
       |msigs AS (SELECT rep, ${minhashSigSql("hs")} AS sig FROM reps),
       |mbands AS (
       |  SELECT rep, b, ${bandKeySql("sig", "b")} AS bkey
       |  FROM msigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bs),
       |hashes AS (SELECT doc_id, list_transform(t, s -> ${polyHashSql("s")}) AS th FROM toks),
       |sbits AS (
       |  SELECT doc_id, b,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), th),
       |                     (acc, h) -> acc + ((h >> b) & 1) * 2 - 1) AS s
       |  FROM hashes CROSS JOIN (SELECT unnest(range(0, $SimhashBits)) AS b) bs),
       |ssigs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
       |  FROM sbits GROUP BY 1),
       |sgrp AS (SELECT sig, min(doc_id) AS rep FROM ssigs GROUP BY 1),
       |sbands AS (
       |  SELECT rep, b, (sig >> (b * $SimhashBandBits)) & ${(1 << SimhashBandBits) - 1} AS bkey
       |  FROM sgrp CROSS JOIN (SELECT unnest(range(0, $SimhashBands)) AS b) bs),
       |mstats AS (SELECT b, bkey, count(*) AS m FROM mbands GROUP BY 1, 2),
       |sstats AS (SELECT b, bkey, count(*) AS m FROM sbands GROUP BY 1, 2)
       |SELECT 'minhash' AS family, CAST(b AS INT) AS b, count(*) AS n_buckets,
       |       max(m) AS max_bucket,
       |       CAST(count(*) FILTER (m > $BucketCap) AS BIGINT) AS n_over_cap,
       |       CAST(coalesce(sum(CASE WHEN m > $BucketCap THEN (m * (m - 1)) // 2 ELSE 0 END), 0) AS BIGINT) AS over_pairs
       |FROM mstats GROUP BY 2
       |UNION ALL
       |SELECT 'simhash' AS family, CAST(b AS INT) AS b, count(*) AS n_buckets,
       |       max(m) AS max_bucket,
       |       CAST(count(*) FILTER (m > $BucketCap) AS BIGINT) AS n_over_cap,
       |       CAST(coalesce(sum(CASE WHEN m > $BucketCap THEN (m * (m - 1)) // 2 ELSE 0 END), 0) AS BIGINT) AS over_pairs
       |FROM sstats GROUP BY 2""".stripMargin

  // ------------------------------------------------- substring-level dedup

  /** Token window for substring-level dedup spans. */
  val SpanW = 8

  /** Substring-level exact dedup ledger — the dedup granularity below
    * whole-doc (q19/q105) and near-whole-doc (q21/q73): verbatim
    * [[SpanW]]-token spans repeated ACROSS documents (headers, license
    * blocks, navigation boilerplate) inside otherwise-distinct pages.
    * The posting-list formulation of suffix-array dedup at W-token
    * granularity: per doc, how many gram positions are covered by a
    * span that also occurs in another document (`n_dup`), how many of
    * those lose the min-doc-id ownership election and would be removed
    * under keep-first (`n_removable`), and the duplicated fraction in
    * integer basis points.
    *
    * Scale shape: the postings shuffle carries (gram-hash, doc_id) —
    * 16 bytes/position, never text; the incidence aggregate is
    * map-side-combined and keyed by the 64-bit gram hash; ownership is
    * a min() election on the same key. NO pair enumeration anywhere —
    * a span repeated in 10⁶ docs costs one aggregate row, not 10¹²
    * pairs (the posting-election shape the all-pairs family cannot
    * reach). */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs.gramHashes(tokensCol(col("text")), SpanW, P).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), size(col("gs")).as("n_grams"), explode(col("gs")).as("g"))
    // cross-doc incidence + keep-first ownership, keyed by gram hash
    val inc = grams.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
    grams.join(inc, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(any_value(col("n_grams")).cast("long").as("n_grams"),
        count(when(col("nd").isNotNull, 1)).as("n_dup"),
        count(when(col("nd").isNotNull && col("owner") < col("doc_id"), 1)).as("n_removable"))
      .withColumn("dup_bp", expr("(n_dup * 10000) div n_grams"))
  }

  val substringDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, len(t) - $SpanW + 1 AS n_grams,
       |         unnest(list_transform(range(1, len(t) - $SpanW + 2),
       |                i -> ${polyHashSql(s"array_to_string(t[i:i+${SpanW - 1}], ' ')")})) AS g
       |  FROM toks WHERE len(t) >= $SpanW),
       |inc AS (
       |  SELECT g AS ig, count(*) AS nd, min(doc_id) AS owner
       |  FROM (SELECT DISTINCT g, doc_id FROM grams)
       |  GROUP BY 1 HAVING count(*) >= 2)
       |SELECT doc_id,
       |       CAST(any_value(n_grams) AS BIGINT) AS n_grams,
       |       CAST(count(*) FILTER (ig IS NOT NULL) AS BIGINT) AS n_dup,
       |       CAST(count(*) FILTER (ig IS NOT NULL AND owner < doc_id) AS BIGINT) AS n_removable,
       |       CAST((count(*) FILTER (ig IS NOT NULL) * 10000) // any_value(n_grams) AS BIGINT) AS dup_bp
       |FROM grams LEFT JOIN inc ON g = ig
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------ containment dedup

  /** Containment threshold τ: doc A is flagged as contained in doc B
    * when at least τ of A's distinct shingles also occur in B. Applied
    * as the EXACT integer predicate 5·shared ≥ 4·n_A (τ = 0.8) in both
    * engines — no float boundary can disagree across engines. */
  val ContainmentTau = 0.8

  /** Asymmetric containment near-dup pairs (q145) — the subset relation
    * symmetric Jaccard is blind to. A short document quoted wholesale
    * inside a longer one has containment C(A→B) = |A∩B| / |A| ≈ 1 while
    * J = |A∩B| / |A∪B| sits far below any Jaccard threshold (the
    * container's extra text dilutes the union). MinHash estimates J, so
    * the LSH family (q21/q34/q88) cannot see these pairs either; this is
    * the curation stage that catches quote-inclusion, boilerplate
    * expansion, and truncated mirrors.
    *
    * Candidate generation is the PREFIX FILTER of the set-similarity-
    * join literature (AllPairs/PPJoin, adapted to containment): order
    * each doc's shingles by global document frequency ascending (ties by
    * hash — a total order both engines share) and index only the first
    * K_A = ⌊n_A/5⌋ + 1 as probes. Pigeonhole-exact: a container B misses
    * at most n_A − shared ≤ ⌊(1−τ)·n_A⌋ = ⌊n_A/5⌋ of A's shingles, so at
    * least one probe occurs in B — every qualifying pair survives
    * candidate generation, proven against brute force in
    * `DedupScaleSpec`. Rare-first ordering makes probes the shingles
    * with the SHORTEST posting lists, so probe×posting fan-out
    * concentrates where postings are small; [[cappedProbeJoin]] grids
    * any residual hot shingle (all-boilerplate docs) into cap-bounded
    * tasks.
    *
    * Scale shape: postings shuffle (hash, doc_id) — never text; the
    * df-rank window partitions by doc_id; candidates are distinct
    * (d1, d2) id pairs; exact verification joins the two
    * distinct-shingle arrays for CANDIDATE pairs only. Output: ordered
    * pairs (contained, container) passing τ with shared/Jaccard
    * evidence, plus `sym_blind` marking pairs a Jaccard-threshold dedup
    * would miss (3·shared < n1 + n2 ⟺ J < 0.5, exact in integers). */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame =
    containmentFrom(shingleHashes(spark, dir))

  /** [[containmentDedup]] over a prebuilt (doc_id, hs, n) hset table —
    * the from-hsets seam the crafted-corpus specs drive directly. */
  private[graft] def containmentFrom(hsets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = Barrier.eager(hsets)
    val post = Barrier.eager(hs.select(
      col("doc_id"), col("n"), explode(col("hs")).as("h")))
    val dfreq = post.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val probes = post.join(dfreq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("h"))))
      .filter(expr("rn <= n div 5 + 1"))
      .select(col("h"), col("doc_id").as("d1"))
    val cands = cappedProbeJoin(
        probes, post.select(col("h"), col("doc_id").as("d2")),
        Seq("h"), "d1", "d2", Nil, Nil)
      .filter(col("d1") =!= col("d2"))
    cands
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("n").as("n1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("n").as("n2")), "d2")
      .withColumn("shared", size(array_intersect(col("hs1"), col("hs2"))))
      .filter(expr("5 * shared >= 4 * n1"))
      .select(col("d1").as("contained"), col("d2").as("container"),
        col("shared").cast("long").as("shared"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(col("shared").cast("double") / col("n1"), 4).as("containment"),
        round(col("shared").cast("double")
          / (col("n1") + col("n2") - col("shared")), 4).as("jaccard"),
        expr("3 * shared < n1 + n2").as("sym_blind"))
  }

  /** Oracle: the brute-force inverted-index form (every ordered pair
    * sharing ≥ 1 shingle — pairs with shared = 0 cannot pass τ > 0, so
    * this IS the full pair space), against which the prefix-filtered
    * Spark plan must be exactly equal. */
  val containmentDedupSql: String =
    s"""WITH $shingleHashesSql,
       |ex AS MATERIALIZED (SELECT doc_id, unnest(hs) AS h FROM hsets),
       |pairs AS (
       |  SELECT a.doc_id AS contained, b.doc_id AS container, count(*) AS shared
       |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id != b.doc_id
       |  GROUP BY 1, 2)
       |SELECT contained, container, CAST(shared AS BIGINT) AS shared,
       |       CAST(h1.n AS BIGINT) AS n1, CAST(h2.n AS BIGINT) AS n2,
       |       round(shared::DOUBLE / h1.n, 4) AS containment,
       |       round(shared::DOUBLE / (h1.n + h2.n - shared), 4) AS jaccard,
       |       (3 * shared < h1.n + h2.n) AS sym_blind
       |FROM pairs
       |JOIN hsets h1 ON h1.doc_id = contained
       |JOIN hsets h2 ON h2.doc_id = container
       |WHERE 5 * shared >= 4 * h1.n""".stripMargin

  // ----------------------------------------------------------- dedup funnel

  /** A document whose removable-span share reaches this (basis points of
    * gram positions owned by an earlier doc) is dropped by the funnel's
    * substring stage. */
  val SubstrDropBp = 5000L

  /** The per-language dedup FUNNEL ledger — the accounting view a corpus
    * build reports after running the whole dedup family: every document
    * attributed to the FIRST stage that would drop it
    * (exact first-wins → near-dup cluster election → substring-majority)
    * plus the surviving doc and token counts that feed the mixture
    * audit (q77/q89). Verdicts are computed on the full corpus and
    * overlaid (attribution semantics), not sequentially re-run — the
    * same convention as q98's consensus.
    *
    * Composition of verified pieces: q19's fingerprint election, q72's
    * cluster representatives (hardened q21 inside), q107's ownership
    * ledger; the oracle nests those queries' SQL verbatim, so the
    * funnel can never diverge from the stages it summarizes. Scale
    * shape: three fingerprint-keyed joins on doc_id/fp plus one
    * map-side-combined rollup on lang — no new pair work. */
  /** The funnel's DOC-LEVEL attribution view — each document with its
    * (lang, source, token count, fingerprint, near-dup rep, stage) —
    * the seam the end-to-end curation composition (q254) consumes;
    * [[dedupFunnel]] is its per-language rollup (the extra columns
    * don't change the rollup — it groups on lang only). */
  private[graft] def funnelStaged(spark: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE per row (r15): multi-referenced non-cheap alias is
    // left alone by CollapseProject; the single-projection form ran the
    // tokenizer twice per row (n_tokens + fp)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"),
        tokensCol(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("tk")).cast("long").as("n_tokens"),
        polyHashCol(array_join(col("tk"), " ")).as("fp"))
    val exactKeep = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val clusters  = dedupClusters(spark, dir)
    val substr    = substringDedup(spark, dir)
      .select(col("doc_id"), col("n_grams"), col("n_removable"))
    // null-safe fp equality: a NULL-text doc has a NULL fingerprint, and
    // a plain equi-join would silently drop it from the ledger (found by
    // DirtyInputSpec — the funnel must account for EVERY document)
    docs.join(exactKeep.withColumnRenamed("fp", "efp"), col("fp") <=> col("efp"))
      .drop("efp")
      .join(clusters, Seq("doc_id"), "left")
      .join(substr, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("rep_id"), col("doc_id")))
      .withColumn("stage",
        when(col("doc_id") =!= col("keep_id"), "exact")
          .when(col("rep_id").isNotNull && col("rep_id") =!= col("doc_id"), "near")
          .when(col("n_removable").isNotNull &&
            expr("(n_removable * 10000) div n_grams") >= SubstrDropBp, "substring")
          .otherwise("keep"))
  }

  def dedupFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelStaged(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("stage") === "exact", 1)).as("drop_exact"),
        count(when(col("stage") === "near", 1)).as("drop_near"),
        count(when(col("stage") === "substring", 1)).as("drop_substr"),
        count(when(col("stage") === "keep", 1)).as("n_kept"),
        sum(when(col("stage") === "keep", col("n_tokens")).otherwise(lit(0L)))
          .as("tokens_kept"))

  /** Nests [[dedupClustersSql]] and [[substringDedupSql]] VERBATIM as
    * parenthesized subqueries (each carries its own WITH), so the
    * funnel oracle summarizes exactly the stage queries the gate
    * verifies individually. */
  val dedupFunnelSql: String =
    s"""WITH fdocs AS MATERIALIZED (
       |  SELECT doc_id, lang, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |         ${polyHashSql(s"array_to_string(${tokensSql("text")}, ' ')")} AS fp
       |  FROM documents),
       |fexact AS (SELECT fp, min(doc_id) AS keep_id FROM fdocs GROUP BY 1),
       |fclusters AS MATERIALIZED ($dedupClustersSql),
       |fsubstr AS MATERIALIZED ($substringDedupSql),
       |staged AS (
       |  SELECT d.lang, d.n_tokens,
       |         CASE WHEN d.doc_id != e.keep_id THEN 'exact'
       |              WHEN c.rep_id IS NOT NULL AND c.rep_id != d.doc_id THEN 'near'
       |              WHEN s.n_removable IS NOT NULL
       |                   AND (s.n_removable * 10000) // s.n_grams >= $SubstrDropBp
       |                THEN 'substring'
       |              ELSE 'keep' END AS stage
       |  FROM fdocs d
       |  JOIN fexact e ON d.fp IS NOT DISTINCT FROM e.fp
       |  LEFT JOIN fclusters c ON c.doc_id = d.doc_id
       |  LEFT JOIN fsubstr s ON s.doc_id = d.doc_id)
       |SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(*) FILTER (stage = 'exact') AS BIGINT) AS drop_exact,
       |       CAST(count(*) FILTER (stage = 'near') AS BIGINT) AS drop_near,
       |       CAST(count(*) FILTER (stage = 'substring') AS BIGINT) AS drop_substr,
       |       CAST(count(*) FILTER (stage = 'keep') AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN stage = 'keep' THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
       |FROM staged GROUP BY 1""".stripMargin

  // ------------------------------------------------- cross-signal consensus

  /** Cross-signal near-dup consensus — the adjudication step a real
    * dedup pipeline runs before deleting anything: the shingle-set
    * signal ([[minhashLsh]], verified Jaccard) and the token-multiset
    * signal ([[simhashNearDup]], hamming distance) vote on every pair
    * either surfaces. Pairs tagged `both` are safe auto-drops;
    * single-signal pairs go to review (Jaccard catches reordered
    * near-dups SimHash misses, SimHash catches multiset-similar docs
    * whose shingles diverge). Scale shape: both inputs are already
    * bucketed band joins, and the consensus join itself runs on the
    * verified PAIR sets — orders of magnitude smaller than the corpus. */
  def consensusNearDup(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan + tokenize feeds BOTH signals: shingle-set hashes and the
    // token-multiset simhash come out of a single projection (the
    // codegen subexpression-elimination pass computes graft_tokenize
    // once), then each signal's hardened pipeline runs from its column.
    // Halves the I/O + featurization of the overlay vs. composing the
    // two standalone queries.
    val hs = graft.functions.NativeExprs
      .shingleHashes(tokensCol(col("text")), ShingleW, P)
    val sig = graft.functions.NativeExprs.simHash(
      graft.functions.NativeExprs.tokenHashes(tokensCol(col("text"))), SimhashBits)
    val docs = Barrier.eager(
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), hs.as("hs"), sig.as("sig")))
    // r15: the two signal pipelines are independent given the shared
    // checkpoint and each runs its own eager materializes at
    // construction — overlap them (guide §2.6)
    val arms = graft.plans.Par.all(Seq(
      () => minhashLshFrom(docs
          .filter(size(col("hs")) > 0)
          .select(col("doc_id"), col("hs"), size(col("hs")).as("n")))
        .select(col("d1"), col("d2"), col("jaccard")),
      () => simhashNearDupFrom(docs.select(col("doc_id"), col("sig")))
        .select(col("d1"), col("d2"), col("hd"))))
    val (mh, sh) = (arms(0), arms(1))
    mh.join(sh, Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"),
        when(col("jaccard").isNotNull && col("hd").isNotNull, "both")
          .when(col("jaccard").isNotNull, "minhash")
          .otherwise("simhash").as("signal"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        coalesce(col("hd"), lit(-1)).as("hd"))
  }

  /** Composes the two signal oracles VERBATIM as nested CTEs — the
    * overlay can never diverge from the pair sets q21/q73 verify. */
  val consensusNearDupSql: String =
    s"""WITH mh AS ($minhashLshSql),
       |sh2 AS ($simhashNearDupSql)
       |SELECT coalesce(mh.d1, sh2.d1) AS d1,
       |       coalesce(mh.d2, sh2.d2) AS d2,
       |       CASE WHEN mh.d1 IS NOT NULL AND sh2.d1 IS NOT NULL THEN 'both'
       |            WHEN mh.d1 IS NOT NULL THEN 'minhash'
       |            ELSE 'simhash' END AS signal,
       |       coalesce(mh.jaccard, 0.0) AS jaccard,
       |       CAST(coalesce(sh2.hd, -1) AS INT) AS hd
       |FROM mh FULL OUTER JOIN sh2 ON mh.d1 = sh2.d1 AND mh.d2 = sh2.d2""".stripMargin

  // ------------------------------------------------- incremental ingest dedup

  /** Every doc_id ≡ IngestMod-1 (mod IngestMod) plays the ARRIVING
    * batch; the rest is the standing corpus (scale-proportional split
    * at any sf). */
  val IngestMod = 5

  /** Incremental ingest near-dup gate (q88) — the daily-pipeline form
    * of q21: the standing corpus's band index already exists, so only
    * the arriving batch is shingled/minhashed and its bands PROBE the
    * corpus index (new×corpus equi-join — candidates never include
    * corpus×corpus or batch×batch pairs). Verified candidates pick each
    * new doc's best corpus match (max Jaccard, min doc_id tie-break);
    * docs with no match ≥ threshold pass the gate as `new`. At 100 TB
    * the corpus side is a stored index keyed by (band, key): per-run
    * shuffle volume is O(batch × Bands), independent of corpus size. */
  def ingestDedup(spark: SparkSession, dir: String): DataFrame = {
    val hsets = Barrier.eager(shingleHashes(spark, dir))
    val isNew = col("doc_id") % IngestMod === IngestMod - 1
    // Same hardening as q21, adapted to the probe-an-index shape — all
    // exact, oracle unchanged: collapse identical sets on EACH side of
    // the split separately (content groups can span it; retention
    // semantics depend on which side a doc sits), cap the bucket probe
    // with the two-sided grid, reject candidates from the carried
    // signatures (tier 1), fetch shingle arrays only for survivors.
    // Rep-level election expands exactly: every member of a batch group
    // has its group's best match, and `dup_of` = the matched corpus
    // group's rep = that group's minimum cid — the same id the per-doc
    // election picked.
    // clean-corpus fast route: gate over the WHOLE corpus (one index,
    // one job — not one per side). Cool buckets bound identical-content
    // groups on either side, so the per-doc probe join is exact and
    // bounded without the collapse; the per-doc election below then
    // picks the same (min-cid, max-jaccard) match the rep-level
    // election would expand.
    val clean = cleanProbeCandidates(hsets, isNew)
    val collapsed = clean.isEmpty
    val gNew  =
      if (collapsed) Barrier.eager(collapseShingleSets(hsets.filter(isNew)))
      else singletonGroups(hsets.filter(isNew))
    val gCorp =
      if (collapsed) Barrier.eager(collapseShingleSets(hsets.filter(!isNew)))
      else singletonGroups(hsets.filter(!isNew))
    def bands(g: DataFrame, id: String, sig: String) = g
      .select(col("rep"), minhashSigCol(col("hs")).as(sig))
      .select(col("rep").as(id), col(sig), explode(sequence(lit(0), lit(Bands - 1))).as("b"))
      .select(col(id), col(sig), col("b"), bandKeyCol(col(sig), col("b")).as("bkey"))
    val cand = clean.getOrElse(cappedProbeJoin(
      bands(gNew, "nrep", "sigN"), bands(gCorp, "crep", "sigC"),
      Seq("b", "bkey"), "nrep", "crep", Seq("sigN"), Seq("sigC")))
    val borderline = cand
      .withColumn("n_agree", size(filter(
        zip_with(col("sigN"), col("sigC"), (x, y) => x === y), p => p)))
      .filter(col("n_agree") >= AgreeCut)
      .select("nrep", "crep")
    val verified = borderline
      .join(gNew.select(col("rep").as("nrep"), col("hs").as("hs1"), col("n").as("n1")), "nrep")
      .join(gCorp.select(col("rep").as("crep"), col("hs").as("hs2"), col("n").as("n2")), "crep")
      .withColumn("shared", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jaccard", round(
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")), 4))
      .filter(col("jaccard") >= JaccardThreshold)
    val best = verified
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("nrep"))
          .orderBy(desc("jaccard"), col("crep"))))
      .filter(col("rn") === 1)
      .select(col("nrep"), col("crep"), col("jaccard"))
    gNew.select(col("rep").as("nrep"), explode(col("members")).as("doc_id"))
      .join(best, Seq("nrep"), "left")
      .select(col("doc_id"),
        when(col("crep").isNull, "new").otherwise("dup").as("verdict"),
        coalesce(col("crep"), lit(-1L)).as("dup_of"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
  }

  val ingestDedupSql: String =
    s"""WITH $shingleHashesSql,
       |sigs AS MATERIALIZED (SELECT doc_id, ${minhashSigSql("hs")} AS sig FROM hsets),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b, ${bandKeySql("sig", "b")} AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS nid, b.doc_id AS cid
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
       |  WHERE a.doc_id % $IngestMod = ${IngestMod - 1}
       |    AND b.doc_id % $IngestMod != ${IngestMod - 1}),
       |verified AS (
       |  SELECT nid, cid,
       |         round(len(list_intersect(h1.hs, h2.hs))::DOUBLE /
       |               (h1.n + h2.n - len(list_intersect(h1.hs, h2.hs))), 4) AS jaccard
       |  FROM cand
       |  JOIN sigs s1 ON s1.doc_id = nid
       |  JOIN sigs s2 ON s2.doc_id = cid
       |  JOIN hsets h1 ON h1.doc_id = nid
       |  JOIN hsets h2 ON h2.doc_id = cid
       |  WHERE len(list_filter(list_zip(s1.sig, s2.sig), p -> p[1] = p[2])) >= $AgreeCut),
       |best AS (
       |  SELECT nid, cid, jaccard FROM (
       |    SELECT *, row_number() OVER (PARTITION BY nid
       |                                 ORDER BY jaccard DESC, cid) AS rn
       |    FROM verified WHERE jaccard >= $JaccardThreshold)
       |  WHERE rn = 1)
       |SELECT h.doc_id,
       |       CASE WHEN best.cid IS NULL THEN 'new' ELSE 'dup' END AS verdict,
       |       coalesce(best.cid, -1) AS dup_of,
       |       coalesce(best.jaccard, 0.0) AS jaccard
       |FROM hsets h LEFT JOIN best ON h.doc_id = best.nid
       |WHERE h.doc_id % $IngestMod = ${IngestMod - 1}""".stripMargin
  // ------------------------------------------- cross-source overlap matrix

  /** Cross-source contamination MATRIX: for every pair of sources, how
    * many distinct [[SpanW]]-token spans they share, plus the share as
    * basis points of the smaller side's span vocabulary (containment).
    * This is the corpus-level view of q75's doc-level contamination
    * check — the table a data curator reads to find which corpus slices
    * leak into which (train vs eval sources, mirrored crawls, vendored
    * boilerplate).
    *
    * Scale shape: postings shuffle carries (gram hash, source) distinct
    * rows — fixed-width, never text; per-gram source sets are a
    * map-side-combined `collect_set` bounded by the source count; the
    * pair explode fans out C(s_g, 2) per gram where s_g <= #sources
    * (a catalog-sized dimension — tens to hundreds — NOT doc count),
    * and the final rollup is keyed by the source pair. No doc-level
    * pair work anywhere. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(Tables.documents(spark, dir))
      .select(col("source"),
        explode(graft.functions.NativeExprs
          .gramHashes(tokensCol(col("text")), SpanW, P)).as("g"))
      .distinct()
    val perSrc = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = grams.groupBy(col("g"))
      .agg(collect_set(col("source")).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(col("ss")).as("source_a"), col("ss"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
    shared
      .join(broadcast(perSrc).withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "na"), Seq("source_a"))
      .join(broadcast(perSrc).withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "nb"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared_grams"),
        expr("(n_shared_grams * 10000) div least(na, nb)").as("containment_bp"))
  }

  val sourceOverlapSql: String =
    s"""WITH toks AS (SELECT source, ${graft.functions.TextExprs.tokensSql("text")} AS t FROM documents),
       |grams_raw AS (
       |  SELECT source,
       |         unnest(list_transform(range(1, len(t) - $SpanW + 2),
       |                i -> ${graft.functions.TextExprs.polyHashSql(s"array_to_string(t[i:i+${SpanW - 1}], ' ')")})) AS g
       |  FROM toks WHERE len(t) >= $SpanW),
       |grams AS (SELECT DISTINCT source, g FROM grams_raw),
       |per_src AS (SELECT source, count(*) AS n FROM grams GROUP BY 1),
       |shared AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_grams
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT s.source_a, s.source_b, s.n_shared_grams,
       |       (s.n_shared_grams * 10000) // least(pa.n, pb.n) AS containment_bp
       |FROM shared s
       |JOIN per_src pa ON pa.source = s.source_a
       |JOIN per_src pb ON pb.source = s.source_b""".stripMargin
}

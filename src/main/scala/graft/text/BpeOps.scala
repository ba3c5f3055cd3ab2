package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.functions.NativeExprs

/** Learned byte-pair-encoding tokenization (q144) — closes the "priced
  * in words, not tokens" gap: q15's BPE-ish regex approximates subword
  * counts, this learns a REAL merge table from the corpus (Sennrich et
  * al., "Neural Machine Translation of Rare Words with Subword Units",
  * ACL'16 — the published BPE algorithm) and applies it with a native
  * codegen'd expression.
  *
  * TRAINING is distributed, BATCHED, and artifact-collecting (the q80
  * Lloyd convention): the word-frequency dictionary stays a DataFrame
  * — at 100 TB it is vocab-sized, orders of magnitude below the corpus
  * — and each driver round trip runs ONE map-side-combined pair-count
  * aggregate over it, collects the top-[[BpeScanW]] ranked pairs
  * (count DESC, then (a, b) lexicographic — the published tie-break
  * made deterministic), and greedily accepts the first [[BpeBatchM]]
  * pairwise SYMBOL-DISJOINT pairs from that ranking (standard batched
  * BPE). Disjointness is what keeps the batch well-defined: merges
  * that share no symbol can neither overlap nor create/destroy each
  * other's match sites, so applying the batch simultaneously equals
  * applying it sequentially in rank order — the semantics both
  * engines and the greedy applier share. A [[BpeRounds]]-merge vocab
  * therefore needs only BpeRounds/BpeBatchM driver round trips (the
  * round-7 watch item: a 32k vocab at M=4 is 8k trips, not 32k; M
  * scales further at real vocab sizes). The merge table
  * (2×[[BpeRounds]] short strings) is the entire collected artifact.
  *
  * APPLICATION is a narrow codegen'd map: [[NativeExprs.bpeSegment]]
  * tokenizes and greedily applies the merges per word (memoized —
  * Zipfian corpora hit the memo almost always). The ORACLE re-learns
  * the same merges relationally (chained MATERIALIZED CTEs; ranked
  * window + chained NOT-EXISTS greedy selection per batch, then one
  * exact merge pass = lead/island-parity window application of the
  * whole disjoint batch — the same algebra, an independent engine and
  * formulation) and re-applies them via a vocabulary JOIN, the third
  * independent route. mt_fp pins training equality, seg_fp pins
  * per-document segmentation equality.
  *
  * Precondition: the corpus must sustain [[BpeRounds]] merges at
  * [[BpeBatchM]] disjoint picks per batch (checked for this corpus
  * family at sf0.001–sf0.1) — the trainer `require`s it rather than
  * silently diverging from the oracle's fixed CTE chain. */
object BpeOps {

  /** Total merges learned (vocab growth) — up from 16 since batching. */
  val BpeRounds = 64

  /** Disjoint merges accepted per driver round trip. */
  val BpeBatchM = 4

  /** Ranked-pair window both engines scan for each batch's greedy
    * selection — part of the cross-engine contract. */
  val BpeScanW = 64

  /** Learn the merge table: (BpeRounds / BpeBatchM) × (pair-count
    * aggregate + [[BpeScanW]]-row collect + driver-side greedy disjoint
    * pick). The dictionary is localCheckpoint'ed once (vocab-sized;
    * cuts the re-tokenize off every round's lineage). */
  def bpeLearn(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val wf = Tables.documents(spark, dir)
      .select(explode(tokensCol(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .transform(graft.plans.Barrier.eager(_))
    val w = Window.partitionBy("word").orderBy("i")
    var merges = Vector.empty[(String, String)]
    while (merges.length < BpeRounds) {
      val seg = NativeExprs.bpeSegment(col("word"), merges)
      val ranked = wf
        .select(col("word"), col("freq"),
          posexplode(split(seg, " ")).as(Seq("i", "pa")))
        .withColumn("pb", lead("pa", 1).over(w))
        .filter(col("pb").isNotNull)
        .groupBy("pa", "pb").agg(sum("freq").as("c"))
        .orderBy(desc("c"), asc("pa"), asc("pb"))
        .limit(BpeScanW).collect()
      var used = Set.empty[String]
      var chosen = Vector.empty[(String, String)]
      for (r <- ranked if chosen.length < BpeBatchM) {
        val (a, b) = (r.getString(0), r.getString(1))
        if (!used(a) && !used(b)) { chosen :+= ((a, b)); used ++= Seq(a, b) }
      }
      require(chosen.length == BpeBatchM,
        s"corpus exhausted after ${merges.length} BPE merges: only " +
          s"${chosen.length} disjoint pairs in the top-$BpeScanW window " +
          s"(need $BpeBatchM per batch, $BpeRounds total)")
      merges ++= chosen
    }
    merges
  }

  /** q144: per-document learned-BPE pricing. n_ws = word count (what
    * q76/q89 price in today), n_bpe = real learned-subword count,
    * seg_fp = polyhash of the full segmentation string, mt_fp =
    * polyhash of the learned merge table itself. */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearn(spark, dir)
    val mtFp = graft.functions.PolyHashExpr.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        merges.map { case (a, b) => s"$a $b" }.mkString("|")))
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        NativeExprs.bpeSegment(col("text"), merges).as("segdoc"),
        size(tokensCol(col("text"))).cast("long").as("n_ws"))
      .select(col("doc_id"),
        when(col("segdoc") === "", 0L)
          .otherwise(size(split(col("segdoc"), " ")).cast("long")).as("n_bpe"),
        col("n_ws"),
        polyHashCol(col("segdoc")).as("seg_fp"),
        lit(mtFp).as("mt_fp"))
  }

  // ------------------------------------------------------------- oracle

  /** One exact merge pass for a whole DISJOINT batch in SQL: unnest
    * symbols with index, flag matches of ANY batch pair via lead() + a
    * semi-join, resolve overlapping matches in runs of identical
    * symbols by island parity (gaps-and-islands: 1st/3rd/... of each
    * consecutive-match run merges). Matches of two DIFFERENT batch
    * pairs can never be adjacent — adjacency would force a shared
    * symbol, which the disjoint selection excludes — so runs arise
    * only from pa = pb pairs, exactly as in the single-merge form,
    * and one pass applies the whole batch. Consumed right symbols
    * drop via lag(mg) = 1; reassemble in order. */
  private def roundSql(r: Int, src: String, dst: String): String =
    s"""e$r AS (
       |  SELECT word, freq, u.x.i AS i, u.x.v AS sym
       |  FROM (SELECT word, freq, string_split(seg, ' ') AS s FROM $src) sp,
       |       UNNEST(list_transform(range(1, len(sp.s) + 1), j -> {'i': j, 'v': sp.s[j]})) AS u(x)),
       |m$r AS (
       |  SELECT word, freq, i, sym,
       |         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
       |  FROM e$r),
       |x$r AS (
       |  SELECT m.*, CASE WHEN EXISTS (SELECT 1 FROM b$r b
       |                                WHERE b.pa = m.sym AND b.pb = m.nxt)
       |              THEN 1 ELSE 0 END AS mt
       |  FROM m$r m),
       |g$r AS (
       |  SELECT *, CASE WHEN mt = 1
       |                 THEN i - row_number() OVER (PARTITION BY word, mt ORDER BY i)
       |            END AS isl
       |  FROM x$r),
       |d$r AS (
       |  SELECT *, CASE WHEN mt = 1
       |                  AND (i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0
       |                 THEN 1 ELSE 0 END AS mg
       |  FROM g$r),
       |n$r AS (
       |  SELECT *, coalesce(lag(mg) OVER (PARTITION BY word ORDER BY i), 0) AS pmg
       |  FROM d$r),
       |$dst AS MATERIALIZED (
       |  SELECT word, min(freq) AS freq,
       |         array_to_string(list(CASE WHEN mg = 1 THEN sym || nxt ELSE sym END
       |                              ORDER BY i), ' ') AS seg
       |  FROM n$r WHERE mg = 1 OR (mg = 0 AND pmg = 0)
       |  GROUP BY word)""".stripMargin

  /** Greedy disjoint selection for batch round `r`: the ranked
    * top-[[BpeScanW]] window, then [[BpeBatchM]] chained first-
    * non-conflicting picks (NOT EXISTS over the union of earlier
    * picks) — the relational twin of the driver-side greedy scan. */
  private def selectSql(r: Int): String = {
    val parts = new StringBuilder
    parts ++=
      s"""pc$r AS MATERIALIZED (
         |  SELECT pa, pb, row_number() OVER (ORDER BY c DESC, pa, pb) AS rk
         |  FROM (SELECT syms[i] AS pa, syms[i+1] AS pb, sum(freq) AS c
         |        FROM (SELECT string_split(seg, ' ') AS syms, freq FROM seg$r) sy,
         |             UNNEST(range(1, len(sy.syms))) AS u(i)
         |        GROUP BY 1, 2)
         |  ORDER BY rk LIMIT $BpeScanW)""".stripMargin
    for (j <- 0 until BpeBatchM) {
      parts ++= ",\n"
      if (j == 0)
        parts ++= s"s${r}_0 AS MATERIALIZED (SELECT pa, pb, rk FROM pc$r ORDER BY rk LIMIT 1)"
      else {
        val prev = (0 until j).map(k => s"SELECT pa, pb FROM s${r}_$k")
          .mkString(" UNION ALL ")
        parts ++=
          s"""s${r}_$j AS MATERIALIZED (
             |  SELECT p.pa, p.pb, p.rk FROM pc$r p
             |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) s
             |                    WHERE s.pa = p.pa OR s.pa = p.pb
             |                       OR s.pb = p.pa OR s.pb = p.pb)
             |  ORDER BY p.rk LIMIT 1)""".stripMargin
      }
    }
    val batch = (0 until BpeBatchM).map(j => s"SELECT pa, pb FROM s${r}_$j")
      .mkString(" UNION ALL ")
    parts ++= s",\nb$r AS MATERIALIZED (SELECT pa, pb FROM ($batch))"
    parts.toString
  }

  /** The full re-learn + re-apply oracle. MATERIALIZED CTEs are load-
    * bearing: each round references its predecessor twice (ranked
    * selection + re-segmentation), so inlined CTEs would expand the
    * chain exponentially. */
  lazy val bpeTokenStatsSql: String = {
    val batches = BpeRounds / BpeBatchM
    val ctes = new StringBuilder
    ctes ++=
      s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |wf AS (SELECT t AS word, count(*) AS freq
         |       FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
         |seg0 AS MATERIALIZED (
         |  SELECT word, freq,
         |         array_to_string(list_filter(string_split_regex(word, ''), c -> c != ''), ' ') AS seg
         |  FROM wf)""".stripMargin
    for (r <- 0 until batches) {
      ctes ++= ",\n"
      ctes ++= selectSql(r)
      ctes ++= ",\n"
      ctes ++= roundSql(r, s"seg$r", s"seg${r + 1}")
    }
    val mergeRows = (for (r <- 0 until batches; j <- 0 until BpeBatchM) yield
      s"SELECT ${r * BpeBatchM + j} AS ord, pa, pb FROM s${r}_$j")
      .mkString(" UNION ALL ")
    s"""WITH $ctes,
       |mt AS (SELECT ${polyHashSql("array_to_string(list(pa || ' ' || pb ORDER BY ord), '|')")} AS fp
       |       FROM ($mergeRows)),
       |tw AS (SELECT doc_id, u.s.w AS word, u.s.i AS idx
       |       FROM toks, UNNEST(list_transform(range(1, len(tk) + 1), i -> {'i': i, 'w': tk[i]})) AS u(s)),
       |applied AS (
       |  SELECT t.doc_id,
       |         CAST(sum(len(string_split(v.seg, ' '))) AS BIGINT) AS n_bpe,
       |         CAST(count(*) AS BIGINT) AS n_ws,
       |         array_to_string(list(v.seg ORDER BY t.idx), ' ') AS segdoc
       |  FROM tw t JOIN seg$batches v ON t.word = v.word GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.n_bpe, 0) AS n_bpe, coalesce(a.n_ws, 0) AS n_ws,
       |       ${polyHashSql("coalesce(a.segdoc, '')")} AS seg_fp, mt.fp AS mt_fp
       |FROM documents d LEFT JOIN applied a ON d.doc_id = a.doc_id CROSS JOIN mt""".stripMargin
  }
}

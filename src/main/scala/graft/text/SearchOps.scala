package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.functions.NativeExprs
import graft.plans.Barrier

/** Index-accelerated exact substring search (q158) — the
  * decontamination-lookup shape: given a set of probe strings (test-set
  * excerpts, copyrighted passages, canary strings), find EVERY corpus
  * document containing each probe. The naive form is one full corpus
  * scan per probe (`LIKE '%p%'` × P probes); the scale form builds a
  * character-8-gram inverted index ONCE and intersects postings:
  * text containing a probe necessarily contains every one of the
  * probe's 8-gram windows ([[NativeExprs.charGramHashes]]), so
  * candidates = docs whose gram set holds the probe's FIRST and LAST
  * window — a no-false-negative filter — and only candidates pay the
  * exact `contains` verify. The DuckDB oracle IS the naive form
  * (probes × documents, `contains`), so a green hash proves the
  * index path is exactly equivalent to the full scan.
  *
  * Probes are drawn from the corpus itself (every 101st document's
  * chars 21–44), so hits are guaranteed and cross-document repeats of
  * a 24-char span surface as extra matches — both engines derive the
  * probe set identically.
  *
  * Scale notes: the gram index is ~(text × w) keys — the standard
  * inverted-index space trade, built once and amortized over every
  * probe batch; postings join shuffles (gram_fp, doc_id) only; the
  * tiny probe table broadcasts to both postings joins and the verify.
  * For bounded index size at 100 TB, stride the indexed windows by s
  * and enumerate the probe's s alignment hashes (s ≤ probeLen − w + 1
  * keeps the no-miss guarantee); s = 1 here. */
object SearchOps {

  /** Gram width and probe geometry — cross-engine contract. */
  val GramW = 8
  val ProbeEvery = 101
  val ProbeStart = 21 // 1-based
  val ProbeLen = 24

  def substringSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val probes = docs
      .filter(col("doc_id") % ProbeEvery === 0 &&
        length(col("text")) >= ProbeStart + ProbeLen - 1)
      .select(col("doc_id").as("pid"),
        substring(col("text"), ProbeStart, ProbeLen).as("probe"))
      .select(col("pid"), col("probe"),
        polyHashCol(substring(col("probe"), 1, GramW)).as("g1"),
        polyHashCol(substring(col("probe"), ProbeLen - GramW + 1, GramW)).as("g2"))
    val grams = docs.select(col("doc_id"),
      explode(NativeExprs.charGramHashes(col("text"), GramW)).as("g"))
    val c1 = grams.join(broadcast(probes.select(col("pid"), col("g1"))),
      col("g") === col("g1")).select(col("pid"), col("doc_id"))
    val c2 = grams.join(broadcast(probes.select(col("pid"), col("g2"))),
      col("g") === col("g2")).select(col("pid"), col("doc_id"))
    c1.intersect(c2)
      .join(docs, "doc_id")
      .join(broadcast(probes.select(col("pid"), col("probe"))), "pid")
      .filter(col("text").contains(col("probe")))
      .select(col("pid"), col("doc_id"),
        (col("pid") === col("doc_id")).as("is_self"))
  }

  /** Oracle: the naive full-scan form — an independent formulation
    * whose equality proves the index path misses nothing. */
  val substringSearchSql: String =
    s"""WITH p AS (
       |  SELECT doc_id AS pid, substr(text, $ProbeStart, $ProbeLen) AS probe
       |  FROM documents
       |  WHERE doc_id % $ProbeEvery = 0
       |    AND length(text) >= ${ProbeStart + ProbeLen - 1})
       |SELECT p.pid, d.doc_id, p.pid = d.doc_id AS is_self
       |FROM p JOIN documents d ON contains(d.text, p.probe)""".stripMargin

  // ------------------------------------------------------- BM25 retrieval

  /** Fixed query workload for [[bm25Retrieval]] — multi-term lexical
    * queries over the corpus vocabulary (distinct terms per query). */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "window", "agg"),
    2L -> Seq("fast", "hash", "join", "stream"),
    3L -> Seq("merge", "batch", "table"),
    4L -> Seq("vector", "scan", "filter", "big"))

  /** Top-k depth per query. */
  val Bm25TopK = 10

  /** q209: BM25-shaped lexical retrieval (Robertson & Walker's
    * Okapi TF saturation, k1 = 1.2, b = 0.75) — the sparse-retrieval
    * half of a hybrid search stack (q190's RRF is the fusion layer;
    * q24/q79 are the dense half). Per (query, term, doc):
    *
    *   tf_part = tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))  — Okapi
    *   saturation with length normalization — made integer-exact by
    *   clearing denominators with 20·T (T = total corpus tokens,
    *   N = docs, avgdl = T/N):
    *     tf_part_u = (tf·44·T·10⁶) div (20·T·tf + 6·T + 18·dl·N)
    *
    *   idf_u = ((2·(N−df)+1)·10⁶) div (2·df+1) — the RATIONAL inside
    *   of the Robertson-Sparck-Jones idf, kept log-free (the repo's
    *   integer-exact discipline: no cross-engine libm). The log is
    *   monotone, so per-term ordering is preserved; multi-term sums
    *   weight rare terms MORE steeply than textbook BM25 — a
    *   documented deviation, priced by q207's MAP harness if it ever
    *   matters.
    *
    * score_u = Σ_terms (idf_u·tf_part_u) div 10⁶; every product is
    * widened through DECIMAL(38,0)/HUGEINT (the q192 no-cliff rule).
    *
    * Scale shape: postings (doc, term, tf) shuffle on the term key to
    * meet the broadcast query terms, then one (query, doc) partial
    * aggregate; N/T are a 1-row broadcast aggregate; the per-query
    * top-10 runs through the bounded-heap [[graft.plans.GroupedTopK]]
    * operator — no global sort, no per-group window sort. */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qterms = broadcast(
      Bm25Queries.flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("query_id", "term"))
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .transform(Barrier.eager(_))
    val post = docs.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corp = post.agg(sum(col("tf")).as("tt"),
      countDistinct(col("doc_id")).as("nn"))
    val scored = post.join(qterms, "term").join(dft, "term")
      .crossJoin(broadcast(corp))
      .withColumn("tf_part_u", expr(
        """cast((cast(tf as decimal(38,0)) * 44 * tt * 1000000)
          |  div (cast(20 as decimal(38,0)) * tt * tf + 6 * tt + 18 * dl * nn)
          |  as bigint)""".stripMargin))
      .withColumn("idf_u", expr(
        "cast((cast(2 * (nn - df) + 1 as decimal(38,0)) * 1000000) div (2 * df + 1) as bigint)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr(
        "cast((cast(idf_u as decimal(38,0)) * tf_part_u) div 1000000 as bigint)"))
        .as("score_u"),
        count(lit(1)).as("n_hit"))
    graft.plans.GroupedTopK(scored,
      groupCols = Seq("query_id"),
      orderBy = Seq("score_u" -> false, "doc_id" -> true),
      k = Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_u"), col("n_hit"))
  }

  /** Arm depth and output page for [[hybridRetrieval]]. */
  val HybridDepth = 10
  val HybridOut = 10

  /** q220: term-proximity reranking of the q209 page — the classic
    * positional-index feature BM25 is blind to (bag-of-words scores
    * "spark … 500 tokens … window" equal to the phrase "spark window"):
    * per (query, page doc), the MINIMAL token span covering ALL query
    * terms, by the running-max sweep — one (query, doc)-keyed window
    * pass over the doc's query-term positions ordered by position,
    * where lt_i = running max position of term i; whenever every
    * required term has been seen, pos − least(lt_*) + 1 is a candidate
    * cover, and the minimum over the sweep is EXACTLY the minimal
    * cover span (each candidate is the tightest window ending at pos).
    * The page reranks by (all-terms-present, span asc, BM25 score
    * desc, doc) — phrase-tight documents first, bag-of-words order as
    * the tiebreak.
    *
    * Scale shape: positions explode ONLY for page docs (a semi-join
    * with the 40-row page) and ONLY for query terms, so the sweep
    * input is O(page·occurrences); the window partitions by
    * (query, doc) — thousands of independent partitions at fleet
    * scale, never a global sort. */
  def termProximity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val page = bm25Retrieval(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rank").as("r_lex"),
        col("score_u"))
      .transform(Barrier.eager(_))
    val qterms = broadcast(
      Bm25Queries.flatMap { case (q, ts) =>
        ts.zipWithIndex.map { case (t, i) => (q, t, i + 1) }
      }.toDF("query_id", "term", "idx"))
    val nterms = broadcast(
      Bm25Queries.map { case (q, ts) => (q, ts.length.toLong) }
        .toDF("query_id", "n_terms"))
    val pos = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), posexplode(tokensCol(col("text")))
        .as(Seq("pos", "term")))
      .join(page.select(col("query_id"), col("doc_id")), Seq("doc_id"))
      .join(qterms, Seq("query_id", "term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val lasts = (1 to 4).map(i =>
      max(when(col("idx") === i, col("pos"))).over(w).as(s"l$i"))
    val swept = pos.select(
      Seq(col("query_id"), col("doc_id"), col("pos")) ++ lasts: _*)
      .join(nterms, "query_id")
      .withColumn("l_min", expr(
        "CASE WHEN n_terms = 4 THEN least(l1, l2, l3, l4)" +
          " ELSE least(l1, l2, l3) END"))
      .withColumn("complete", expr(
        "l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL" +
          " AND (n_terms < 4 OR l4 IS NOT NULL)"))
    val spans = swept
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(when(col("complete"), col("pos") - col("l_min") + 1))
        .cast("long").as("span_raw"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("has_all"), col("span_min"), desc("score_u"), col("doc_id"))
    page.join(spans, Seq("query_id", "doc_id"), "left")
      .withColumn("has_all",
        when(col("span_raw").isNotNull, 1L).otherwise(0L))
      .withColumn("span_min", coalesce(col("span_raw"), lit(0L)))
      .withColumn("rerank", row_number().over(wR))
      .select(col("query_id"), col("rerank"), col("doc_id"), col("r_lex"),
        col("has_all"), col("span_min"))
  }

  /** Oracle: the identical sweep in window SQL over the q209 page. */
  lazy val termProximitySql: String = {
    val t = tokensSql("text")
    val qvals = Bm25Queries.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (term, i) =>
        s"(CAST($q AS BIGINT), '$term', ${i + 1})"
      }
    }.mkString(", ")
    val nvals = Bm25Queries.map { case (q, ts) =>
      s"(CAST($q AS BIGINT), CAST(${ts.length} AS BIGINT))"
    }.mkString(", ")
    s"""WITH page AS (
       |  SELECT query_id, doc_id, rank AS r_lex, score_u
       |  FROM ($bm25RetrievalSql) bmq),
       |qt(query_id, term, idx) AS (VALUES $qvals),
       |nt(query_id, n_terms) AS (VALUES $nvals),
       |pos AS (
       |  SELECT p.query_id, t.doc_id, t.pos - 1 AS pos, q.idx
       |  FROM (SELECT doc_id, unnest($t) AS term,
       |               generate_subscripts($t, 1) AS pos
       |        FROM documents) t
       |  JOIN page p ON p.doc_id = t.doc_id
       |  JOIN qt q ON q.query_id = p.query_id AND q.term = t.term),
       |swept AS (
       |  SELECT query_id, doc_id, pos,
       |         max(CASE WHEN idx = 1 THEN pos END) OVER wsc AS l1,
       |         max(CASE WHEN idx = 2 THEN pos END) OVER wsc AS l2,
       |         max(CASE WHEN idx = 3 THEN pos END) OVER wsc AS l3,
       |         max(CASE WHEN idx = 4 THEN pos END) OVER wsc AS l4
       |  FROM pos
       |  WINDOW wsc AS (PARTITION BY query_id, doc_id ORDER BY pos
       |                 ROWS UNBOUNDED PRECEDING)),
       |spans AS (
       |  SELECT s.query_id, s.doc_id,
       |         CAST(min(CASE WHEN s.l1 IS NOT NULL AND s.l2 IS NOT NULL
       |                        AND s.l3 IS NOT NULL
       |                        AND (n.n_terms < 4 OR s.l4 IS NOT NULL)
       |                   THEN s.pos - (CASE WHEN n.n_terms = 4
       |                                 THEN least(s.l1, s.l2, s.l3, s.l4)
       |                                 ELSE least(s.l1, s.l2, s.l3) END) + 1
       |                   END) AS BIGINT) AS span_raw
       |  FROM swept s JOIN nt n ON n.query_id = s.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY has_all DESC, span_min, score_u DESC, doc_id)
       |            AS INT) AS rerank,
       |       doc_id, r_lex, has_all, span_min
       |FROM (
       |  SELECT p.query_id, p.doc_id, p.r_lex, p.score_u,
       |         CAST(CASE WHEN s.span_raw IS NOT NULL THEN 1 ELSE 0 END
       |              AS BIGINT) AS has_all,
       |         coalesce(s.span_raw, 0) AS span_min
       |  FROM page p LEFT JOIN spans s
       |    ON s.query_id = p.query_id AND s.doc_id = p.doc_id)""".stripMargin
  }

  /** q215: hybrid sparse+dense retrieval with pseudo-relevance
    * feedback — the full hybrid-search COMPOSITION a RAG/retrieval
    * stack runs: q209's BM25 ranking is the sparse arm; its rank-1 hit
    * per query seeds the dense arm (classic PRF — the text query has
    * no embedding, so the top lexical hit's vector stands in, Rocchio
    * degenerate to one positive document); both 10-deep arms fuse by
    * reciprocal-rank (q190's integer 10⁶ div (60+rank) form —
    * calibration-free, BM25 units never meet dot-product units).
    *
    * Dense arm determinism: components quantize once to [[VectorOps
    * .RpQ]] units (the q83 contract) and candidates rank on the EXACT
    * integer dot product (near-unit-norm corpus ⇒ dot ≈ cosine;
    * ordering is what matters, and the integer form is
    * accumulation-order-proof). Both per-query top-10s run through the
    * bounded-heap GroupedTopK; the seed join is 4 broadcast rows, the
    * dense scan is one narrow codegen'd pass over the embeddings.
    * Ledger columns `in_lex`/`in_dense` make each arm's contribution
    * auditable. */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val bm = bm25Retrieval(spark, dir)
      .transform(Barrier.eager(_))
    val lex = bm.select(col("query_id"), col("doc_id"), col("rank").as("r_lex"))
    val seeds = bm.filter(col("rank") === 1)
      .select(col("query_id"), col("doc_id").as("seed_id"))
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), graft.functions.NativeExprs.quantize(
        col("embedding").cast("array<double>"),
        graft.vector.VectorOps.RpQ).as("a"))
    val qv = broadcast(seeds.join(emb, seeds("seed_id") === emb("vec_id"))
      .select(col("query_id"), col("a").as("qa")))
    val dense0 = emb.crossJoin(qv)
      .select(col("query_id"), col("vec_id"),
        graft.functions.NativeExprs.dotProduct(col("a"), col("qa"))
          .cast("long").as("sim_u"))
    val dense = graft.plans.GroupedTopK(dense0,
      groupCols = Seq("query_id"),
      orderBy = Seq("sim_u" -> false, "vec_id" -> true), k = HybridDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("r_dense"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_u",
        coalesce(expr("1000000 div (60 + r_lex)"), lit(0L))
          + coalesce(expr("1000000 div (60 + r_dense)"), lit(0L)))
      .withColumn("in_lex",
        when(col("r_lex").isNotNull, 1L).otherwise(0L))
      .withColumn("in_dense",
        when(col("r_dense").isNotNull, 1L).otherwise(0L))
    graft.plans.GroupedTopK(fused,
      groupCols = Seq("query_id"),
      orderBy = Seq("rrf_u" -> false, "doc_id" -> true), k = HybridOut)
      .select(col("query_id"), col("rank").as("fused_rank"), col("doc_id"),
        col("rrf_u"), col("in_lex"), col("in_dense"))
  }

  /** Oracle: the whole composition re-derived — q209's SQL as the
    * sparse arm, the quantized-dot dense arm, window-ranked fusion. */
  lazy val hybridRetrievalSql: String = {
    val q = graft.vector.VectorOps.RpQ
    s"""WITH bm AS (SELECT * FROM ($bm25RetrievalSql) bmq),
       |seeds AS (SELECT query_id, doc_id AS seed_id FROM bm WHERE rank = 1),
       |emb AS (SELECT vec_id,
       |               list_transform(embedding::DOUBLE[],
       |                              x -> floor(x * $q + 0.5)) AS a
       |        FROM embeddings),
       |qv AS (SELECT s.query_id, e.a AS qa
       |       FROM seeds s JOIN emb e ON e.vec_id = s.seed_id),
       |dense0 AS (
       |  SELECT q.query_id, e.vec_id,
       |         CAST(list_dot_product(e.a, q.qa) AS BIGINT) AS sim_u
       |  FROM emb e CROSS JOIN qv q),
       |dense AS (
       |  SELECT query_id, vec_id AS doc_id, rn AS r_dense FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |                ORDER BY sim_u DESC, vec_id) AS INT) AS rn
       |    FROM dense0) WHERE rn <= $HybridDepth),
       |lex AS (SELECT query_id, doc_id, rank AS r_lex FROM bm),
       |fused AS (
       |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
       |         coalesce(l.doc_id, d.doc_id) AS doc_id,
       |         CAST(coalesce(1000000 // (60 + l.r_lex), 0)
       |              + coalesce(1000000 // (60 + d.r_dense), 0) AS BIGINT) AS rrf_u,
       |         CAST(CASE WHEN l.r_lex IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_lex,
       |         CAST(CASE WHEN d.r_dense IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_dense
       |  FROM lex l FULL OUTER JOIN dense d
       |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
       |SELECT query_id, fused_rank, doc_id, rrf_u, in_lex, in_dense FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY rrf_u DESC, doc_id) AS INT) AS fused_rank
       |  FROM fused)
       |WHERE fused_rank <= $HybridOut""".stripMargin
  }

  /** Oracle: same integer formulas, window-ranked. */
  val bm25RetrievalSql: String = {
    val t = tokensSql("text")
    // CAST: a bare VALUES integer literal is 32-bit in DuckDB; Spark's
    // query ids are BIGINT — dtype parity for the strict hash compare
    val qvals = Bm25Queries.flatMap { case (q, ts) =>
      ts.map(term => s"(CAST($q AS BIGINT), '$term')")
    }.mkString(", ")
    s"""WITH qterms(query_id, term) AS (VALUES $qvals),
       |docs AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term
       |  FROM (SELECT doc_id, $t AS t FROM documents)),
       |post AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM docs GROUP BY 1, 2, 3),
       |dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |corp AS (SELECT sum(tf) AS tt, count(DISTINCT doc_id) AS nn FROM post),
       |scored AS (
       |  SELECT q.query_id, p.doc_id,
       |         CAST(sum((CAST(((2 * (c.nn - f.df) + 1) * CAST(1000000 AS HUGEINT))
       |                          // (2 * f.df + 1) AS HUGEINT)
       |                    * ((CAST(p.tf AS HUGEINT) * 44 * c.tt * 1000000)
       |                       // (CAST(20 AS HUGEINT) * c.tt * p.tf
       |                          + 6 * c.tt + 18 * p.dl * c.nn)))
       |                   // 1000000) AS BIGINT) AS score_u,
       |         count(*) AS n_hit
       |  FROM post p JOIN qterms q ON p.term = q.term
       |  JOIN dft f ON p.term = f.term CROSS JOIN corp c
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, doc_id, score_u, n_hit FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score_u DESC, doc_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $Bm25TopK""".stripMargin
  }
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextExprs._
import graft.plans.Barrier

/** Text-analysis operators over the `documents` table — the text half of
  * the training-data-pipeline surface (SURVEY.md §7 extensions; see the
  * builder brief: language-ID, quality scoring, token counting, document
  * fingerprinting).
  *
  * Everything is Column expressions (whole-stage codegen; no UDFs) and
  * every operator is a single narrow map over the scan — no shuffle
  * except the final small aggregate where one exists, so the plans are
  * embarrassingly parallel at 100 TB.
  */
object TextOps {

  /** BPE-ish token pattern: letter runs | digit runs | single symbol
    * (the oracle regex; the Spark side counts the same alternation
    * natively in CountBpeTokensExpr — NativeExprsPropSpec pins the
    * equivalence). */
  private val BpePat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private val BpePatSqlLit = s"'$BpePat'"

  // -------------------------------------------------------- token counting

  /** Per-document token statistics: whitespace tokens, BPE-ish regex
    * tokens, and code-point length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    // counts via native codegen expressions (NativeExprs) — the
    // split+filter HOF and regexp_count forms evaluate interpreted /
    // through the regex engine and dominated the bench
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(
      col("doc_id"),
      graft.functions.NativeExprs.countWsTokens(col("text")).as("n_ws_tokens"),
      graft.functions.NativeExprs.countBpeTokens(lower(col("text"))).as("n_bpe_tokens"),
      length(col("text")).as("n_cp"))

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')) AS n_ws_tokens,
       |       len(regexp_extract_all(lower(text), $BpePatSqlLit)) AS n_bpe_tokens,
       |       length(text) AS n_cp
       |FROM documents""".stripMargin

  // ---------------------------------------------------------- language ID

  /** Stopword/marker sets per language + a CJK-codepoint probe for zh.
    * Shared constants: the Spark exprs and the oracle SQL are both
    * generated from these lists. */
  private[text] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "que", "es"))
  private val CjkPat = "[\\x{4e00}-\\x{9fff}]"

  private[text] def markerScoreCol(tk: Column, words: Seq[String]): Column =
    // native set-membership count; the filter+isin HOF runs interpreted
    graft.functions.NativeExprs.countInSet(tk, words)

  private[text] def markerScoreSql(t: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter($t, x -> list_contains($lst, x)))"
  }

  /** N-gram/marker-heuristic language identification; outputs the
    * confusion counts (labelled lang × predicted lang). Deterministic
    * argmax with a fixed tie-break order (en > de > fr > es). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // The token array is its own projection referenced by several score
    // expressions; CollapseProject leaves non-cheap multi-referenced
    // projections alone, so `t` is computed exactly once per row.
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"), col("text"), tokensCol(col("text")).as("t"))
    val tk = col("t")
    val scored = toks.select(
      col("lang"),
      // native code-point range count ≡ regexp_count(text, CjkPat)
      graft.functions.NativeExprs.countCpRange(col("text"), 0x4e00, 0x9fff).as("zh_s"),
      markerScoreCol(tk, markers(0)._2).as("en_s"),
      markerScoreCol(tk, markers(1)._2).as("de_s"),
      markerScoreCol(tk, markers(2)._2).as("fr_s"),
      markerScoreCol(tk, markers(3)._2).as("es_s"))
    val g = greatest(col("en_s"), col("de_s"), col("fr_s"), col("es_s"))
    scored.select(col("lang"),
      when(col("zh_s") > 0, "zh")
        .when(g === 0, "unknown")
        .when(col("en_s") === g, "en")
        .when(col("de_s") === g, "de")
        .when(col("fr_s") === g, "fr")
        .otherwise("es").as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  val langIdSql: String = {
    val t = tokensSql("text")
    val ms = markers.map { case (l, ws) => s"${l}_s" -> markerScoreSql("t", ws) }
    s"""WITH toks AS (SELECT lang, text, $t AS t FROM documents),
       |scored AS (
       |  SELECT lang,
       |         len(regexp_extract_all(text, '$CjkPat')) AS zh_s,
       |         ${ms.map { case (n, e) => s"$e AS $n" }.mkString(",\n         ")}
       |  FROM toks),
       |pred AS (
       |  SELECT lang,
       |         CASE WHEN zh_s > 0 THEN 'zh'
       |              WHEN greatest(en_s, de_s, fr_s, es_s) = 0 THEN 'unknown'
       |              WHEN en_s = greatest(en_s, de_s, fr_s, es_s) THEN 'en'
       |              WHEN de_s = greatest(en_s, de_s, fr_s, es_s) THEN 'de'
       |              WHEN fr_s = greatest(en_s, de_s, fr_s, es_s) THEN 'fr'
       |              ELSE 'es' END AS predicted
       |  FROM scored)
       |SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------- quality scoring

  /** Per-document quality features + a blended [0,1] score:
    * length saturation, punctuation ratio, stopword ratio. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stopWords = markers.flatMap(_._2)
    // tokens in their own multi-referenced projection — see langId note
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"), tokensCol(col("text")).as("t"))
    val tk = col("t")
    val base = toks.select(
      col("doc_id"),
      size(tk).as("n_tokens"),
      markerScoreCol(tk, stopWords).as("n_stop"),
      // native ≡ regexp_count(lower(text), "[^a-z0-9\\s]")
      graft.functions.NativeExprs.countPunct(lower(col("text"))).as("n_punct"),
      length(col("text")).as("n_cp"))
    // Integer basis points (×10000, floor division) end-to-end:
    // bit-identical across engines, immune to FP round-half ties.
    // quality_bp = (5·len_bp + 2·(10000−punct_bp) + 3·stop_bp) / 10,
    // with length saturation at 50 tokens.
    base.select(
      col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
      when(col("n_cp") > 0,
        floor(col("n_punct") * lit(10000L) / col("n_cp")))
        .otherwise(0L).as("punct_bp"),
      when(col("n_tokens") > 0,
        floor(col("n_stop") * lit(10000L) / col("n_tokens")))
        .otherwise(0L).as("stop_bp"),
      (least(col("n_tokens").cast("long"), lit(50L)) * 200).as("len_bp"))
      .withColumn("quality_bp", floor(
        (col("len_bp") * 5 + (lit(10000L) - col("punct_bp")) * 2
          + col("stop_bp") * 3) / 10).cast("long"))
  }

  val qualityScoreSql: String = {
    val t = tokensSql("text")
    val stop = markerScoreSql("t", markers.flatMap(_._2))
    s"""WITH toks AS (SELECT doc_id, text, $t AS t FROM documents),
       |base AS (
       |  SELECT doc_id,
       |         len(t) AS n_tokens,
       |         $stop AS n_stop,
       |         len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS n_punct,
       |         length(text) AS n_cp
       |  FROM toks),
       |feat AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         CAST(CASE WHEN n_cp > 0 THEN n_punct * 10000 // n_cp ELSE 0 END AS BIGINT) AS punct_bp,
       |         CAST(CASE WHEN n_tokens > 0 THEN n_stop * 10000 // n_tokens ELSE 0 END AS BIGINT) AS stop_bp,
       |         CAST(least(n_tokens, 50) * 200 AS BIGINT) AS len_bp
       |  FROM base)
       |SELECT doc_id, n_tokens, punct_bp, stop_bp, len_bp,
       |       CAST((len_bp * 5 + (10000 - punct_bp) * 2 + stop_bp * 3) // 10 AS BIGINT) AS quality_bp
       |FROM feat""".stripMargin
  }

  // ------------------------------------------------------- corpus term stats

  /** Top-5 terms per language: explode tokens → (lang, term) counts →
    * per-group top-k through the custom bounded-heap operator
    * (graft.plans.GroupedTopK) — term-frequency corpus statistics with
    * a shuffle keyed first by (lang, term) for the count, then by lang
    * for the top-k; never a global sort. */
  def topTermsPerLang(spark: SparkSession, dir: String): DataFrame = {
    val counts =       // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"), explode(tokensCol(col("text"))).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    graft.plans.GroupedTopK(counts, groupCols = Seq("lang"),
      orderBy = Seq("cnt" -> false, "term" -> true), k = 5)
  }

  val topTermsPerLangSql: String = {
    val t = tokensSql("text")
    s"""WITH terms AS (SELECT lang, unnest($t) AS term FROM documents),
       |counts AS (SELECT lang, term, count(*) AS cnt FROM terms GROUP BY 1, 2)
       |SELECT lang, term, cnt, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
       |                                    ORDER BY cnt DESC, term) AS INT) AS rank
       |  FROM counts)
       |WHERE rank <= 5""".stripMargin
  }

  // ----------------------------------------------------- document chunking

  /** Tokens per chunk / stride (overlap = ChunkSize - ChunkStride). */
  val ChunkSize   = 64
  val ChunkStride = 48

  /** Overlapping token-window chunking — the standard context-window
    * prep for training pipelines: chunk i covers tokens
    * [i·stride, i·stride + size). Every doc yields ≥ 1 chunk (short
    * docs produce one short chunk); each chunk carries its token count
    * and a content fingerprint so downstream exact-dedup runs directly
    * on chunks. Narrow map + explode — embarrassingly parallel, no
    * shuffle at any corpus size. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val nch = (greatest(lit(0L),
      floor((size(t) - lit(ChunkSize - ChunkStride + 1)) / lit(ChunkStride.toDouble)))
      + 1L).cast("long")
    val chunks = transform(sequence(lit(0L), nch - 1),
      i => slice(t, (i * ChunkStride + 1).cast("int"), lit(ChunkSize)))
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).as("n_chunk_tokens"),
        polyHashCol(array_join(col("chunk"), " ")).as("chunk_fp"))
  }

  val chunkDocsSql: String = {
    val t = tokensSql("text")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |ch AS (SELECT doc_id, t,
       |              1 + greatest(0, (len(t) - ${ChunkSize - ChunkStride + 1}) // $ChunkStride) AS nch
       |       FROM toks),
       |chunks AS (
       |  SELECT doc_id,
       |         unnest(range(0, nch)) AS chunk_id,
       |         unnest(list_transform(range(0, nch),
       |           i -> t[i*$ChunkStride+1 : i*$ChunkStride+$ChunkSize])) AS chunk
       |  FROM ch)
       |SELECT doc_id, chunk_id, len(chunk) AS n_chunk_tokens,
       |       ${polyHashSql("array_to_string(chunk, ' ')")} AS chunk_fp
       |FROM chunks""".stripMargin
  }

  // --------------------------------------------------------- PII redaction

  /** Redaction patterns (Java regex ≡ RE2 for these classes). */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumPat   = "[0-9]{3,}"

  /** Pattern-based PII redaction: replace email-shaped and long-digit
    * spans with typed placeholders, emit match counts plus a fingerprint
    * of the redacted text (bit-parity check that both engines rewrote
    * identically). Narrow map — no shuffle. */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val red = regexp_replace(
      regexp_replace(col("text"), EmailPat, "<EMAIL>"), NumPat, "<NUM>")
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(NumPat)).cast("long").as("n_nums"),
        length(red).as("red_len"),
        polyHashCol(red).as("red_fp"))
  }

  val redactSql: String = {
    // DuckDB single-quoted literals pass backslashes through verbatim,
    // so the Scala regex string drops in unchanged
    val emailSql = EmailPat
    val red = s"regexp_replace(regexp_replace(text, '$emailSql', '<EMAIL>', 'g'), '$NumPat', '<NUM>', 'g')"
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$emailSql')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$NumPat')) AS BIGINT) AS n_nums,
       |       length($red) AS red_len,
       |       ${polyHashSql(red)} AS red_fp
       |FROM documents""".stripMargin
  }

  // --------------------------------------------------- stratified sampling

  /** Per-language keep-rate in percent (unlisted languages: 10%). */
  val SampleRates: Seq[(String, Int)] = Seq("en" -> 50, "de" -> 30, "fr" -> 20)
  val DefaultRate = 10

  /** Deterministic hash-based stratified sampling: a doc is kept iff
    * polyhash(doc_id) mod 100 < rate(lang) — reproducible across runs
    * and engines (no RNG), the standard down-sampling gate in data
    * pipelines. Emitted as per-stratum totals so the oracle checks both
    * the rate logic and the hash. Scale: narrow map + small aggregate;
    * the hash gate runs before any shuffle so discarded rows never
    * leave the scan stage. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldRight(lit(DefaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    val keep = pmod(polyHashCol(col("doc_id").cast("string")), lit(100L)) < rate
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
  }

  val stratifiedSampleSql: String = {
    val rate = SampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $DefaultRate END")
    s"""SELECT lang, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < $rate
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM documents GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------- TF-IDF

  /** Top-5 corpus terms per language by integer TF-IDF:
    * score_bp = tf·10000 // df, where tf counts term occurrences within
    * the language and df counts distinct documents (corpus-wide)
    * containing the term — integer arithmetic end-to-end so both
    * engines agree bit-exactly (no float log-idf). Two shuffles (term
    * counts, distinct doc-term) + a broadcast-sized df join; the top-k
    * is the one-shuffle ranking window. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"), col("doc_id"), tokensCol(col("text")).as("t"))
      .select(col("lang"), col("doc_id"), explode(col("t")).as("term"))
      .transform(Barrier.eager(_))
    val tf = ex.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val df = ex.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(desc("score_bp"), col("term"))
    tf.join(df, "term")
      .withColumn("score_bp", floor(col("tf") * lit(10000L) / col("df")).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("term"), col("tf"), col("df"), col("score_bp"), col("rank"))
  }

  val tfidfTopTermsSql: String = {
    val t = tokensSql("text")
    s"""WITH ex AS (SELECT lang, doc_id, unnest($t) AS term FROM documents),
       |tf AS (SELECT lang, term, count(*) AS tf FROM ex GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY 1),
       |scored AS (
       |  SELECT lang, tf.term AS term, tf, df, tf * 10000 // df AS score_bp
       |  FROM tf JOIN df ON tf.term = df.term)
       |SELECT lang, term, tf, df, score_bp, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
       |              ORDER BY score_bp DESC, term) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin
  }

  // ------------------------------------- chi-square term-source association

  /** q210: χ² discriminative-term selection per source — the classic
    * feature-selection statistic (Yang & Pedersen, "A comparative
    * study on feature selection in text categorization", ICML'97):
    * for each (source, term), the 2×2 document-presence contingency
    *   a = docs in source with term      b = docs elsewhere with term
    *   c = docs in source without term   d = docs elsewhere without
    * scores χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), kept
    * integer-exact as chi2_u = (N·(ad−bc)²·10⁶) div margins — the
    * (ad−bc)² product crosses 2⁶³ at ~50k docs, so the numerator is
    * widened through DECIMAL(38,0)/HUGEINT. The widened form is exact
    * to N ≈ 4·10⁶ docs (N⁵·10⁶/16 hits DECIMAL(38) there) — ample
    * for a per-snapshot audit scope; past it Spark's ANSI decimal
    * overflow FAILS LOUD rather than corrupting, and the documented
    * 100 TB path audits per time-slice/stratum (or drops to float χ²,
    * surrendering the cross-engine hash contract, not correctness —
    * χ² ordering tolerates float). A term present in EVERY document
    * zeroes
    * both (ad−bc) and a margin — div greatest(margins, 1) defines
    * that 0/0 as 0 in both engines.
    *
    * Scale shape: presence postings (doc, term) shuffle once to
    * (source, term) counts; df and per-source doc counts are
    * broadcast-sized side aggregates; the ranking is one per-source
    * window over the vocab-sized score table. What it's for: the
    * per-source vocabulary drift ledger a mixture audit (q77) reads
    * to EXPLAIN a drift flag (q197) — which terms make this source
    * different. */
  def chi2Terms(spark: SparkSession, dir: String): DataFrame =
    chi2TermsOf(Tables.spread(Tables.documents(spark, dir)))

  /** The χ² ladder on an explicit (source, doc_id, text) frame —
    * exposed for planted-contingency specs. */
  def chi2TermsOf(docs: DataFrame): DataFrame = {
    val pres = docs
      .select(col("source"), col("doc_id"),
        explode(array_distinct(tokensCol(col("text")))).as("term"))
      .transform(Barrier.eager(_))
    val a = pres.groupBy(col("source"), col("term")).agg(count(lit(1)).as("a"))
    val dft = pres.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nsrc = docs
      .groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val nAll = docs.agg(count(lit(1)).as("nn"))
    val scored = a.join(dft, "term").join(broadcast(nsrc), "source")
      .crossJoin(broadcast(nAll))
      .withColumn("chi2_u", expr(
        """cast((cast(nn as decimal(38,0))
          |        * (cast(a as decimal(38,0)) * (nn - df - n_src + a)
          |           - cast(df - a as decimal(38,0)) * (n_src - a))
          |        * (cast(a as decimal(38,0)) * (nn - df - n_src + a)
          |           - cast(df - a as decimal(38,0)) * (n_src - a))
          |        * 1000000)
          |  div greatest(cast(df as decimal(38,0)) * (nn - df)
          |                 * n_src * (nn - n_src), 1)
          |  as bigint)""".stripMargin))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(desc("chi2_u"), col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("source"), col("term"), col("a").as("df_in"),
        col("df"), col("chi2_u"), col("rank"))
  }

  val chi2TermsSql: String = {
    val t = tokensSql("text")
    s"""WITH pres AS (
       |  SELECT source, doc_id, unnest(list_distinct($t)) AS term
       |  FROM documents),
       |a AS (SELECT source, term, count(*) AS a FROM pres GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM pres GROUP BY 1),
       |nsrc AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
       |nall AS (SELECT count(*) AS nn FROM documents),
       |scored AS (
       |  SELECT a.source, a.term, a.a, f.df,
       |         CAST((CAST(c.nn AS HUGEINT)
       |                 * (CAST(a.a AS HUGEINT) * (c.nn - f.df - s.n_src + a.a)
       |                    - CAST(f.df - a.a AS HUGEINT) * (s.n_src - a.a))
       |                 * (CAST(a.a AS HUGEINT) * (c.nn - f.df - s.n_src + a.a)
       |                    - CAST(f.df - a.a AS HUGEINT) * (s.n_src - a.a))
       |                 * 1000000)
       |           // greatest(CAST(f.df AS HUGEINT) * (c.nn - f.df)
       |                        * s.n_src * (c.nn - s.n_src), 1)
       |           AS BIGINT) AS chi2_u
       |  FROM a JOIN dft f ON a.term = f.term
       |  JOIN nsrc s ON a.source = s.source CROSS JOIN nall c)
       |SELECT source, term, a AS df_in, df, chi2_u, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY source
       |              ORDER BY chi2_u DESC, term) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin
  }

  // ------------------------------------------------- array-function surface

  /** Array/collection-function surface over the token arrays:
    * distinct-count, element access (null-safe for empty docs),
    * membership, max-by-derived-value — the list-manipulation core any
    * document pipeline leans on. Narrow map, oracle-verified. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        array_max(transform(t, x => length(x))).as("max_token_len"),
        // BOOLEAN and ARRAY output columns are cast/serialized to
        // driver-hashable scalars (int / comma-joined string) — the
        // comparator sorts on every column and can't hash those types.
        array_contains(t, "the").cast("int").as("has_the"),
        get(t, lit(0)).as("first_token"),
        element_at(t, -1).as("last_token"),
        array_join(slice(sort_array(array_distinct(t)), 1, 3), ",").as("first3_sorted"))
  }

  val arrayFuncsSql: String = {
    val t = tokensSql("text")
    s"""SELECT doc_id,
       |       len(t) AS n_tokens,
       |       len(list_distinct(t)) AS n_distinct,
       |       list_max(list_transform(t, x -> length(x))) AS max_token_len,
       |       CAST(list_contains(t, 'the') AS INT) AS has_the,
       |       t[1] AS first_token,
       |       t[-1] AS last_token,
       |       array_to_string(list_sort(list_distinct(t))[1:3], ',') AS first3_sorted
       |FROM (SELECT doc_id, $t AS t FROM documents)""".stripMargin
  }

  // -------------------------------------------------- document fingerprint

  /** Rolling-hash fingerprint of the normalized token stream — the
    * canonical-form hash used by exact dedup (DedupOps.exactDedup). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(
      col("doc_id"),
      polyHashCol(array_join(tokensCol(col("text")), " ")).as("fp"))

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |       ${polyHashSql(s"array_to_string(${tokensSql("text")}, ' ')")} AS fp
       |FROM documents""".stripMargin

  /** The graft_* SQL function surface driven END TO END from SQL text
    * (q104): the whole fingerprint family — tokenize → token hashes →
    * simhash, BPE-ish token count, rolling-hash fingerprint — resolved
    * through the session's function registry instead of the Column API.
    * [[graft.functions.GraftExtensions.registerInto]] installs the
    * functions imperatively (the driver's harness owns the session, so
    * the `withExtensions` construction path isn't available), proving a
    * SQL-only user of the library gets the same native codegen'd
    * expressions — and the same oracle-verified values — as the Scala
    * API. */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.registerInto(spark)
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .selectExpr(
        "doc_id",
        s"graft_simhash(graft_token_hashes(graft_tokenize(text)), ${graft.dedup.DedupOps.SimhashBits}) AS simhash",
        "graft_count_bpe_tokens(lower(text)) AS n_bpe_tokens",
        "graft_poly_hash(array_join(graft_tokenize(text), ' ')) AS fp")
  }

  val sqlSurfaceSql: String =
    s"""WITH toks AS (SELECT doc_id, text, ${tokensSql("text")} AS t FROM documents),
       |hashes AS (SELECT doc_id, list_transform(t, s -> ${polyHashSql("s")}) AS hs FROM toks),
       |bits AS (
       |  SELECT doc_id, b,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
       |                     (acc, h) -> acc + ((h >> b) & 1) * 2 - 1) AS s
       |  FROM hashes CROSS JOIN (SELECT unnest(range(0, ${graft.dedup.DedupOps.SimhashBits})) AS b) bs),
       |sigs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1)
       |SELECT t.doc_id, s.simhash,
       |       len(regexp_extract_all(lower(t.text), $BpePatSqlLit)) AS n_bpe_tokens,
       |       ${polyHashSql("array_to_string(t.t, ' ')")} AS fp
       |FROM toks t JOIN sigs s ON t.doc_id = s.doc_id""".stripMargin

  /** Percent of docs routed to train / train+val by [[hashSplit]]. */
  val TrainPct = 80L
  val ValPct   = 90L

  /** Deterministic train/val/test assignment — the split step every
    * training pipeline runs before packing: bucket = stable hash of
    * (source, doc_id) mod 100, split by fixed percent bands. Hashing a
    * stable document key (never a random()) means the assignment is
    * reproducible run-over-run and machine-over-machine, docs keep
    * their split when the corpus regrows, and adding data never moves
    * an old doc across the train/eval boundary (the leak this op
    * exists to prevent). Pure narrow map, zero shuffles. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        (polyHashCol(concat_ws(":", col("source"), col("doc_id"))) % 100)
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < ValPct, "val")
          .otherwise("test"))

  val hashSplitSql: String =
    s"""SELECT doc_id, bucket,
       |       CASE WHEN bucket < $TrainPct THEN 'train'
       |            WHEN bucket < $ValPct THEN 'val'
       |            ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |             ${polyHashSql("concat(source, ':', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
       |      FROM documents)""".stripMargin

  // ----------------------------------------------------- sequence packing

  /** Token capacity of one packed training sequence. */
  val PackCapacity = 2048L

  /** Sequence packing (concat-and-chunk): documents are concatenated in
    * doc_id order and cut into [[PackCapacity]]-token sequences; each
    * doc lands in the bin where its first token falls (exclusive prefix
    * sum div capacity — a long doc may span into following bins, the
    * standard chunking trade). Emitted per bin: doc count, token sum,
    * id range — the table a packing loader consumes.
    *
    * Scale note: the prefix sum here uses ONE global ordering (a single
    * sort). At 100 TB packing runs per shard — partitionBy(shard) on
    * the same window — because global token order across shards is not
    * semantically meaningful; the per-shard form is this exact plan
    * with a partition key added. */
  def seqPacking(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs.countWsTokens(col("text")).cast("long").as("n_tok"))
      .withColumn("prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr(s"prev div $PackCapacity"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  val seqPackingSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tok,
       |         coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |  FROM t)
       |SELECT CAST(prev // $PackCapacity AS BIGINT) AS bin,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1""".stripMargin

  // ---------------------------------------------- padding-waste audit

  /** Sequences per padded batch. */
  val PadBatch = 32L
  /** Parallel loader shards batching runs inside. */
  val PadShards = 8L
  /** Token width of one length bucket for the sorted strategy. */
  val PadBucketW = 64L

  /** q200: padding-waste batching audit — the efficiency twin of
    * [[seqPacking]] for workloads that CANNOT concat-and-chunk
    * (inference serving, SFT with per-example loss masks): sequences
    * batch together and every sequence pads to its batch's max length,
    * so wasted tokens = Σ_batch (max_len·n − Σ len). The audit prices
    * two deterministic loader strategies on the same corpus:
    * `arrival` batches docs in doc_id order within each of
    * [[PadShards]] hash shards (what a naive parallel loader does);
    * `sorted` first buckets by length ([[PadBucketW]]-token bands,
    * still sharded) and batches within the bucket — the standard
    * length-bucketed batching fix. One ledger row per strategy with
    * batch count, real/padded/wasted token sums, and waste in ppm of
    * the padded total; the delta between the two rows is exactly the
    * token budget length-bucketing buys.
    *
    * All arithmetic is BIGINT on token counts (the ppm quotient widens
    * through DECIMAL(38,0)/HUGEINT so a 100 TB token sum cannot
    * overflow the product); batch assignment is a row_number window
    * PARTITIONED by (shard) or (bucket, shard) — bounded per-partition
    * work that parallelizes across shards, never a global sort. The
    * oracle replays both strategies with explicit window functions. */
  def paddingWaste(spark: SparkSession, dir: String): DataFrame =
    paddingWasteOf(Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.NativeExprs.countWsTokens(col("text")).cast("long").as("n_tok")))

  /** The audit over any (doc_id, n_tok) table — split out so specs can
    * plant length profiles with hand-computable waste. */
  def paddingWasteOf(docs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docs0
      .withColumn("shard", col("doc_id") % PadShards)
      .withColumn("bucket", expr(s"n_tok div $PadBucketW"))
    def ledger(strategy: String, parts: Seq[String],
        ord: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val w = Window.partitionBy(parts.map(col): _*).orderBy(ord: _*)
      val batches = docs
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("batch", expr(s"(rn - 1) div $PadBatch"))
        .groupBy((parts :+ "batch").map(col): _*)
        .agg(count(lit(1)).as("n"), max(col("n_tok")).as("mx"),
          sum(col("n_tok")).as("tk"))
      batches.agg(
          count(lit(1)).as("n_batches"),
          sum(col("tk")).as("real_tokens"),
          sum(col("mx") * col("n")).as("padded_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_tokens"),
          (col("padded_tokens") - col("real_tokens")).as("waste_tokens"),
          expr("cast((cast(padded_tokens - real_tokens as decimal(38,0)) * 1000000) div padded_tokens as bigint)")
            .as("waste_ppm"))
    }
    ledger("arrival", Seq("shard"), Seq(col("doc_id")))
      .unionAll(ledger("sorted", Seq("bucket", "shard"),
        Seq(col("n_tok"), col("doc_id"))))
  }

  val paddingWasteSql: String = {
    def ledger(strategy: String, parts: String, ord: String) =
      s"""SELECT '$strategy' AS strategy,
         |       CAST(count(*) AS BIGINT) AS n_batches,
         |       CAST(sum(tk) AS BIGINT) AS real_tokens,
         |       CAST(sum(mx * n) AS BIGINT) AS padded_tokens,
         |       CAST(sum(mx * n) - sum(tk) AS BIGINT) AS waste_tokens,
         |       CAST((CAST(sum(mx * n) - sum(tk) AS HUGEINT) * 1000000)
         |            // sum(mx * n) AS BIGINT) AS waste_ppm
         |FROM (
         |  SELECT count(*) AS n, max(n_tok) AS mx, sum(n_tok) AS tk
         |  FROM (
         |    SELECT $parts, n_tok,
         |           (row_number() OVER (PARTITION BY $parts ORDER BY $ord) - 1)
         |             // $PadBatch AS batch
         |    FROM t)
         |  GROUP BY $parts, batch)""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tok,
       |         doc_id % $PadShards AS shard,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) // $PadBucketW AS bucket
       |  FROM documents)
       |${ledger("arrival", "shard", "doc_id")}
       |UNION ALL
       |${ledger("sorted", "bucket, shard", "n_tok, doc_id")}""".stripMargin
  }

  // -------------------------------------------------- data-mixture audit

  /** Per-(source, lang) corpus mixture table: doc count, token sum,
    * char sum, and DISTINCT content fingerprints (n_docs − n_unique =
    * exact duplicates inside the cell) — the table sampling weights and
    * dedup rates are computed from before training. One hash aggregate;
    * the text reduces to (token count, fingerprint) in the narrow map,
    * so only small integers enter the shuffle. */
  def mixtureAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .select(col("source"), col("lang"), col("n_chars"),
        graft.functions.NativeExprs.countWsTokens(col("text")).cast("long").as("n_tok"),
        polyHashCol(array_join(tokensCol(col("text")), " ")).as("fp"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("fp")).as("n_unique"))

  val mixtureAuditSql: String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       count(DISTINCT fp) AS n_unique
       |FROM (SELECT source, lang, n_chars,
       |             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tok,
       |             ${polyHashSql(s"array_to_string(${tokensSql("text")}, ' ')")} AS fp
       |      FROM documents)
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- repetition detection

  /** Within-document repetition score: 1 − (distinct shingles / total
    * shingle positions), in integer basis points — a high score means
    * the doc repeats its own n-grams (boilerplate, template spam, decode
    * loops), the standard cheap repetition filter. Narrow map, no
    * shuffle; docs with fewer than [[ShingleW]] tokens have no shingle
    * positions and drop out (same filter on both engines). */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
    toks.filter(size(col("t")) >= ShingleW)
      .select(col("doc_id"),
        (size(col("t")) - ShingleW + 1).cast("long").as("n_positions"),
        size(graft.functions.NativeExprs.shingleHashes(col("t"), ShingleW, P))
          .cast("long").as("n_distinct"))
      .withColumn("rep_bp", expr("10000 - (n_distinct * 10000) div n_positions"))
  }

  val repetitionScoreSql: String = {
    val t = tokensSql("text")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |f AS (SELECT doc_id, t FROM toks WHERE len(t) >= $ShingleW),
       |m AS (
       |  SELECT doc_id,
       |         CAST(len(t) - ${ShingleW - 1} AS BIGINT) AS n_positions,
       |         CAST(len(list_distinct(list_transform(${shinglesSql("t")}, s -> ${polyHashSql("s")}))) AS BIGINT) AS n_distinct
       |  FROM f)
       |SELECT doc_id, n_positions, n_distinct,
       |       CAST(10000 - (n_distinct * 10000) // n_positions AS BIGINT) AS rep_bp
       |FROM m""".stripMargin
  }

  // --------------------------------- Gopher-style n-gram repetition rules

  /** Position-share thresholds (basis points) for [[repetitionRules]] —
    * Gopher §A1.1-inspired: the paper caps the character mass of the
    * most frequent {2,3,4}-gram at 20/18/16% and of duplicated
    * {5..10}-grams at ≤15%; this corpus has no newlines or long n-gram
    * tails, so the rules are re-expressed on the POSITIONAL token-gram
    * scale (the q107 accounting convention): the share of w-gram
    * positions held by the modal gram, and the share of 5-gram
    * positions whose gram occurs more than once. */
  val RepTop2MaxBp = 2000L
  val RepTop3MaxBp = 1800L
  val RepTop4MaxBp = 1600L
  val RepDup5MaxBp = 1500L

  /** Intra-document repetition rule bundle (q130) — the complement of
    * q78's distinct-shingle ratio: q78 asks "how much of this doc is
    * repeated AT ALL", these rules ask "is the repetition CONCENTRATED"
    * (one runaway phrase — boilerplate headers, template spam, decode
    * loops — versus diffuse reuse). Per doc and gram size w∈{2,3,4,5},
    * [[graft.functions.GramFreqStatsExpr]] computes (positions, modal
    * count, duplicated positions) in ONE in-row hash-map pass, so the
    * whole bundle is a zero-shuffle codegen'd narrow map — no explode,
    * no per-gram groupBy, O(doc length) state per row at any corpus
    * size. Docs under 5 tokens have no 5-gram positions and drop out
    * (same filter on both engines); all-integer basis points. */
  def repetitionRules(spark: SparkSession, dir: String): DataFrame = {
    val N = graft.functions.NativeExprs
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        N.gramFreqStats(col("t"), 2, P).as("s2"),
        N.gramFreqStats(col("t"), 3, P).as("s3"),
        N.gramFreqStats(col("t"), 4, P).as("s4"),
        N.gramFreqStats(col("t"), 5, P).as("s5"))
      .select(col("doc_id"),
        expr("(s2[1] * 10000) div s2[0]").as("top2_bp"),
        expr("(s3[1] * 10000) div s3[0]").as("top3_bp"),
        expr("(s4[1] * 10000) div s4[0]").as("top4_bp"),
        expr("(s5[2] * 10000) div s5[0]").as("dup5_bp"))
      .withColumn("keep",
        when(col("top2_bp") <= RepTop2MaxBp &&
             col("top3_bp") <= RepTop3MaxBp &&
             col("top4_bp") <= RepTop4MaxBp &&
             col("dup5_bp") <= RepDup5MaxBp, lit(1L)).otherwise(lit(0L)))
  }

  val repetitionRulesSql: String = {
    val t = tokensSql("text")
    def gramAgg(w: Int): String =
      s"""(SELECT doc_id,
         |        CAST(sum(c) AS BIGINT) AS n_pos,
         |        CAST(max(c) AS BIGINT) AS top_cnt,
         |        CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_pos
         |   FROM (SELECT doc_id, h, count(*) AS c
         |           FROM (SELECT doc_id,
         |                        unnest(list_transform(range(1, len(t) - ${w - 2}),
         |                               i -> ${polyHashSql(s"array_to_string(t[i:i+${w - 1}], ' ')")})) AS h
         |                   FROM f)
         |          GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    s"""WITH f AS (
       |  SELECT doc_id, $t AS t FROM documents WHERE len($t) >= 5),
       |a2 AS ${gramAgg(2)},
       |a3 AS ${gramAgg(3)},
       |a4 AS ${gramAgg(4)},
       |a5 AS ${gramAgg(5)},
       |bp AS (
       |  SELECT a2.doc_id,
       |         (a2.top_cnt * 10000) // a2.n_pos AS top2_bp,
       |         (a3.top_cnt * 10000) // a3.n_pos AS top3_bp,
       |         (a4.top_cnt * 10000) // a4.n_pos AS top4_bp,
       |         (a5.dup_pos * 10000) // a5.n_pos AS dup5_bp
       |  FROM a2 JOIN a3 USING (doc_id) JOIN a4 USING (doc_id)
       |          JOIN a5 USING (doc_id))
       |SELECT doc_id, top2_bp, top3_bp, top4_bp, dup5_bp,
       |       CASE WHEN top2_bp <= $RepTop2MaxBp AND top3_bp <= $RepTop3MaxBp
       |             AND top4_bp <= $RepTop4MaxBp AND dup5_bp <= $RepDup5MaxBp
       |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
       |FROM bp""".stripMargin
  }

  // -------------------------------------------- mixture sampling under budget

  /** Per-(source, lang) token budget for [[mixtureSample]]. */
  val TokenBudget = 2000L

  /** Mixture construction under a token budget (q89) — the selection
    * step that q77's audit informs: within each (source, lang) stratum,
    * docs are ranked by quality (q17's integer basis-point score,
    * doc_id tie-break) and kept while the budget is unfilled — a doc is
    * admitted iff the tokens BEFORE it total under [[TokenBudget]]
    * (window prefix sum, so the budget may overflow by one doc —
    * deterministic fill semantics on both engines). One shuffle on the
    * stratum key; all-integer arithmetic, bit-exact cross-engine. At
    * 100 TB the same window runs per stratum partition — no global
    * sort, no driver-side selection loop. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("lang"),
        graft.functions.NativeExprs.countWsTokens(col("text")).cast("long").as("n_tok"))
    val quality = qualityScore(spark, dir).select(col("doc_id"), col("quality_bp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang"))
      .orderBy(desc("quality_bp"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.join(quality, "doc_id")
      .withColumn("prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .filter(col("prev") < TokenBudget)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("kept_tokens"),
        min(col("quality_bp")).as("cutoff_quality"))
  }

  val mixtureSampleSql: String = {
    val t = tokensSql("text")
    val stop = markerScoreSql("t", markers.flatMap(_._2))
    s"""WITH toks AS (SELECT doc_id, source, lang, text, $t AS t FROM documents),
       |base AS (
       |  SELECT doc_id, source, lang,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tok,
       |         len(t) AS n_tokens,
       |         $stop AS n_stop,
       |         len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS n_punct,
       |         length(text) AS n_cp
       |  FROM toks),
       |feat AS (
       |  SELECT doc_id, source, lang, n_tok,
       |         CAST(CASE WHEN n_cp > 0 THEN n_punct * 10000 // n_cp ELSE 0 END AS BIGINT) AS punct_bp,
       |         CAST(CASE WHEN n_tokens > 0 THEN n_stop * 10000 // n_tokens ELSE 0 END AS BIGINT) AS stop_bp,
       |         CAST(least(n_tokens, 50) * 200 AS BIGINT) AS len_bp
       |  FROM base),
       |scored AS (
       |  SELECT doc_id, source, lang, n_tok,
       |         CAST((len_bp * 5 + (10000 - punct_bp) * 2 + stop_bp * 3) // 10 AS BIGINT) AS quality_bp
       |  FROM feat),
       |ranked AS (
       |  SELECT *, coalesce(sum(n_tok) OVER (
       |           PARTITION BY source, lang
       |           ORDER BY quality_bp DESC, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |  FROM scored)
       |SELECT source, lang, count(*) AS n_kept,
       |       CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
       |       min(quality_bp) AS cutoff_quality
       |FROM ranked WHERE prev < $TokenBudget
       |GROUP BY 1, 2""".stripMargin
  }
  // ---------------------------------------------------- quality rule bundle

  /** Gopher-style quality RULE BUNDLE (Rae et al. 2021's heuristic
    * filter family, re-expressed on this corpus): per document, the four
    * rule inputs as exact integers — token count, mean token length in
    * centi-chars, symbol share of raw chars in basis points, stopword
    * hits — plus the 0/1 keep verdict of the conjunction. Differs from
    * q17's quality *score* (one blended number) in being the
    * *filter-rule* view: each rule is auditable on its own, so a curator
    * can see WHICH rule dropped a document.
    *
    * All metrics are integer-derived (count/length/div arithmetic), so
    * the result is engine-exact; guards keep the ANSI-mode div safe on
    * empty/degenerate docs. Pure narrow map over the scan — zero
    * shuffles, embarrassingly parallel at any scale. */
  val RuleMinTokens    = 30L
  val RuleMaxTokens    = 100000L
  val RuleMinMeanCenti = 300L   // mean token length >= 3.00 chars
  val RuleMaxMeanCenti = 1000L  // mean token length <= 10.00 chars
  val RuleMaxSymbolBp  = 1000L  // symbols <= 10% of raw chars
  val RuleMinStopHits  = 2L     // at least 2 stopword occurrences
  private val StopPat  = "\\b(the|a|of|to|and|in|is|that)\\b"

  def qualityRules(spark: SparkSession, dir: String): DataFrame =
          // spread: no-op on a multi-split deployment, parallelizes the 1-split testdata
      Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"), tokensCol(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        length(array_join(col("tk"), "")).cast("long").as("n_alnum"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^A-Za-z0-9 ]+", "")))
          .cast("long").as("n_sym"),
        regexp_count(lower(col("text")), lit(StopPat)).cast("long")
          .as("stop_hits"))
      .select(col("doc_id"), col("n_tokens"),
        expr("if(n_tokens > 0, (n_alnum * 100) div n_tokens, NULL)")
          .as("mean_centi"),
        expr("if(n_chars > 0, (n_sym * 10000) div n_chars, NULL)")
          .as("symbol_bp"),
        col("stop_hits"))
      .withColumn("keep",
        when(col("n_tokens").between(RuleMinTokens, RuleMaxTokens) &&
             col("mean_centi").between(RuleMinMeanCenti, RuleMaxMeanCenti) &&
             col("symbol_bp") <= RuleMaxSymbolBp &&
             col("stop_hits") >= RuleMinStopHits, lit(1L)).otherwise(lit(0L)))

  val qualityRulesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, ${tokensSql("text")} AS tk FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         CAST(len(tk) AS BIGINT) AS n_tokens,
       |         CAST(length(array_to_string(tk, '')) AS BIGINT) AS n_alnum,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(length(text) -
       |              length(regexp_replace(text, '[^A-Za-z0-9 ]+', '', 'g')) AS BIGINT) AS n_sym,
       |         CAST(len(regexp_extract_all(lower(text), '${"\\"}b(the|a|of|to|and|in|is|that)${"\\"}b')) AS BIGINT) AS stop_hits
       |  FROM t),
       |m2 AS (
       |  SELECT doc_id, n_tokens,
       |         CASE WHEN n_tokens > 0 THEN (n_alnum * 100) // n_tokens END AS mean_centi,
       |         CASE WHEN n_chars > 0 THEN (n_sym * 10000) // n_chars END AS symbol_bp,
       |         stop_hits
       |  FROM m)
       |SELECT doc_id, n_tokens, mean_centi, symbol_bp, stop_hits,
       |       CASE WHEN n_tokens BETWEEN $RuleMinTokens AND $RuleMaxTokens
       |             AND mean_centi BETWEEN $RuleMinMeanCenti AND $RuleMaxMeanCenti
       |             AND symbol_bp <= $RuleMaxSymbolBp
       |             AND stop_hits >= $RuleMinStopHits
       |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
       |FROM m2""".stripMargin
  // ------------------------------------------- PPS (token-weighted) sample

  /** Target sample size for [[ppsSample]]. */
  val PpsTarget = 25L

  /** Systematic PPS sample — probability-proportional-to-size selection
    * with a FIXED grid instead of per-doc randomness: lay documents on
    * the token axis in doc_id order, then select every document whose
    * token interval covers a multiple of step = total_tokens/target.
    * Long documents are hit with probability proportional to their
    * token mass (a doc longer than step is hit `n_hits` times) — the
    * estimator every survey-sampling text uses, and here it is fully
    * DETERMINISTIC integer arithmetic: reproducible run-over-run,
    * engine-exact, no RNG parity issues.
    *
    * Scale note: the exclusive prefix sum uses ONE global ordering
    * (single sort) — same trade as q76's packing; at 100 TB run it
    * per shard (partitionBy(shard) window) and sample within shards. */
  def ppsSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokensCol(col("text"))).cast("long").as("n_tokens"))
    val total = docs.agg(
      greatest((sum(col("n_tokens")) / lit(PpsTarget)).cast("long"), lit(1L))
        .as("step"))
    docs
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .crossJoin(broadcast(total))
      .filter(expr("(cum_before + n_tokens) div step > cum_before div step"))
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        expr("(cum_before + n_tokens) div step - cum_before div step")
          .as("n_hits"))
  }

  val ppsSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d),
       |t AS (SELECT greatest(CAST(sum(n_tokens) AS BIGINT) // $PpsTarget, 1) AS step FROM d)
       |SELECT doc_id, n_tokens, cum_before,
       |       CAST((cum_before + n_tokens) // step - cum_before // step AS BIGINT) AS n_hits
       |FROM c CROSS JOIN t
       |WHERE (cum_before + n_tokens) // step > cum_before // step""".stripMargin
  // --------------------------------------------- heavy hitters (Misra-Gries)

  /** Misra-Gries counter budget. Any token with frequency strictly
    * above N/(MgCapacity+1) is GUARANTEED in the sketch's candidate
    * set, regardless of partition order or merge shape. */
  val MgCapacity = 40

  /** Frequent-items (heavy hitters) via the native Misra-Gries
    * TypedImperativeAggregate — the frequency member of the sketch
    * family (HLL++ distinct q44, KLL percentiles q45). Emits every TRUE
    * heavy hitter (exact count, one exact groupBy — the verifiable
    * twin) plus the integer flag that the token is in the sketch's
    * candidate set; the oracle emits the same rows with a literal 1,
    * so the row hash-matches iff the sketch honors its guarantee on
    * this corpus (the q44/q45 within-bound convention).
    *
    * Scale shape: the sketch side aggregates with O(capacity) state per
    * partition and shuffles ONE ~40-entry map per partition — at 100 TB
    * that is the difference between a KB-sized rollup and the exact
    * path's shuffle of every distinct token. The exact side exists to
    * make the guarantee checkable at test scale. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(tokensCol(col("text")).as("t"))
    val sketch = toks.agg(
      graft.functions.NativeExprs.misraGries(col("t"), MgCapacity).as("cand"))
    val exact = toks.select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = exact.agg(sum(col("n")).as("total"))
    exact.crossJoin(broadcast(total))
      .filter(col("n") * (MgCapacity + 1) > col("total"))
      .crossJoin(broadcast(sketch))
      .select(col("term"), col("n"),
        when(array_contains(col("cand"), col("term")), lit(1L))
          .otherwise(lit(0L)).as("in_sketch"))
  }

  val heavyHittersSql: String =
    s"""WITH toks AS (SELECT ${tokensSql("text")} AS t FROM documents),
       |terms AS (SELECT unnest(t) AS term FROM toks),
       |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM terms GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM terms)
       |SELECT term, n, CAST(1 AS BIGINT) AS in_sketch
       |FROM c CROSS JOIN tot
       |WHERE n * ${MgCapacity + 1} > total""".stripMargin

  // ------------------------------------------- Pareto skyline (q219)

  /** Bucket width (quality bp) for the skyline's distributed prune. */
  val SkyBucketBp = 500L

  /** q219: Pareto-front (skyline) data selection — the multi-criteria
    * version of threshold filtering (Börzsönyi et al., "The skyline
    * operator", ICDE'01): keep documents no other document beats on
    * BOTH quality (q17's integer quality_bp) and length (n_tokens) —
    * the curation question "which docs are undominated trade-offs",
    * where any single blended score would impose an arbitrary weighting.
    * d' dominates d ⟺ q' ≥ q ∧ t' ≥ t with one strict.
    *
    * Two-phase scale shape: (1) a PRUNE pass — bucket quality into
    * [[SkyBucketBp]] bands, take per-bucket max token count (a tiny
    * map-side-combined aggregate, broadcast back); a doc dominated by
    * a strictly-higher bucket's max is certainly dominated (every
    * member of that bucket has strictly higher quality), so the
    * full corpus never sorts — only survivors (front-adjacent mass)
    * reach (2) the EXACT sweep, one quality-ordered range window
    * computing max tokens over strictly-better and equal-quality
    * peers. The oracle is the independent quadratic NOT-EXISTS form.
    * Front rows emit with a deterministic rank. */
  def skylineDocs(spark: SparkSession, dir: String): DataFrame =
    skylineOf(qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_bp"), col("n_tokens")))

  /** The two-phase skyline on an explicit (doc_id, quality_bp,
    * n_tokens) frame — exposed for planted-front specs. */
  def skylineOf(points: DataFrame): DataFrame = {
    val pts = points
      .transform(Barrier.eager(_))
    val buckets = pts
      .groupBy(expr(s"quality_bp div $SkyBucketBp").as("b"))
      .agg(max(col("n_tokens")).as("max_t"))
    // strictly-higher-bucket running max: every doc in bucket b' > b
    // has quality >= b'·width > quality of anything in bucket b
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(desc("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prune = broadcast(buckets
      .withColumn("dom_t", max(col("max_t")).over(wB))
      .select(col("b"), col("dom_t")))
    val survivors = pts
      .withColumn("b", expr(s"quality_bp div $SkyBucketBp"))
      .join(prune, "b")
      .filter(col("dom_t").isNull || col("dom_t") < col("n_tokens"))
    val wHi = org.apache.spark.sql.expressions.Window
      .orderBy(desc("quality_bp"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wEq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("quality_bp"))
    val front = survivors
      .withColumn("hi_t", max(col("n_tokens")).over(wHi))
      .withColumn("eq_t", max(col("n_tokens")).over(wEq))
      .filter((col("hi_t").isNull || col("hi_t") < col("n_tokens")) &&
        col("eq_t") === col("n_tokens"))
    val wR = org.apache.spark.sql.expressions.Window
      .orderBy(desc("quality_bp"), desc("n_tokens"), col("doc_id"))
    front.withColumn("front_rank", row_number().over(wR))
      .select(col("front_rank"), col("doc_id"), col("quality_bp"),
        col("n_tokens"))
  }

  /** Oracle: quadratic dominance NOT EXISTS over the same scores. */
  lazy val skylineDocsSql: String =
    s"""WITH pts AS (
       |  SELECT doc_id, quality_bp, n_tokens FROM ($qualityScoreSql) qs)
       |SELECT CAST(row_number() OVER (ORDER BY quality_bp DESC,
       |              n_tokens DESC, doc_id) AS INT) AS front_rank,
       |       doc_id, quality_bp, n_tokens
       |FROM pts p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pts d
       |  WHERE d.quality_bp >= p.quality_bp AND d.n_tokens >= p.n_tokens
       |    AND (d.quality_bp > p.quality_bp OR d.n_tokens > p.n_tokens))""".stripMargin

  // --------------------------------------------- Count-Min sketch (q212)

  /** Count-Min geometry: depth×width counters, row-r cell =
    * ((CmA(r)·h + CmB(r)) mod P) mod CmWidth over the polynomial
    * shingle hash. Width is deliberately SMALL relative to the
    * distinct-shingle count so collisions are real and the
    * overestimate ledger is non-trivial at test scale. */
  val CmWidth = 512
  val CmA: Seq[Long] = Seq(293177L, 1093571L, 48718793L, 145913717L)
  val CmB: Seq[Long] = Seq(7L, 5381L, 104729L, 2654435L)
  val CmTopK = 10

  /** q212: Count-Min frequency sketch over 3-word shingles — the
    * streaming-friendly counter complement to q116's Misra-Gries
    * (MG keeps top items, CMS answers POINT queries for any key and
    * merges by pure counter addition, so partials combine map-side
    * and daily sketches re-aggregate like q156's HLL partials). The
    * native [[graft.functions.CountMinAggExpr]] holds O(depth·width)
    * state per partition regardless of shingle cardinality; the full
    * counter array is emitted, so estimates are declarative
    * `element_at` + `least` expressions and the DuckDB oracle rebuilds
    * EVERY counter relationally — the estimate itself hash-matches
    * bit-exactly (stronger than the q44 bound-only convention), and
    * est ≥ exact by construction with `over_u` the collision mass.
    * Probes: the exact top-[[CmTopK]] shingles (the keys a production
    * monitor would query). */
  def countMinShingles(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.spread(Tables.documents(spark, dir))
      .select(explode(shinglesCol(tokensCol(col("text")))).as("s"))
      .select(col("s"), polyHashCol(col("s")).as("h"))
      .transform(Barrier.eager(_))
    val sk = sh.agg(graft.functions.NativeExprs.countMinAgg(
      col("h"), CmWidth, CmA, CmB, P).as("sk"))
    val exact = sh.groupBy(col("s"), col("h")).agg(count(lit(1)).as("n"))
    // global top-k via orderBy+limit -> TakeOrderedAndProject (per-
    // partition heaps + driver merge of k), never a one-partition sort
    val top = exact.orderBy(desc("n"), col("s")).limit(CmTopK)
    val estimates = CmA.indices.map { r =>
      expr(s"element_at(sk, cast(((${CmA(r)} * h + ${CmB(r)}) % $P) % $CmWidth as int)" +
        s" + ${r * CmWidth} + 1)")
    }
    top.crossJoin(broadcast(sk))
      .select(col("s").as("shingle"), col("n"),
        least(estimates: _*).as("est"))
      .withColumn("over_u", col("est") - col("n"))
  }

  val countMinShinglesSql: String = {
    val consts = CmA.zip(CmB).zipWithIndex.map { case ((a, b), r) =>
      s"($r, CAST($a AS BIGINT), CAST($b AS BIGINT))"
    }.mkString(", ")
    s"""WITH sh0 AS (
       |  -- tokens behind a derived table: composing shinglesSql over
       |  -- the raw tokensSql STRING repeats the tokenize regex inside
       |  -- every element access (5x per shingle — 257 of the 484 s
       |  -- sf1 wall); as a projected column it runs once per row
       |  SELECT unnest(${shinglesSql("t")}) AS s
       |  FROM (SELECT ${tokensSql("text")} AS t FROM documents)),
       |consts(r, a, b) AS (VALUES $consts),
       |-- MATERIALIZED (referenced twice: counters, top), and the
       |-- polyhash runs once per DISTINCT shingle AFTER the group-by,
       |-- not once per occurrence: the interpreted char-fold costs
       |-- ~3 us/char and the shared-phrase corpus has ~88x more
       |-- occurrences than distinct shingles (2.6M vs 30k at sf1 —
       |-- per-occurrence hashing was the 484 s oracle wall)
       |exact AS MATERIALIZED (
       |  SELECT s, ${polyHashSql("s")} AS h, n
       |  FROM (SELECT s, count(*) AS n FROM sh0 GROUP BY 1)),
       |counters AS (
       |  SELECT c.r, ((c.a * e.h + c.b) % ${P}) % $CmWidth AS cell,
       |         CAST(sum(e.n) AS BIGINT) AS v
       |  FROM exact e CROSS JOIN consts c GROUP BY 1, 2),
       |top AS (SELECT s, h, n FROM (
       |  SELECT *, row_number() OVER (ORDER BY n DESC, s) AS rn FROM exact)
       |  WHERE rn <= $CmTopK)
       |SELECT t.s AS shingle, t.n,
       |       CAST(min(co.v) AS BIGINT) AS est,
       |       CAST(min(co.v) - t.n AS BIGINT) AS over_u
       |FROM top t CROSS JOIN consts c
       |JOIN counters co
       |  ON co.r = c.r AND co.cell = ((c.a * t.h + c.b) % ${P}) % $CmWidth
       |GROUP BY 1, 2""".stripMargin
  }

  // --------------------------------------------- token commonality (q133)

  /** A token is "rare" when it holds under 1% of the corpus token mass
    * (`100·count < total`) — a RELATIVE threshold, so the rule keeps
    * meaning at any corpus size. */
  val RareMult = 100L

  /** Corpus-frequency scoring per document (q133): every token is
    * priced at its corpus-wide occurrence count, and each document
    * reports total/min token commonality plus the rare-token share —
    * the unigram-LM-style quality signal (docs made of corpus-typical
    * tokens score high; docs carrying out-of-distribution tokens show
    * a low `min_freq` and a positive `rare_bp`). All-integer: counts,
    * sums, and a basis-point integer division — bit-identical across
    * engines.
    *
    * Scale shape: one token-keyed count agg (map-side combined; vocab-
    * sized result), one token-keyed join of the exploded corpus back
    * to those counts — Zipf-hot tokens ('the') are exactly the AQE
    * skew-join case, and the count table is vocab-sized so AQE turns
    * the join broadcast when it fits — then one doc_id-keyed re-agg.
    * The 1-row corpus total is an explicit broadcast. Zero-token
    * documents survive via the final left join (guarded division). */
  def tokenCommonality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val toks = docs.select(col("doc_id"), explode(tokensCol(col("text"))).as("t"))
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val total = cnt.agg(sum(col("c")).cast("long").as("total"))
    val per = toks.join(cnt, "t").crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).cast("long").as("sum_freq"),
        min(col("c")).cast("long").as("min_freq"),
        sum(when(col("c") * RareMult < col("total"), 1L).otherwise(0L))
          .as("n_rare"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        coalesce(col("min_freq"), lit(0L)).as("min_freq"),
        when(coalesce(col("n"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr("n_rare * 10000 DIV n")).as("rare_bp"))
  }

  // ------------------------------------- quality quantile routing (q138)

  /** Per-language quality-median routing (q138): each document is kept
    * iff its q17 quality score reaches its OWN language's lower median
    * — the per-stratum quantile filter a curation pipeline applies so
    * a low-resource language is not judged by the dominant language's
    * score distribution. The median is the exact LOWER median (element
    * at rank ⌊(n+1)/2⌋ under (score, doc_id) order) — an integer the
    * engines agree on bit-for-bit, no interpolation.
    *
    * Scale shape: scores are a narrow map (q17); the median needs one
    * rank sort PER LANGUAGE partition (the q76/q114 designed-sort
    * convention — per-shard at 100 TB, or swap in a t-digest sketch
    * when approximate thresholds suffice); the threshold table is
    * languages-sized and broadcasts back onto the scored docs. */
  def qualityQuantileRoute(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"))
    val scored = docs.join(
      qualityScore(spark, dir).select(col("doc_id"), col("quality_bp")),
      "doc_id")
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("quality_bp"), col("doc_id"))
    val wLang = Window.partitionBy(col("lang"))
    val medians = scored
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wLang))
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .select(col("lang"), col("quality_bp").as("lang_median"))
    scored.join(medians, "lang")
      .select(col("doc_id"), col("lang"), col("quality_bp"),
        col("lang_median"),
        when(col("quality_bp") >= col("lang_median"), 1L).otherwise(0L)
          .as("keep"))
  }

  val qualityQuantileRouteSql: String =
    s"""WITH q AS ($qualityScoreSql),
       |scored AS (
       |  SELECT d.doc_id, d.lang, q.quality_bp
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id),
       |ranked AS (
       |  SELECT lang, quality_bp,
       |         row_number() OVER (PARTITION BY lang
       |                            ORDER BY quality_bp, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY lang) AS n
       |  FROM scored),
       |med AS (
       |  SELECT lang, quality_bp AS lang_median
       |  FROM ranked WHERE rn = (n + 1) // 2)
       |SELECT s.doc_id, s.lang, s.quality_bp, m.lang_median,
       |       CAST(CASE WHEN s.quality_bp >= m.lang_median
       |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM scored s JOIN med m ON s.lang = m.lang""".stripMargin

  /** Per-language quantile thresholds at scale (q155) — the upgrade
    * path for q138's documented designed-sort: instead of ranking
    * every document inside its language partition, aggregate to the
    * (lang, score) VALUE HISTOGRAM (map-side-combined, bounded by
    * distinct scores — 10⁴ here, ≤ millions at any corpus size, never
    * corpus-sized), run the tiny cumulative window over the histogram,
    * and read exact discrete quantiles off the cumulative counts:
    * p50 is the same rank-⌊(n+1)/2⌋ lower median q138 computes, p90
    * the ceil-rank 90th percentile. Beside the exact path, a GK
    * sketch (`approx_percentile`, accuracy [[SketchAcc]] — one
    * corpus pass, mergeable, the stream/multi-tenant form) computes
    * the same quantiles and the query CHECKS its rank-error guarantee
    * against the histogram: wb50/wb90 assert the sketch value's true
    * rank interval overlaps target ± n/accuracy (+1 rounding slack).
    * The oracle recomputes the exact quantiles and emits literal 1
    * for the bound flags (the q44/q45 sketch convention) — a sketch
    * outside its guarantee turns the row red. */
  val SketchAcc = 100

  def qualityQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"))
      .join(qualityScore(spark, dir).select(col("doc_id"), col("quality_bp")),
        "doc_id")
      .select(col("lang"), col("quality_bp"))
    val hist = scored.groupBy("lang", "quality_bp")
      .agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy("lang").orderBy("quality_bp")))
    val tot = hist.groupBy("lang").agg(sum(col("cnt")).as("n"))
    val exact = cum.join(tot, "lang").groupBy("lang").agg(
      max(col("n")).as("n"),
      min(when(col("cum") >= expr("(n + 1) div 2"), col("quality_bp"))).as("p50"),
      min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("quality_bp"))).as("p90"))
    val sk = scored.groupBy("lang").agg(
      percentile_approx(col("quality_bp"),
        array(lit(0.5), lit(0.9)), lit(SketchAcc)).as("ap"))
    def bound(v: String, r: String): org.apache.spark.sql.Column = {
      // true rank interval of the sketch's value vs target ± n/acc
      val hi = col(s"cum_$v") * SketchAcc >= expr(s"$r * $SketchAcc - n - $SketchAcc")
      val lo = (col(s"cum_$v") - col(s"cnt_$v") + 1) * SketchAcc <=
        expr(s"$r * $SketchAcc + n + $SketchAcc")
      when(hi && lo, 1L).otherwise(0L)
    }
    exact.join(sk, "lang")
      .withColumn("a50", element_at(col("ap"), 1))
      .withColumn("a90", element_at(col("ap"), 2))
      .join(cum.select(col("lang"), col("quality_bp").as("a50"),
        col("cnt").as("cnt_a50"), col("cum").as("cum_a50")), Seq("lang", "a50"))
      .join(cum.select(col("lang"), col("quality_bp").as("a90"),
        col("cnt").as("cnt_a90"), col("cum").as("cum_a90")), Seq("lang", "a90"))
      .select(col("lang"), col("n"),
        col("p50").cast("long").as("p50"), col("p90").cast("long").as("p90"),
        bound("a50", "(n + 1) div 2").as("wb50"),
        bound("a90", "(9 * n + 9) div 10").as("wb90"))
  }

  val qualityQuantileSketchSql: String =
    s"""WITH q AS ($qualityScoreSql),
       |scored AS (
       |  SELECT d.lang, q.quality_bp
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id),
       |hist AS (SELECT lang, quality_bp, count(*) AS cnt FROM scored GROUP BY 1, 2),
       |cum AS (
       |  SELECT lang, quality_bp, cnt,
       |         sum(cnt) OVER (PARTITION BY lang ORDER BY quality_bp) AS cum
       |  FROM hist),
       |tot AS (SELECT lang, sum(cnt) AS n FROM hist GROUP BY 1)
       |SELECT c.lang, CAST(max(t.n) AS BIGINT) AS n,
       |       CAST(min(CASE WHEN c.cum >= (t.n + 1) // 2
       |                     THEN c.quality_bp END) AS BIGINT) AS p50,
       |       CAST(min(CASE WHEN c.cum >= (9 * t.n + 9) // 10
       |                     THEN c.quality_bp END) AS BIGINT) AS p90,
       |       CAST(1 AS BIGINT) AS wb50, CAST(1 AS BIGINT) AS wb90
       |FROM cum c JOIN tot t ON c.lang = t.lang
       |GROUP BY 1""".stripMargin

  /** Robust per-group outlier audit (q161) — the numeric data-quality
    * gate beside the reference's fixed range predicates (D8): flag
    * documents whose length sits more than 3 robust deviations from
    * their OWN language's center, using median/MAD instead of
    * mean/stddev so the outliers being hunted cannot drag the
    * threshold toward themselves (breakdown point 50% vs 0%). All
    * integer — lower median over the value HISTOGRAM (the q155 scale
    * shape: shuffle bounded by distinct values), MAD re-derived from
    * the SAME histogram (deviation re-keying is histogram-sized, the
    * corpus is touched once), cut at |x − med| > 3·MAD. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.spread(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wl = Window.partitionBy("lang").orderBy("v")
    val tot = hist.groupBy("lang").agg(sum(col("cnt")).as("n"))
    val med = hist.withColumn("cum", sum(col("cnt")).over(wl))
      .join(tot, "lang").groupBy("lang")
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("med"))
    val dev = hist.join(med, "lang")
      .groupBy(col("lang"), abs(col("v") - col("med")).as("d"))
      .agg(sum(col("cnt")).as("cnt"))
    val wd = Window.partitionBy("lang").orderBy("d")
    val mad = dev.withColumn("cum", sum(col("cnt")).over(wd))
      .join(tot, "lang").groupBy("lang")
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("d"))).as("mad"))
    hist.join(med, "lang").join(mad, "lang").join(tot, "lang")
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n"), max(col("med")).cast("long").as("med"),
        max(col("mad")).cast("long").as("mad"),
        sum(when(abs(col("v") - col("med")) > col("mad") * 3, col("cnt"))
          .otherwise(0L)).as("n_out"))
      .withColumn("out_bp", expr("(10000 * n_out) div n"))
  }

  val madOutliersSql: String =
    """WITH hist AS (
      |  SELECT lang, n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(cnt) AS n FROM hist GROUP BY 1),
      |med AS (
      |  SELECT h.lang, min(CASE WHEN h.cum >= (t.n + 1) // 2 THEN h.v END) AS med
      |  FROM (SELECT lang, v, cnt,
      |               sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum
      |        FROM hist) h JOIN tot t ON h.lang = t.lang
      |  GROUP BY 1),
      |dev AS (
      |  SELECT h.lang, abs(h.v - m.med) AS d, sum(h.cnt) AS cnt
      |  FROM hist h JOIN med m ON h.lang = m.lang GROUP BY 1, 2),
      |mad AS (
      |  SELECT d2.lang, min(CASE WHEN d2.cum >= (t.n + 1) // 2 THEN d2.d END) AS mad
      |  FROM (SELECT lang, d, cnt,
      |               sum(cnt) OVER (PARTITION BY lang ORDER BY d) AS cum
      |        FROM dev) d2 JOIN tot t ON d2.lang = t.lang
      |  GROUP BY 1)
      |SELECT h.lang, CAST(max(t.n) AS BIGINT) AS n,
      |       CAST(max(m.med) AS BIGINT) AS med,
      |       CAST(max(x.mad) AS BIGINT) AS mad,
      |       CAST(sum(CASE WHEN abs(h.v - m.med) > x.mad * 3
      |                     THEN h.cnt ELSE 0 END) AS BIGINT) AS n_out,
      |       CAST((10000 * sum(CASE WHEN abs(h.v - m.med) > x.mad * 3
      |                              THEN h.cnt ELSE 0 END)) // max(t.n) AS BIGINT) AS out_bp
      |FROM hist h JOIN med m ON h.lang = m.lang
      |JOIN mad x ON h.lang = x.lang JOIN tot t ON h.lang = t.lang
      |GROUP BY 1""".stripMargin

  // ------------------------------------------ q232 trimmed/winsorized mean

  /** Tail mass trimmed per side, in basis points (10%). */
  val TrimBp = 1000L

  /** Robust location estimates per language from the SAME value
    * histogram as q161's median/MAD: the 10%-trimmed mean (drop the k
    * lowest- and k highest-ranked observations, k = ⌊n·0.10⌋) and the
    * winsorized mean (clamp them to the cut values instead — Tukey's
    * alternative that keeps n constant), beside the plain mean they
    * robustify. Trimming is rank-exact on the histogram: a value's
    * retained multiplicity is the overlap of its cumulative rank span
    * [cum−cnt, cum) with the kept span [k, n−k) — one running sum per
    * lang, no per-row sort, so the corpus collapses to (lang, value)
    * cells before anything ranks (q155's scale argument).
    *
    * All-integer: means carried ×100 via floor division; sums bound by
    * n·max_chars·100 ≲ 10¹⁸ at a trillion 10k-char docs — inside
    * int64, the q172 canonical-stat convention. */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame =
    trimmedMeanOf(Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"), col("n_chars")))

  /** The rank-exact core on explicit (lang, n_chars) rows — exposed for
    * planted-histogram specs. */
  def trimmedMeanOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs
      .groupBy(col("lang"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val tot = hist.groupBy("lang")
      .agg(sum(col("cnt")).as("n"), sum(col("v") * col("cnt")).as("sv"))
    val wl = Window.partitionBy("lang").orderBy("v")
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wl))
      .join(tot, "lang")
      .withColumn("k", expr(s"(n * $TrimBp) div 10000"))
    cum.groupBy(col("lang"))
      .agg(
        max(col("n")).as("n"), max(col("k")).as("k"),
        expr("max(sv) * 100 div max(n)").as("mean_x100"),
        sum(greatest(lit(0L),
          least(col("cum"), col("n") - col("k"))
            - greatest(col("cum") - col("cnt"), col("k"))) * col("v"))
          .as("trim_sum"),
        min(when(col("cum") >= col("k") + 1, col("v"))).as("lo_cut"),
        min(when(col("cum") >= col("n") - col("k"), col("v"))).as("hi_cut"))
      .select(col("lang"), col("n"), col("k"), col("mean_x100"),
        expr("trim_sum * 100 div (n - 2 * k)").as("trimmed_mean_x100"),
        col("lo_cut"), col("hi_cut"),
        expr("(trim_sum + k * lo_cut + k * hi_cut) * 100 div n")
          .as("wins_mean_x100"))
  }

  val trimmedMeanSql: String =
    s"""WITH hist AS (
       |  SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n,
       |               CAST(sum(v * cnt) AS BIGINT) AS sv FROM hist GROUP BY 1),
       |c AS (
       |  SELECT h.lang, h.v, h.cnt, t.n, t.sv, (t.n * $TrimBp) // 10000 AS k,
       |         CAST(sum(h.cnt) OVER (PARTITION BY h.lang ORDER BY h.v)
       |              AS BIGINT) AS cum
       |  FROM hist h JOIN tot t ON h.lang = t.lang),
       |a AS (
       |  SELECT lang, max(n) AS n, max(k) AS k,
       |         max(sv) * 100 // max(n) AS mean_x100,
       |         CAST(sum(greatest(CAST(0 AS BIGINT),
       |                 least(cum, n - k) - greatest(cum - cnt, k)) * v)
       |              AS BIGINT) AS trim_sum,
       |         min(CASE WHEN cum >= k + 1 THEN v END) AS lo_cut,
       |         min(CASE WHEN cum >= n - k THEN v END) AS hi_cut
       |  FROM c GROUP BY 1)
       |SELECT lang, n, k, CAST(mean_x100 AS BIGINT) AS mean_x100,
       |       CAST(trim_sum * 100 // (n - 2 * k) AS BIGINT) AS trimmed_mean_x100,
       |       lo_cut, hi_cut,
       |       CAST((trim_sum + k * lo_cut + k * hi_cut) * 100 // n
       |            AS BIGINT) AS wins_mean_x100
       |FROM a""".stripMargin

  // ---------------------------------------------- q233 mixture diversity

  /** Concentration/diversity audit of the training mixture along its
    * three stratification axes (source; lang; source×lang): Simpson's
    * index / Herfindahl-Hirschman concentration Σp² — exact in ppm as
    * (Σ cnt²)·10⁶ div n², no per-stratum float share ever exists — the
    * effective number of strata 1/Σp² (×100), and the largest single
    * stratum's share. The log-free twin of Shannon diversity, on the
    * same design argument as q197's TV-vs-KL choice: bounded, exact,
    * and the statistic mixture monitors threshold anyway.
    *
    * Scale shape: ONE corpus-wide (source, lang) count aggregate; the
    * three axis rollups operate on that stratum table (catalog-sized).
    * Σcnt²·10⁶ reaches n²·10⁶ — widened through DECIMAL(38,0)/HUGEINT
    * (exact past any corpus int64 would allow). */
  def mixtureDiversity(spark: SparkSession, dir: String): DataFrame =
    mixtureDiversityOf(Tables.spread(Tables.documents(spark, dir))
      .select(col("source"), col("lang")))

  /** q247: the diversity audit as a LIVE ingest gate on the q203/q231
    * principle — the streaming aggregate's state is the (source, lang)
    * stratum count table (catalog-bounded forever), and the post-drain
    * axis rollups must hash-equal the q233 batch oracle, pinning the
    * streamed accumulation and the HHI arithmetic together. Reads the
    * documents table through the file-source stream. */
  def mixtureDiversityStream(spark: SparkSession, dir: String): DataFrame = {
    val cur = graft.streaming.EventsStream
      .docsSource(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val drained = graft.streaming.EventsStream.runAvailableNow(
      spark, cur, "q247_stream_diversity", outputMode = "complete")
    mixtureDiversityOfCounts(drained)
  }

  /** The axis rollups on explicit (source, lang) rows — exposed for
    * hand-computed fixture specs. */
  def mixtureDiversityOf(docs: DataFrame): DataFrame =
    mixtureDiversityOfCounts(docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt")))

  /** The same rollups on pre-aggregated (source, lang, cnt) strata —
    * the streaming twin drains exactly this shape. */
  def mixtureDiversityOfCounts(strata0: DataFrame): DataFrame = {
    val strata = strata0
      .transform(Barrier.eager(_))
    def axis(name: String, keyed: DataFrame): DataFrame =
      keyed.agg(
          count(lit(1)).as("n_strata"),
          sum(col("cnt")).as("n_docs"),
          sum(expr("cast(cnt as decimal(38,0)) * cnt")).as("ss"),
          max(col("cnt")).as("max_cnt"))
        .select(lit(name).as("axis"), col("n_strata"), col("n_docs"),
          expr("cast(ss * 1000000 div (cast(n_docs as decimal(38,0)) * n_docs) as bigint)")
            .as("hhi_ppm"),
          expr("cast(cast(n_docs as decimal(38,0)) * n_docs * 100 div ss as bigint)")
            .as("eff_x100"),
          expr("max_cnt * 1000000 div n_docs").as("max_share_ppm"))
    axis("source", strata.groupBy(col("source")).agg(sum(col("cnt")).as("cnt")))
      .unionAll(axis("lang", strata.groupBy(col("lang")).agg(sum(col("cnt")).as("cnt"))))
      .unionAll(axis("source_lang", strata))
  }

  val mixtureDiversitySql: String = {
    def axis(name: String, src: String): String =
      s"""SELECT '$name' AS axis, CAST(count(*) AS BIGINT) AS n_strata,
         |       CAST(sum(cnt) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(cnt AS HUGEINT) * cnt) * 1000000
         |            // (CAST(sum(cnt) AS HUGEINT) * sum(cnt)) AS BIGINT) AS hhi_ppm,
         |       CAST(CAST(sum(cnt) AS HUGEINT) * sum(cnt) * 100
         |            // sum(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS eff_x100,
         |       CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS max_share_ppm
         |FROM $src""".stripMargin
    s"""WITH strata AS (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |bysrc AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS cnt FROM strata GROUP BY 1),
       |bylang AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS cnt FROM strata GROUP BY 1)
       |${axis("source", "bysrc")}
       |UNION ALL
       |${axis("lang", "bylang")}
       |UNION ALL
       |${axis("source_lang", "strata")}""".stripMargin
  }

  val tokenCommonalitySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS t FROM documents),
       |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY 1),
       |tot AS (SELECT sum(c) AS total FROM cnt),
       |per AS (
       |  SELECT doc_id, count(*) AS n,
       |         CAST(sum(c) AS BIGINT) AS sum_freq,
       |         CAST(min(c) AS BIGINT) AS min_freq,
       |         CAST(sum(CASE WHEN c * $RareMult < total THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |  FROM toks JOIN cnt USING (t) CROSS JOIN tot
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens,
       |       coalesce(p.sum_freq, 0) AS sum_freq,
       |       coalesce(p.min_freq, 0) AS min_freq,
       |       CAST(CASE WHEN coalesce(p.n, 0) = 0 THEN 0
       |                 ELSE p.n_rare * 10000 // p.n END AS BIGINT) AS rare_bp
       |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin

  // ----------------------------------------- HTML extraction (q143)

  /** The wrapper template, split at its dynamic holes. ONE set of
    * constants generates both the Spark `concat` and the oracle's SQL
    * `||` chain, so the two engines build byte-identical pages (the
    * q143 `html_chars` column certifies that). The page is a realistic
    * boilerplate gauntlet: a <head> with title/style/script (the style
    * holds a `>` combinator, the script holds `<`, `&&`, and a literal
    * `"</p>"` string), comments carrying metadata, an inline-tagged
    * lead word, a second <style> in body position, an `&nbsp;` entity
    * in content position, and two <p> blocks splitting the document at
    * a space boundary. No single quotes — the strings embed directly
    * in SQL literals. */
  private val Hw1 = "<html><head><title>Doc "
  private val Hw2 = " | "
  private val Hw3 = "</title><style type=\"text/css\">body { margin: 0; } p > em { color: #001; }</style>" +
    "<script type=\"text/javascript\">if (1 < 2 && 3 > 2) { track(\"</p>\"); }</script></head><body><!-- lang="
  private val Hw4 = " chars="
  private val Hw5 = " --><h1 class=\"x\">&nbsp;</h1><p id=\"p1\"><b>"
  private val Hw6 = "</b> "
  private val Hw7 = "</p>&nbsp;<style>div > p { margin: 1px }</style><div data-x=\"1\"><p>"
  private val Hw8 = "</p></div><script src=\"t.js\"></script><!-- end --></body></html>"

  /** Extraction pipeline patterns (Spark side only — the oracle never
    * extracts; that is the point of q143's closed-form check). Order:
    * head (title and head-resident style/script are boilerplate, the
    * C4/WET convention), then body script/style blocks (lazy up to
    * their close tag, so a `"</p>"` inside script code cannot leak),
    * comments, then remaining tags, each replaced by a space so tag
    * boundaries never glue words together. */
  private val HeadPat    = "(?is)<head\\b[^>]*>.*?</head\\s*>"
  private val ScriptPat  = "(?is)<script\\b[^>]*>.*?</script\\s*>"
  private val StylePat   = "(?is)<style\\b[^>]*>.*?</style\\s*>"
  private val CommentPat = "(?s)<!--.*?-->"
  private val TagPat     = "<[^>]*>"

  /** Entity decode map, applied in order: named/numeric entities first,
    * `&amp;` LAST — the single-pass convention, so `&amp;lt;` decodes
    * to the literal text `&lt;` (exactly inverting [[escHtml]], which
    * encodes `&` FIRST — the pair round-trips arbitrary text). */
  private val Entities = Seq("&nbsp;" -> " ", "&quot;" -> "\"",
    "&#39;" -> "'", "&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&")

  /** HTML-escape text for element content (`&` first, then angles). */
  def escHtml(c: Column): Column =
    Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
      .foldLeft(c) { case (x, (s, r)) => replace(x, lit(s), lit(r)) }

  private def escHtmlSql(e: String): String =
    s"replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"

  /** Boilerplate extraction — the C4/WET first stage: drop <head>,
    * drop script/style/comment blocks, strip remaining tags (each to a
    * space), decode entities, collapse whitespace. Pure codegen'd
    * string functions (`regexp_replace`/`replace`), one narrow map —
    * embarrassingly parallel at 100 TB like the rest of this file. */
  def htmlExtract(html: Column): Column = {
    val stripped = Seq(HeadPat, ScriptPat, StylePat, CommentPat, TagPat)
      .foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val decoded = Entities.foldLeft(stripped) {
      case (c, (e, r)) => replace(c, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** First whitespace-delimited word of raw `text` ('' never occurs in
    * this corpus; a spaceless doc is its own first word). */
  private def firstWord(text: Column): Column = {
    val sp = instr(text, " ")
    when(sp > 0, text.substr(lit(1), greatest(sp - 1, lit(0))))
      .otherwise(text)
  }

  /** Deterministic HTML page for a document — the synthetic "web
    * corpus" q143 extracts back out of. The document text is HTML-
    * escaped and split at a space boundary into a <b>-led first
    * paragraph and a <div>-nested second one. */
  def htmlWrap(docId: Column, source: Column, lang: Column,
      text: Column): Column = {
    val sp   = instr(text, " ")
    val w1   = firstWord(text)
    val rest = when(sp > 0, text.substr(sp + 1, length(text)))
      .otherwise(lit(""))
    val h  = floor(length(rest) / 2).cast("int")
    val k  = instr(rest.substr(h + 1, length(rest)), " ")
    val pa = when(k > 0, rest.substr(lit(1), greatest(h + k - 1, lit(0))))
      .otherwise(rest)
    val pb = when(k > 0, rest.substr(h + k + 1, length(rest)))
      .otherwise(lit(""))
    concat(lit(Hw1), docId.cast("string"), lit(Hw2), source, lit(Hw3),
      lang, lit(Hw4), length(text).cast("string"), lit(Hw5), escHtml(w1),
      lit(Hw6), escHtml(pa), lit(Hw7), escHtml(pb), lit(Hw8))
  }

  /** Entity-probe template: wraps the doc's first word in every entity
    * the decoder knows, in content position — decodes to
    * `<tag> & "w1's"`. */
  private val Ep1 = "<p>&lt;tag&gt; &amp; &quot;"
  private val Ep2 = "&#39;s&quot;</p>"

  /** HTML/boilerplate extraction gate (q143): every document is
    * deterministically wrapped as a full HTML page ([[htmlWrap]]) and
    * extracted back ([[htmlExtract]]); the oracle NEVER extracts — it
    * asserts the round trip lands exactly on the (already whitespace-
    * normal) source text, re-derives the word/char stats from that
    * text, re-derives `ent_fp` from the closed-form decode of the
    * entity probe, and rebuilds the page with SQL `||` to pin
    * `html_chars`. A green hash therefore certifies: head/script/
    * style/comment/tag stripping leaves exactly the content, the
    * entity decoder inverts the escape, and both engines agree on the
    * page bytes. Composition proof (spec): extracted == text, so every
    * downstream operator (q113 rules, tokenize, dedup) is invariant
    * under the wrap→extract cycle.
    *
    * Scale shape: one narrow codegen'd map over the scan — no shuffle,
    * no UDF; the regex chain is per-row bounded by page length. */
  def htmlExtractStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    docs.select(col("doc_id"),
        htmlWrap(col("doc_id"), col("source"), col("lang"), col("text"))
          .as("html"),
        firstWord(col("text")).as("w1"))
      .select(col("doc_id"),
        htmlExtract(col("html")).as("extracted"),
        length(htmlExtract(col("html"))).cast("long").as("n_chars"),
        size(split(htmlExtract(col("html")), " ")).cast("long")
          .as("n_words"),
        polyHashCol(htmlExtract(concat(lit(Ep1), escHtml(col("w1")),
          lit(Ep2)))).as("ent_fp"),
        length(col("html")).cast("long").as("html_chars"))
  }

  val htmlExtractStatsSql: String = {
    val norm = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
    val probe = "'<tag> & \"' || w1 || '''s\"'"
    s"""WITH w AS (
       |  SELECT doc_id, source, lang, text, length(text) AS n,
       |         instr(text, ' ') AS sp
       |  FROM documents),
       |p0 AS (
       |  SELECT *,
       |         CASE WHEN sp > 0 THEN substr(text, 1, greatest(sp - 1, 0))
       |              ELSE text END AS w1,
       |         CASE WHEN sp > 0 THEN substr(text, sp + 1, n)
       |              ELSE '' END AS rest
       |  FROM w),
       |p1 AS (SELECT *, CAST(floor(length(rest) / 2) AS INT) AS h FROM p0),
       |p2 AS (SELECT *, instr(substr(rest, h + 1, length(rest)), ' ') AS k
       |       FROM p1),
       |parts AS (
       |  SELECT doc_id, source, lang, text, n, w1,
       |         CASE WHEN k > 0 THEN substr(rest, 1, greatest(h + k - 1, 0))
       |              ELSE rest END AS pa,
       |         CASE WHEN k > 0 THEN substr(rest, h + k + 1, length(rest))
       |              ELSE '' END AS pb
       |  FROM p2),
       |pages AS (
       |  SELECT doc_id, text, w1,
       |         '$Hw1' || CAST(doc_id AS VARCHAR) || '$Hw2' || source
       |         || '$Hw3' || lang || '$Hw4' || CAST(n AS VARCHAR) || '$Hw5'
       |         || ${escHtmlSql("w1")} || '$Hw6' || ${escHtmlSql("pa")}
       |         || '$Hw7' || ${escHtmlSql("pb")} || '$Hw8' AS html
       |  FROM parts)
       |SELECT doc_id, $norm AS extracted,
       |       CAST(length($norm) AS BIGINT) AS n_chars,
       |       CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_words,
       |       ${polyHashSql(probe)} AS ent_fp,
       |       CAST(length(html) AS BIGINT) AS html_chars
       |FROM pages""".stripMargin
  }

  // ------------------------------------------------- q248 Good-Turing mass

  /** Good-Turing unseen-mass estimation per language (Good 1953): the
    * probability mass an LM should reserve for tokens it has never
    * seen, P₀ = f₁/N (singleton count over token count), plus the
    * frequency-of-frequencies head (f₁, f₂), vocabulary size, and the
    * GT-discounted singleton mass f₂·2/N — the coverage statistic that
    * says whether a corpus slice is large enough that its vocabulary
    * has stopped growing (high unseen mass = the mixture needs more of
    * that language before per-token statistics can be trusted).
    * All-integer ppm, the usual discipline.
    *
    * Scale shape: ONE (lang, token) count aggregate (the Zipf shape —
    * map-side combine collapses the corpus before the shuffle), then a
    * count-of-counts rollup on vocabulary-sized rows. */
  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExprs.tokensCol
    val cnt = Tables.spread(Tables.documents(spark, dir))
      .select(col("lang"), explode(tokensCol(lower(col("text")))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        expr("f1 * 1000000 div n_tokens").as("unseen_ppm"),
        expr("f2 * 2 * 1000000 div n_tokens").as("gt_singleton_ppm"))
  }

  val goodTuringSql: String = {
    val toks = graft.functions.TextExprs.tokensSql("lower(text)")
    s"""WITH cnt AS (
       |  SELECT lang, unnest($toks) AS tok FROM documents),
       |c0 AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
       |       FROM cnt GROUP BY 1, 2)
       |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS vocab,
       |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
       |            // sum(c) AS BIGINT) AS unseen_ppm,
       |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) * 2 * 1000000
       |            // sum(c) AS BIGINT) AS gt_singleton_ppm
       |FROM c0 GROUP BY 1""".stripMargin
  }

  // --------------------------------------------- q242 span-corruption plan

  /** Masking block width: one span is planted per full block. */
  val SpanBlockW = 20L
  /** Masked-span width in tokens. */
  val SpanW = 3L

  /** T5-style span-corruption mask plan (Raffel et al. 2020): a
    * deterministic schedule of masked spans per document for a
    * denoising objective — ~15% of tokens masked in [[SpanW]]-token
    * spans, NON-OVERLAPPING BY CONSTRUCTION: each full
    * [[SpanBlockW]]-token block plants exactly one span at a
    * keyed-hash offset (the q114/q202 no-RNG discipline — reproducible
    * run-over-run and across engines, no `rand()` anywhere). Emits the
    * per-doc plan ledger: span count, masked tokens, masked share,
    * and the position-sum fingerprint a downstream consumer can
    * re-derive to verify it applied the same plan.
    *
    * Scale shape: a narrow map + a per-doc explode bounded by
    * n_tokens/[[SpanBlockW]] — no shuffle beyond the doc-keyed
    * re-aggregate of span positions. */
  def spanMaskPlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExprs.{polyHashCol, tokensCol}
    val off = SpanBlockW - SpanW + 1
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), size(tokensCol(col("text"))).cast("long").as("n_tokens"))
      .withColumn("blocks", expr(s"n_tokens div $SpanBlockW"))
      .transform(Barrier.eager(_))
    val spans = docs.filter(col("blocks") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("blocks") - 1)).as("b"))
      .withColumn("start",
        col("b") * SpanBlockW
          + polyHashCol(concat_ws(":", col("doc_id"), col("b"))) % off)
      .groupBy(col("doc_id"))
      .agg(sum(col("start")).as("pos_sum"))
    docs.join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        col("blocks").as("n_spans"),
        (col("blocks") * SpanW).as("n_masked"),
        expr(s"(blocks * $SpanW * 10000) div greatest(n_tokens, 1)").as("masked_bp"),
        coalesce(col("pos_sum"), lit(0L)).as("pos_sum"))
  }

  val spanMaskPlanSql: String = {
    import graft.functions.TextExprs.{polyHashSql, tokensSql}
    val off = SpanBlockW - SpanW + 1
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) // $SpanBlockW AS blocks
       |  FROM documents),
       |sp AS (
       |  SELECT d.doc_id,
       |         CAST(sum(b.b * $SpanBlockW
       |           + ${polyHashSql(s"concat(CAST(d.doc_id AS VARCHAR), ':', CAST(b.b AS VARCHAR))")} % $off)
       |           AS BIGINT) AS pos_sum
       |  FROM d, unnest(range(0, d.blocks)) b(b)
       |  GROUP BY 1)
       |SELECT d.doc_id, d.n_tokens, d.blocks AS n_spans,
       |       d.blocks * $SpanW AS n_masked,
       |       (d.blocks * $SpanW * 10000) // greatest(d.n_tokens, 1) AS masked_bp,
       |       coalesce(sp.pos_sum, 0) AS pos_sum
       |FROM d LEFT JOIN sp ON sp.doc_id = d.doc_id""".stripMargin
  }

  // --------------------------------------------- q243 two-sample KS audit

  /** Exact two-sample Kolmogorov-Smirnov statistic per source — the
    * source's quality-score distribution against the REST of the
    * corpus: D = sup_v |F_s(v) − F_rest(v)|, cleared of denominators as
    * max |cum_s·n_rest − cum_rest·n_s| over the shared value grid, so
    * the statistic is exact integer arithmetic end-to-end (the
    * distribution-shape screen that needs no band width, complementing
    * q197/q237's TV over fixed bands; same log-free rationale). Emits
    * D in ppm plus the value where the gap peaks (tie → smallest) —
    * where the distributions actually diverge.
    *
    * Scale shape: the corpus collapses to a (source, score) histogram
    * in ONE aggregate; the evaluation grid is sources × distinct
    * scores (score is bounded bp — ≤ 10001 values), windows run per
    * source partition; cum·n products widen DECIMAL(38,0)/HUGEINT. */
  def ksAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScore(spark, dir).select(col("doc_id"), col("quality_bp"))
    val hist = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source")).join(q, "doc_id")
      .groupBy(col("source"), col("quality_bp").as("v"))
      .agg(count(lit(1)).as("cnt"))
    ksOfHist(hist)
  }

  /** The KS evaluation on an explicit (source, v, cnt) histogram —
    * exposed for hand-computed fixture specs. */
  def ksOfHist(hist0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = hist0
      .transform(Barrier.eager(_))
    val vals = hist.select(col("v")).distinct()
    val srcs = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
    val nTot = hist.agg(sum(col("cnt")).as("nn"))
    val allv = hist.groupBy(col("v")).agg(sum(col("cnt")).as("cnt_all"))
    val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cumAll = allv.withColumn("cum_all", sum(col("cnt_all")).over(wv))
      .select(col("v"), col("cum_all"))
    val ws = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val grid = vals.crossJoin(broadcast(srcs))
      .join(hist, Seq("source", "v"), "left_outer")
      .withColumn("cum_s", coalesce(sum(col("cnt")).over(ws), lit(0L)))
      .join(broadcast(cumAll), "v")
      .crossJoin(broadcast(nTot))
      .withColumn("diff", expr(
        """abs(cast(cum_s as decimal(38,0)) * (nn - n_s)
          |  - cast(cum_all - cum_s as decimal(38,0)) * n_s)""".stripMargin))
    val mx = grid.groupBy(col("source"))
      .agg(max(col("diff")).as("mxd"), max(col("n_s")).as("n_s"), max(col("nn")).as("nn"))
    grid.select(col("source"), col("v"), col("diff"))
      .join(mx, "source")
      .filter(col("diff") === col("mxd"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"),
        max(col("nn") - col("n_s")).as("n_rest"),
        // a source holding ALL rows has an empty "rest" sample — the KS
        // statistic is undefined (denominator n_s·n_rest = 0) and the
        // sup CDF gap is identically 0, so 0 ppm is the defined answer;
        // without the guard Spark's div NULLs while DuckDB's // throws
        expr("""cast(CASE WHEN max(nn - n_s) = 0 THEN 0
               |     ELSE max(mxd) * 1000000
               |          div (cast(max(n_s) as decimal(38,0)) * max(nn - n_s))
               |END as bigint)""".stripMargin)
          .as("ks_ppm"),
        min(col("v")).as("v_at_max"))
  }

  val ksAuditSql: String =
    s"""WITH q AS ($qualityScoreSql),
       |hist AS (
       |  SELECT d.source, q.quality_bp AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id
       |  GROUP BY 1, 2),
       |vals AS (SELECT DISTINCT v FROM hist),
       |srcs AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM hist GROUP BY 1),
       |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM hist),
       |cumall AS (
       |  SELECT v, CAST(sum(sum(cnt)) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
       |  FROM hist GROUP BY v),
       |grid AS (
       |  SELECT s.source, va.v, s.n_s,
       |         CAST(coalesce(sum(h.cnt) OVER (PARTITION BY s.source ORDER BY va.v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS cum_s
       |  FROM vals va CROSS JOIN srcs s
       |  LEFT JOIN hist h ON h.source = s.source AND h.v = va.v),
       |dd AS (
       |  SELECT g.source, g.v, g.n_s, nt.nn,
       |         abs(CAST(g.cum_s AS HUGEINT) * (nt.nn - g.n_s)
       |           - CAST(ca.cum_all - g.cum_s AS HUGEINT) * g.n_s) AS diff
       |  FROM grid g JOIN cumall ca ON ca.v = g.v CROSS JOIN nt),
       |mx AS (SELECT source, max(diff) AS mxd FROM dd GROUP BY 1)
       |SELECT dd.source, max(dd.n_s) AS n_s,
       |       CAST(max(dd.nn - dd.n_s) AS BIGINT) AS n_rest,
       |       CAST(CASE WHEN max(dd.nn - dd.n_s) = 0 THEN 0
       |            ELSE max(mx.mxd) * 1000000
       |            // (CAST(max(dd.n_s) AS HUGEINT) * max(dd.nn - dd.n_s)) END AS BIGINT)
       |         AS ks_ppm,
       |       min(dd.v) AS v_at_max
       |FROM dd JOIN mx ON mx.source = dd.source AND dd.diff = mx.mxd
       |GROUP BY 1""".stripMargin

  // --------------------------------------------- q230 classifier evaluation

  /** Full multiclass evaluation of the q16 heuristic lang-id against
    * the gold labels: per-class precision/recall/F1 from the confusion
    * matrix, plus global accuracy, macro-F1, and Cohen's kappa — the
    * chance-corrected agreement statistic label-quality audits report
    * (Cohen 1960). Completes the eval ledger family: q193 (AUC) and
    * q222 (calibration) grade the binary quality classifier; this
    * grades the multiclass labeler.
    *
    * All-integer: F1 uses the harmonic identity 2·tp/(2·tp+fp+fn) so
    * no intermediate precision/recall float exists; kappa clears
    * denominators — κ·10⁶ = (N·Σtp − Σ_c row_c·col_c)·10⁶ floor-div
    * (N² − Σ_c row_c·col_c). The numerator can be negative (worse than
    * chance), so floor division is spelled with the explicit
    * nonneg-operand CASE that truncating `div` and flooring `//`
    * evaluate identically.
    *
    * Macro-F1 convention: the average runs over the UNION of gold and
    * predicted classes (the margins full-outer join), so a label that
    * only ever appears as a prediction contributes F1 = 0 and pulls
    * macro-F1 down. That is deliberate — hallucinated labels are a
    * labeler defect this audit should surface, where the
    * gold-classes-only convention (scikit-learn's default) would hide
    * them. On this corpus every class has gold support, so the two
    * conventions coincide; both engines spell the union form.
    *
    * Scale shape: ONE corpus-wide (lang, predicted) count aggregate
    * (q16's plan); everything after operates on the class-squared cell
    * table (≤ ~36 rows) — margins, diagonal, and the three global
    * scalars are broadcast-sized by construction. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame =
    // the confusion table is referenced by five derivations (margins,
    // diagonal, agreement, macro fold, per-class rows) — truncate its
    // lineage so the ONE corpus-wide aggregate runs once, not per
    // reference (class²-sized: a bounded model artifact)
    evalOfConfusion(Barrier.eager(langId(spark, dir)))

  /** The metric derivation on an explicit (lang, predicted, n)
    * confusion table — exposed for hand-computed fixture specs
    * (including the worse-than-chance negative-kappa branch). */
  def evalOfConfusion(cm: DataFrame): DataFrame = {
    val rowm = cm.groupBy(col("lang").as("cls")).agg(sum(col("n")).as("row_n"))
    val colm = cm.groupBy(col("predicted").as("cls")).agg(sum(col("n")).as("col_n"))
    val margins = rowm.join(colm, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("row_n"), lit(0L)).as("row_n"),
        coalesce(col("col_n"), lit(0L)).as("col_n"))
    val diag = cm.filter(col("lang") === col("predicted"))
      .select(col("lang").as("cls"), col("n").as("tp"))
    val perClass = margins.join(diag, Seq("cls"), "left_outer")
      .select(col("cls"), col("row_n"), col("col_n"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("tp"),
        (col("col_n") - col("tp")).as("fp"),
        (col("row_n") - col("tp")).as("fn"),
        col("row_n").as("support"), col("row_n"), col("col_n"))
      .withColumn("precision_ppm",
        when(col("col_n") === 0, lit(0L))
          .otherwise(expr("tp * 1000000 div col_n")))
      .withColumn("recall_ppm",
        when(col("row_n") === 0, lit(0L))
          .otherwise(expr("tp * 1000000 div row_n")))
      .withColumn("f1_ppm",
        when(col("row_n") + col("col_n") === 0, lit(0L))
          .otherwise(expr("2 * tp * 1000000 div (row_n + col_n)")))
      .drop("row_n", "col_n")
    val glob = margins.agg(
        sum(col("row_n")).as("n_total"),
        sum(col("row_n") * col("col_n")).as("chance"))
      .crossJoin(cm.filter(col("lang") === col("predicted"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_agree")))
      .crossJoin(perClass.agg(sum(col("f1_ppm")).as("f1_sum"),
        count(lit(1)).as("n_cls")))
      .select(
        expr("n_agree * 1000000 div n_total").as("accuracy_ppm"),
        expr("f1_sum div n_cls").as("macro_f1_ppm"),
        // N² and N²·10⁶ overflow int64 past ~3M docs — widen the kappa
        // numerator/denominator through DECIMAL(38,0) (oracle: HUGEINT)
        expr("""cast(n_total as decimal(38,0)) * n_agree
               |  - cast(chance as decimal(38,0))""".stripMargin).as("knum"),
        expr("""cast(n_total as decimal(38,0)) * n_total
               |  - cast(chance as decimal(38,0))""".stripMargin).as("kden"))
      .select(col("accuracy_ppm"), col("macro_f1_ppm"),
        when(col("kden") === 0, lit(0L)).otherwise(expr(
          """CASE WHEN knum >= 0 THEN cast(knum * 1000000 div kden as bigint)
            |     ELSE -cast((-knum * 1000000 + kden - 1) div kden as bigint)
            |END""".stripMargin))
          .as("kappa_ppm"))
    perClass.crossJoin(broadcast(glob))
  }

  val langIdEvalSql: String =
    s"""WITH cm AS ($langIdSql),
       |rowm AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS row_n FROM cm GROUP BY 1),
       |colm AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS col_n FROM cm GROUP BY 1),
       |margins AS (
       |  SELECT cls, coalesce(row_n, 0) AS row_n, coalesce(col_n, 0) AS col_n
       |  FROM rowm FULL OUTER JOIN colm USING (cls)),
       |diag AS (SELECT lang AS cls, n AS tp FROM cm WHERE lang = predicted),
       |pc AS (
       |  SELECT m.cls, coalesce(d.tp, 0) AS tp,
       |         m.col_n - coalesce(d.tp, 0) AS fp,
       |         m.row_n - coalesce(d.tp, 0) AS fn,
       |         m.row_n AS support,
       |         CASE WHEN m.col_n = 0 THEN 0
       |              ELSE coalesce(d.tp, 0) * 1000000 // m.col_n END AS precision_ppm,
       |         CASE WHEN m.row_n = 0 THEN 0
       |              ELSE coalesce(d.tp, 0) * 1000000 // m.row_n END AS recall_ppm,
       |         CASE WHEN m.row_n + m.col_n = 0 THEN 0
       |              ELSE 2 * coalesce(d.tp, 0) * 1000000 // (m.row_n + m.col_n)
       |              END AS f1_ppm
       |  FROM margins m LEFT JOIN diag d ON m.cls = d.cls),
       |gtot AS (
       |  SELECT CAST(sum(row_n) AS BIGINT) AS n_total,
       |         CAST(sum(row_n * col_n) AS BIGINT) AS chance
       |  FROM margins),
       |agree AS (SELECT CAST(coalesce(sum(tp), 0) AS BIGINT) AS n_agree FROM diag),
       |mf AS (SELECT CAST(sum(f1_ppm) AS BIGINT) AS f1_sum,
       |              CAST(count(*) AS BIGINT) AS n_cls FROM pc),
       |gl AS (
       |  SELECT CAST(n_agree * 1000000 // n_total AS BIGINT) AS accuracy_ppm,
       |         CAST(f1_sum // n_cls AS BIGINT) AS macro_f1_ppm,
       |         CAST(n_total AS HUGEINT) * n_agree - CAST(chance AS HUGEINT) AS knum,
       |         CAST(n_total AS HUGEINT) * n_total - CAST(chance AS HUGEINT) AS kden
       |  FROM gtot, agree, mf),
       |gk AS (
       |  SELECT accuracy_ppm, macro_f1_ppm,
       |         CAST(CASE WHEN kden = 0 THEN 0
       |                   WHEN knum >= 0 THEN knum * 1000000 // kden
       |                   ELSE -((-knum * 1000000 + kden - 1) // kden)
       |              END AS BIGINT) AS kappa_ppm
       |  FROM gl)
       |SELECT pc.cls, CAST(pc.tp AS BIGINT) AS tp, CAST(pc.fp AS BIGINT) AS fp,
       |       CAST(pc.fn AS BIGINT) AS fn, pc.support,
       |       CAST(pc.precision_ppm AS BIGINT) AS precision_ppm,
       |       CAST(pc.recall_ppm AS BIGINT) AS recall_ppm,
       |       CAST(pc.f1_ppm AS BIGINT) AS f1_ppm,
       |       gk.accuracy_ppm, gk.macro_f1_ppm, gk.kappa_ppm
       |FROM pc, gk""".stripMargin
}

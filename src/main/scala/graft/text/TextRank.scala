package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables
import graft.functions.TextExprs.{tokensCol, tokensSql}

/** q201: TextRank keyword extraction (Mihalcea & Tarau, "TextRank:
  * Bringing Order into Texts", EMNLP 2004) — the graph-ranking
  * complement to q39's TF-IDF (frequency-weighted) and q192's PMI
  * (pairwise association): a word matters when it co-occurs with other
  * words that matter, i.e. stationary mass on the co-occurrence graph.
  *
  * The graph: adjacent-token pairs (q192's shifted-zip bigrams),
  * symmetrized by summing both orientations, self-loops dropped, edges
  * below [[MinEdge]] total weight pruned. The walk: q124's integer-mass
  * PageRank discipline extended to WEIGHTED edges — each node splits
  * its mass over neighbors proportionally to edge weight,
  * `share = (mass·w) div strength(u)` — with damping 85/100 and
  * [[Iters]] statically-unrolled rounds, all BIGINT (the mass·w product
  * widens through DECIMAL(38,0)/HUGEINT so corpus-scale edge weights
  * cannot overflow), so the ranking is bit-identical across engines,
  * runs, and partitionings. Output: the top [[TopK]] keywords by mass
  * with their graph strength.
  *
  * Scale shape: bigrams come from an in-row shifted zip (no
  * self-join); the edge list and strength table are vocab-sized (≪
  * corpus) and map-side-combinable to build; each walk round is one
  * equi-join of the node-mass table against the edge list plus one
  * map-side-combined sum keyed on the target word — the q124 plan with
  * a weight column. The final top-k windows over the vocab-sized mass
  * table. The oracle unrolls the same rounds as chained CTEs. */
object TextRank {

  /** Statically-unrolled walk rounds (q124 convention). */
  val Iters = 3
  /** Initial integer mass per node (micro-units). */
  val InitMass = 1000000L
  /** Minimum symmetrized edge weight kept in the graph. */
  val MinEdge = 5L
  /** Keywords emitted. */
  val TopK = 20

  def textRank(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val pairs = toks
      .withColumn("a1", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("a2", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(explode(arrays_zip(col("a1"), col("a2"))).as("z"))
      .select(col("z.a1").as("w1"), col("z.a2").as("w2"))
    val dp = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val e = graft.plans.Barrier.eager(
      dp.select(col("w1").as("u"), col("w2").as("v"), col("c"))
        .unionAll(dp.select(col("w2").as("u"), col("w1").as("v"), col("c")))
        .groupBy("u", "v").agg(sum(col("c")).as("w"))
        .filter(col("u") =!= col("v") && col("w") >= MinEdge))
    rankEdges(e)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("mass").desc, col("n"))).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("rank"), col("n").as("word"), col("s").as("strength"),
        col("mass"))
  }

  /** The weighted walk over any materialized symmetric (u, v, w) edge
    * list — split out so specs can plant graphs with closed-form
    * stationary mass. Returns (n, s, mass). */
  def rankEdges(e: DataFrame): DataFrame = {
    // fresh plan per reference (q124 convention): reusing one DataFrame
    // instance across self-referencing rounds collides attribute ids
    def strength: DataFrame = e.groupBy(col("u").as("n")).agg(sum(col("w")).as("s"))
    def nodes: DataFrame = e.select(col("u").as("n")).distinct()
    val base = lit(15L * InitMass / 100L)
    val mass0 = nodes.select(col("n"), lit(InitMass).as("mass"))
    val massK = (1 to Iters).foldLeft(mass0) { (mass, _) =>
      // unqualified u/v/w: they exist only on the edge side, and an
      // e("…") reference would trip the ambiguous-self-join check once
      // mass's lineage contains e from the previous round
      val incoming = mass.join(strength, "n")
        .join(e, col("n") === col("u"))
        .select(col("v"),
          expr("cast((cast(mass as decimal(38,0)) * w) div s as bigint)").as("share"))
        .groupBy(col("v")).agg(sum(col("share")).as("in_mass"))
      val nr = nodes
      nr.join(incoming, nr("n") === incoming("v"), "left")
        .select(nr("n"),
          (base + expr("85 * coalesce(in_mass, 0L) div 100")).as("mass"))
    }
    massK.join(strength, "n")
  }

  val textRankSql: String = {
    val base = 15L * InitMass / 100L
    val rounds = (1 to Iters).map { r =>
      s"""m$r AS (
         |  SELECT nodes.n,
         |         CAST($base + 85 * coalesce(i.in_mass, 0) // 100 AS BIGINT) AS mass
         |  FROM nodes LEFT JOIN (
         |    SELECT e.v,
         |           sum(CAST((CAST(m.mass AS HUGEINT) * e.w) // s.s AS BIGINT)) AS in_mass
         |    FROM m${r - 1} m
         |    JOIN s ON s.n = m.n
         |    JOIN e ON e.u = m.n
         |    GROUP BY 1
         |  ) i ON nodes.n = i.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT ${tokensSql("text")} AS t FROM documents),
       |pairs AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
       |  WHERE len(t) >= 2),
       |dp AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
       |e AS (
       |  SELECT u, v, CAST(sum(c) AS BIGINT) AS w
       |  FROM (SELECT w1 AS u, w2 AS v, c FROM dp
       |        UNION ALL
       |        SELECT w2 AS u, w1 AS v, c FROM dp)
       |  WHERE u <> v
       |  GROUP BY 1, 2 HAVING sum(c) >= $MinEdge),
       |s AS (SELECT u AS n, CAST(sum(w) AS BIGINT) AS s FROM e GROUP BY 1),
       |nodes AS (SELECT n FROM s),
       |m0 AS (SELECT n, CAST($InitMass AS BIGINT) AS mass FROM nodes),
       |$rounds
       |SELECT CAST(rank AS BIGINT) AS rank, word, strength, mass
       |FROM (
       |  SELECT m.n AS word, s.s AS strength, m.mass,
       |         row_number() OVER (ORDER BY m.mass DESC, m.n) AS rank
       |  FROM m$Iters m JOIN s ON s.n = m.n)
       |WHERE rank <= $TopK""".stripMargin
  }
}

package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.plans.Barrier

/** Distributed graph analytics over the co-purchase graph (parts linked
  * by appearing in the same order — the item-item graph q120 mines).
  *
  * Both operators are pure DataFrame plans: each BFS round and each
  * wedge/closure step is one equi-join keyed on a node id, so at
  * cluster scale every iteration is a single hash-partitioned shuffle
  * of fixed-width (id, id) rows — no adjacency list ever concentrates
  * on one task, and nothing is collected to the driver.
  *
  * All outputs are integers (counts, hop numbers, basis points), the
  * repo's FP-safe discipline for exact cross-engine oracle compares.
  */
object GraphOps {

  /** BFS depth cap — fixed small constant so the plan is a statically
    * unrolled chain of K joins (no driver-side convergence test). */
  val BfsMaxHops = 3

  /** Seed catalog for the BFS: one brand's parts. */
  val BfsSeedBrand = "Brand#1"

  /** Broadcast hint behind a config seam. The co-purchase edge list is
    * catalog-sized (parts², bounded by basket overlap — ~1.2M rows /
    * ~19 MB even at sf0.1's 600k lineitems), far below the corpus-sized
    * tables, so hash-side broadcast keeps the wedge stream and the
    * frontier expansion in ONE codegen'd pipelined pass with no sort
    * and no shuffle of the O(m^1.5) intermediate. On a catalog too big
    * to broadcast, set `graft.graph.broadcastEdges=false` to fall back
    * to shuffle joins (the same plans, partitioned on the join keys). */
  private def maybeBroadcast(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("graft.graph.broadcastEdges", "true") == "true")
      broadcast(df)
    else df

  /** Distinct co-purchase edges (part pairs sharing ≥ `minSupport`
    * orders), canonical `pa < pb`. The per-order fanout is C(basket, 2)
    * — bounded by basket size, never by catalog or order count.
    *
    * Implementation seam (`graft.plans.basketPairsImpl`): the round-14
    * reroute through the aggregate BasketPairs regressed the
    * minSupport=1 census paths (r14 verdict #2). Measured per call
    * site this round (same-day min-of-3 pairs, OPTIMIZATION_r15.md):
    * at minSupport=1 the self-join form wins (q123 5.76→4.22 s, q128
    * 4.89→4.38, q196 8.25→7.72 — the downstream census dominates and
    * the unthresholded aggregate's per-basket set churn is pure
    * overhead), at minSupport=2 the two are within noise locally and
    * the aggregate form keeps one fewer fact-row exchange at scale —
    * so the default is join for minSupport=1, agg otherwise. */
  private[graft] def edges(spark: SparkSession, dir: String, minSupport: Long): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    val impl = spark.conf.get("graft.plans.basketPairsImpl",
      if (minSupport <= 1) "join" else "agg")
    val pairs =
      if (impl == "join")
        graft.plans.BasketPairs.viaJoinOfDistinct(
          li.distinct(), "l_orderkey", "l_partkey")
      else graft.plans.BasketPairs(li, "l_orderkey", "l_partkey")
    pairs.filter(col("n") >= minSupport).select(col("pa"), col("pb"))
  }

  private def edgesSql(minSupport: Long): String =
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |       FROM li a JOIN li b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= $minSupport)""".stripMargin

  /** Multi-source BFS: min hop distance (≤ [[BfsMaxHops]]) from the
    * seed brand's parts through the support-≥2 co-purchase graph.
    * Unreachable parts emit no row.
    *
    * The loop is data-parallel Pregel shape: each round expands the
    * current frontier (hop = round) across the symmetric edge list with
    * one equi-join on the node id, then folds with a map-side-combined
    * `min(hop)`. K is a static constant, so the whole traversal is one
    * declarative plan — Catalyst sees every round, and AQE can re-plan
    * each shuffle from the previous round's real sizes. State per round
    * is one (node, hop) row per *visited* node: fixed-width, linear in
    * nodes, never in edges. */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Barrier.eager(edges(spark, dir, minSupport = 2))
    // symmetric view: undirected traversal
    val e = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
    val seeds = Tables.part(spark, dir)
      .filter(col("p_brand") === BfsSeedBrand)
      .select(col("p_partkey").as("n"), lit(0L).as("hop"))
    val be = maybeBroadcast(e)
    (1 to BfsMaxHops).foldLeft(seeds) { (visited, round) =>
      val frontier = visited.filter(col("hop") === (round - 1))
      visited.unionAll(
          frontier.join(be, frontier("n") === be("u"))
            .select(col("v").as("n"), lit(round.toLong).as("hop")))
        .groupBy(col("n")).agg(min(col("hop")).as("hop"))
    }.select(col("n").as("p_partkey"), col("hop"))
  }

  val graphBfsSql: String = {
    // unrolled to the same fixed K as the Spark plan
    val rounds = (1 to BfsMaxHops).map { r =>
      s"""h$r AS (SELECT n, min(hop) AS hop FROM (
         |  SELECT n, hop FROM h${r - 1}
         |  UNION ALL
         |  SELECT e.v, CAST($r AS BIGINT)
         |  FROM h${r - 1} f JOIN e ON f.n = e.u WHERE f.hop = ${r - 1}
         |) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(2)},
       |e AS (SELECT pa AS u, pb AS v FROM e0 UNION ALL SELECT pb, pa FROM e0),
       |h0 AS (SELECT p_partkey AS n, CAST(0 AS BIGINT) AS hop
       |       FROM part WHERE p_brand = '$BfsSeedBrand'),
       |$rounds
       |SELECT n AS p_partkey, hop FROM h$BfsMaxHops""".stripMargin
  }

  // -------------------------------------------- convergence-gated iteration

  /** Fixpoint BFS over an arbitrary symmetric edge list `e` (u, v):
    * iterate until the frontier is EMPTY rather than a fixed K rounds.
    * The statically-unrolled [[graphBfs]] is the right shape when the
    * query semantics fix K (one declarative plan, Catalyst sees every
    * round) — but a graph of diameter > K silently under-labels there.
    * This variant trades per-round driver convergence checks (one tiny
    * job each: is the materialized frontier empty?) for exactness at
    * any diameter, and truncates lineage EVERY round through a `Barrier`
    * — state stays one fixed-width (node, hop) row per visited node,
    * and the plan per round is one join + one min-fold regardless of
    * how many rounds have run (the unrolled form's plan grows linearly
    * with K and would overwhelm the optimizer long before K ~ diameter
    * of a real graph).
    *
    * `maxRounds` is a runaway bound (cyclic-input insurance at the
    * scale of "something is wrong"), not a semantic cap: the loop exits
    * on the empty frontier in diameter-many rounds. */
  def bfsFixpoint(e: DataFrame, seeds: DataFrame, maxRounds: Int = 256): DataFrame = {
    val be = maybeBroadcast(e)
    var visited = Barrier.eager(seeds.select(col("n"), col("hop")))
    var frontier = visited.filter(col("hop") === 0L)
    var round = 1
    while (round <= maxRounds && !frontier.isEmpty) {
      val expanded = frontier.join(be, frontier("n") === be("u"))
        .select(col("v").as("n"), lit(round.toLong).as("hop"))
      visited = Barrier.eager(visited.unionAll(expanded)
        .groupBy(col("n")).agg(min(col("hop")).as("hop")), required = true)
      // newly-discovered nodes only: re-reached nodes kept their
      // smaller hop in the min-fold, so hop == round ⟺ first visit
      frontier = visited.filter(col("hop") === round.toLong)
      round += 1
    }
    visited
  }

  /** The q122 BFS run to CONVERGENCE (no [[BfsMaxHops]] cap): every
    * part reachable from the seed brand gets its true min hop count.
    * Same edge semantics as q122 (support ≥ 2, undirected). */
  def graphBfsConverged(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Barrier.eager(edges(spark, dir, minSupport = 2))
    val e = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
    val seeds = Tables.part(spark, dir)
      .filter(col("p_brand") === BfsSeedBrand)
      .select(col("p_partkey").as("n"), lit(0L).as("hop"))
    bfsFixpoint(e, seeds).select(col("n").as("p_partkey"), col("hop"))
  }

  /** Recursion guard for the DuckDB oracle's recursive CTE: plain
    * UNION-recursive BFS re-discovers nodes at every hop length a cycle
    * admits, so an explicit hop bound is needed for termination. 64 is
    * an order of magnitude past any plausible eccentricity of the
    * co-purchase graph (measured max hop at sf0.1: 4); the oracle and
    * the fixpoint agree exactly whenever true eccentricity < the bound,
    * and the correctness gate itself verifies that premise every run
    * (a graph that deep would hash-mismatch and flag red). */
  val BfsOracleHopBound = 64

  val graphBfsConvergedSql: String =
    s"""WITH RECURSIVE ${edgesSql(2)},
       |e AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e0 UNION ALL SELECT pb, pa FROM e0),
       |walk(n, hop) AS (
       |  SELECT p_partkey, CAST(0 AS BIGINT) FROM part WHERE p_brand = '$BfsSeedBrand'
       |  UNION
       |  SELECT e.v, walk.hop + 1 FROM walk JOIN e ON walk.n = e.u
       |  WHERE walk.hop < $BfsOracleHopBound)
       |SELECT n AS p_partkey, min(hop) AS hop FROM walk GROUP BY 1""".stripMargin

  /** Fixpoint PageRank over symmetric edges `e`: iterate until the
    * largest per-node mass change is ≤ `tolMicro` micro-units (integer
    * — the convergence test is exact, no FP epsilon games), with
    * lineage truncated every round. Same per-round plan as [[pageRank]]
    * (share-split join + map-side-combined sum); the cost of the gate
    * is one tiny max-|Δ| aggregate per round. `nodes` is call-by-name
    * for the same fresh-scan-per-round reason as [[pageRank]]. */
  def pageRankFixpoint(nodes: => DataFrame, e: DataFrame,
      tolMicro: Long = 100L, maxRounds: Int = 64): DataFrame = {
    val deg = e.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val base = lit(15L * PageRankInitMass / 100L)
    val be = maybeBroadcast(e)
    var mass = Barrier.eager(
      nodes.select(col("n"), lit(PageRankInitMass).as("mass")))
    var round = 1
    var delta = Long.MaxValue
    while (round <= maxRounds && delta > tolMicro) {
      val incoming = mass.join(deg, "n")
        .select(col("n"), expr("mass div deg").as("share"))
        .join(be, col("n") === be("u"))
        .groupBy(col("v")).agg(sum(col("share")).as("in_mass"))
      val nr = nodes
      val next = Barrier.eager(nr.join(incoming, nr("n") === incoming("v"), "left")
        .select(nr("n"),
          (base + expr("85 * coalesce(in_mass, 0L) div 100")).as("mass")), required = true)
      delta = next.as("a").join(mass.as("b"), "n")
        .agg(coalesce(max(abs(col("a.mass") - col("b.mass"))), lit(0L)))
        .collect()(0).getLong(0)
      mass = next
      round += 1
    }
    mass
  }

  /** PageRank iteration count — static, so the whole propagation is
    * one declarative plan (K unrolled join+agg rounds). */
  val PageRankIters = 3

  /** Initial integer mass per node (micro-units). */
  val PageRankInitMass = 1000000L

  /** Integer-mass PageRank over the support-≥2 co-purchase graph
    * (damping 0.85, [[PageRankIters]] rounds, every part a node).
    *
    * All arithmetic is integer (`div` shares, 85/100 damping), so the
    * result is bit-identical across engines and runs — the repo's
    * FP-safe discipline applied to an iterative fixpoint. The variant
    * is deliberately mass-leaky (integer division truncates; dangling
    * nodes keep only the teleport base): ranking-faithful, and
    * reproducibility is worth more to a data pipeline than conserving
    * the ~1e-6 lost mass. Each round is one broadcast (or shuffle)
    * equi-join of the per-node share against the edge list + one
    * map-side-combined sum keyed on the node id — state is one
    * fixed-width (node, mass) row per node, linear in the catalog. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Barrier.eager(edges(spark, dir, minSupport = 2))
    val e = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
    val deg = e.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    // fresh scan per reference: each round joins the node catalog again,
    // and reusing one DataFrame instance would collide attribute ids
    def nodes: DataFrame = Tables.part(spark, dir).select(col("p_partkey").as("n"))
    val base = lit(15L * PageRankInitMass / 100L)
    val be = maybeBroadcast(e)
    val mass0 = nodes.select(col("n"), lit(PageRankInitMass).as("mass"))
    (1 to PageRankIters).foldLeft(mass0) { (mass, _) =>
      val incoming = mass.join(deg, "n")
        .select(col("n"), expr("mass div deg").as("share"))
        .join(be, col("n") === be("u"))
        .groupBy(col("v")).agg(sum(col("share")).as("in_mass"))
      val nr = nodes
      nr.join(incoming, nr("n") === incoming("v"), "left")
        .select(nr("n"),
          (base + expr("85 * coalesce(in_mass, 0L) div 100")).as("mass"))
    }.select(col("n").as("p_partkey"), col("mass"))
  }

  val pageRankSql: String = {
    val base = 15L * PageRankInitMass / 100L
    val rounds = (1 to PageRankIters).map { r =>
      s"""m$r AS (
         |  -- CAST: DuckDB's sum() yields HUGEINT, which pandas-hashes as
         |  -- a different dtype than Spark's BIGINT even for equal values
         |  SELECT nodes.n,
         |         CAST($base + 85 * coalesce(i.in_mass, 0) // 100 AS BIGINT) AS mass
         |  FROM nodes LEFT JOIN (
         |    SELECT e.v, sum(s.share) AS in_mass
         |    FROM (SELECT m.n, m.mass // d.deg AS share
         |          FROM m${r - 1} m JOIN d ON d.n = m.n) s
         |    JOIN e ON s.n = e.u GROUP BY 1
         |  ) i ON nodes.n = i.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(2)},
       |e AS (SELECT pa AS u, pb AS v FROM e0 UNION ALL SELECT pb, pa FROM e0),
       |d AS (SELECT u AS n, count(*) AS deg FROM e GROUP BY 1),
       |nodes AS (SELECT p_partkey AS n FROM part),
       |m0 AS (SELECT n, CAST($PageRankInitMass AS BIGINT) AS mass FROM nodes),
       |$rounds
       |SELECT n AS p_partkey, mass FROM m$PageRankIters""".stripMargin
  }

  /** Global triangle census of the support-≥1 co-purchase graph:
    * edge / wedge / triangle counts and the global clustering
    * coefficient (3·triangles / wedges, basis points). `n_wedges` is
    * the TRUE wedge count Σ C(deg, 2) from the degree table — NOT the
    * oriented (in,out) wedge count of the enumeration pass below, which
    * undercounts (each triangle closes exactly one oriented wedge under
    * the degree orientation) and would inflate the ratio past 10000 bp
    * (a K3 would read 30000 bp). The true denominator keeps
    * closure_bp ≡ GCC ∈ [0, 10000].
    *
    * Classic degree-ordered orientation (each undirected edge points
    * from its (degree, id)-smaller endpoint to the larger): every
    * node's out-degree is O(√m), so wedge fanout per node is bounded
    * and the "curse of the last reducer" hub explosion cannot happen —
    * the hub's wedges are generated by its many small in-neighbors,
    * not by the hub itself. Wedge → closure is one LEFT equi-join back
    * to the canonical edge list on (least, greatest): hash-joinable (an
    * OR of both orientations would force a nested loop), and wedge +
    * triangle counts fold out of the SAME pass (`count(*)` vs
    * `count(match)`), so the O(m^1.5) wedge stream is generated exactly
    * once and never materialized. */
  /** The degree-oriented triangle-count pass shared by the exact census
    * (q123) and the sampled estimator (q128): orient, wedge, close —
    * returns one row (n_triangles). Input must be canonical pa < pb. */
  private def orientedTriangles(e: DataFrame): DataFrame = {
    val d = e.select(col("pa").as("n")).unionAll(e.select(col("pb").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val before: Column = // (deg, id) lexicographic: total order, ids unique
      col("da.deg") < col("db.deg") ||
      (col("da.deg") === col("db.deg") && col("pa") < col("pb"))
    val o = Barrier.eager(e
      .join(d.as("da"), col("pa") === col("da.n"))
      .join(d.as("db"), col("pb") === col("db.n"))
      .select(when(before, col("pa")).otherwise(col("pb")).as("u"),
              when(before, col("pb")).otherwise(col("pa")).as("v")))
    o.as("o2").join(maybeBroadcast(o.as("o1")), col("o1.v") === col("o2.u"))
      .select(least(col("o1.u"), col("o2.v")).as("x"),
              greatest(col("o1.u"), col("o2.v")).as("y"))
      .join(maybeBroadcast(e), col("x") === col("pa") && col("y") === col("pb"), "left")
      .agg(count(col("pa")).as("n_triangles"))
  }

  def triangleStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Barrier.eager(edges(spark, dir, minSupport = 1))
    val d = e.select(col("pa").as("n")).unionAll(e.select(col("pb").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // true wedge count Σ deg·(deg−1)/2 — a tiny aggregate over the
    // degree table (empty-graph sum is NULL → 0)
    val wedges = d.agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
      .as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges)
      .crossJoin(orientedTriangles(e))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        // wedge-free graph (e.g. all orders single-part): ANSI mode
        // would throw on /0 — closure is 0 by definition there
        when(col("n_wedges") === 0, lit(0L)).otherwise(
          expr("(3 * n_triangles * 10000) div n_wedges")).as("closure_bp"))
  }

  val triangleStatsSql: String =
    s"""WITH ${edgesSql(1)},
       |d AS MATERIALIZED (SELECT n, count(*) AS deg FROM
       |        (SELECT pa AS n FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY 1),
       |o AS MATERIALIZED (SELECT CASE WHEN (da.deg, e0.pa) < (db.deg, e0.pb) THEN e0.pa ELSE e0.pb END AS u,
       |             CASE WHEN (da.deg, e0.pa) < (db.deg, e0.pb) THEN e0.pb ELSE e0.pa END AS v
       |      FROM e0 JOIN d da ON da.n = e0.pa JOIN d db ON db.n = e0.pb),
       |wd AS (SELECT coalesce(CAST(sum(deg * (deg - 1) // 2) AS BIGINT), 0) AS n_wedges
       |       FROM d),
       |w AS (SELECT o1.u AS a, o1.v AS b, o2.v AS c FROM o o1 JOIN o o2 ON o1.v = o2.u),
       |t AS (SELECT * FROM w JOIN e0
       |        ON least(w.a, w.c) = e0.pa AND greatest(w.a, w.c) = e0.pb)
       |SELECT (SELECT count(*) FROM e0) AS n_edges,
       |       (SELECT n_wedges FROM wd) AS n_wedges,
       |       (SELECT count(*) FROM t) AS n_triangles,
       |       CASE WHEN (SELECT n_wedges FROM wd) = 0 THEN 0
       |            ELSE 3 * (SELECT count(*) FROM t) * 10000 // (SELECT n_wedges FROM wd)
       |       END AS closure_bp""".stripMargin

  // ------------------------------------------ sampled triangle estimation

  /** Edge-sampling probability for the q128 estimator, as kept/mod. */
  val TriSampleMod  = 1000L
  val TriSampleKeep = 500L // p = 1/2

  /** Mixing constants for the deterministic edge-sampling hash: a
    * two-step multiply-mod over a large prime, cheap enough to inline
    * in both engines and bit-identical across them (all intermediates
    * bounded well inside int64 — ANSI-overflow-safe: pa·1e6 + pb ≤
    * ~2e10, then (h1 < 1e9) · 2654435761 ≤ ~2.7e18). */
  val TriSampleP1 = 1000003L
  val TriSampleP2 = 2654435761L
  val TriSampleM  = 1000000007L

  private def edgeKeep(pa: Column, pb: Column): Column = {
    val h1 = pmod(pa * lit(TriSampleP1) + pb, lit(TriSampleM))
    val h  = pmod(h1 * lit(TriSampleP2), lit(TriSampleM))
    pmod(h, lit(TriSampleMod)) < lit(TriSampleKeep)
  }

  /** DOULION-style approximate triangle census (Tsourakakis et al.,
    * KDD'09 — public paper): keep each edge independently with
    * probability p, count triangles on the thinned graph with the SAME
    * degree-oriented pass as q123, scale by 1/p³. At 100 TB graph scale
    * this is the census you actually run — the edge list halves, the
    * wedge stream (the O(m^1.5) cost center) quarters, and the exact
    * pass's plan shape is reused unchanged, for a variance of
    * Var(T̂) ≈ T(1/p³−1) plus shared-edge covariance terms.
    *
    * Sampling is a deterministic integer hash of the canonical edge
    * ([[edgeKeep]]) rather than an RNG, so the estimate is reproducible
    * run-to-run AND bit-identical in the DuckDB oracle — the oracle
    * hash-matches the estimate itself, a stronger check than the
    * q44/q45 bound-only convention. `within_bound` (estimate within
    * 50% + 400 absolute of exact — many sigmas past the estimator's
    * standard deviation at every test SF) is additionally asserted = 1
    * in GraphOpsSpec so an estimator regression fails loudly instead
    * of green-matching a broken value. */
  def triangleEstimate(spark: SparkSession, dir: String): DataFrame = {
    val e  = Barrier.eager(edges(spark, dir, minSupport = 1))
    val es = e.filter(edgeKeep(col("pa"), col("pb")))
    val p3inv = (TriSampleMod / TriSampleKeep) // 1/p, integer by construction
    val scale = p3inv * p3inv * p3inv
    // r15: the exact and the thinned censuses are independent given the
    // shared checkpointed edge set, and each eagerly materializes its
    // oriented-edge table at construction — overlap them (guide §2.6)
    val census = graft.plans.Par.all(Seq(
      () => orientedTriangles(e),
      () => orientedTriangles(es)
        .select((col("n_triangles") * scale).as("n_triangles_est"))))
    census(0)
      .crossJoin(census(1))
      .select(col("n_triangles"), col("n_triangles_est"),
        (abs(col("n_triangles_est") - col("n_triangles")) <=
          expr("n_triangles div 2") + 400L).cast("int").as("within_bound"))
  }

  val triangleEstimateSql: String = {
    def census(eName: String, out: String): String =
      s"""d_$out AS MATERIALIZED (SELECT n, count(*) AS deg FROM
         |  (SELECT pa AS n FROM $eName UNION ALL SELECT pb FROM $eName) GROUP BY 1),
         |o_$out AS MATERIALIZED (SELECT CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pa ELSE e.pb END AS u,
         |                  CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pb ELSE e.pa END AS v
         |           FROM $eName e JOIN d_$out da ON da.n = e.pa JOIN d_$out db ON db.n = e.pb),
         |w_$out AS (SELECT o1.u AS a, o2.v AS c FROM o_$out o1 JOIN o_$out o2 ON o1.v = o2.u),
         |t_$out AS (SELECT count(*) AS n FROM w_$out w JOIN $eName e
         |             ON least(w.a, w.c) = e.pa AND greatest(w.a, w.c) = e.pb)""".stripMargin
    val scale = {
      val pInv = TriSampleMod / TriSampleKeep; pInv * pInv * pInv
    }
    s"""WITH ${edgesSql(1)},
       |es AS MATERIALIZED (SELECT pa, pb FROM e0
       |       WHERE ((((pa * $TriSampleP1 + pb) % $TriSampleM) * $TriSampleP2)
       |              % $TriSampleM) % $TriSampleMod < $TriSampleKeep),
       |${census("e0", "x")},
       |${census("es", "s")}
       |SELECT t_x.n AS n_triangles,
       |       $scale * t_s.n AS n_triangles_est,
       |       CAST(CASE WHEN abs($scale * t_s.n - t_x.n) <= t_x.n // 2 + 400
       |            THEN 1 ELSE 0 END AS INTEGER) AS within_bound
       |FROM t_x, t_s""".stripMargin
  }

  /** The k-core threshold is SCALE-FREE: k = min_deg + (max_deg −
    * min_deg) div 6 of the initial degree distribution, so the peel
    * stays non-trivial at every sf (co-purchase degrees grow with
    * order count — any fixed k peels everything at small sf and
    * nothing at large sf). Exact integer in both engines. div 6 sits
    * below the cascade's critical point at the sf corpus (div 4
    * collapses the whole graph over an 18-round avalanche — measured,
    * the reason the query's round count is FIXED, see
    * [[KCorePeelRounds]]). */
  def kCoreThreshold(deg: DataFrame): Long =
    deg.agg(expr("min(deg) + (max(deg) - min(deg)) div 6"))
      .collect()(0).getLong(0)

  /** The peel runs EXACTLY this many rounds (with an early exit once
    * stable — further rounds are no-ops, so the result is identical).
    * A fixed round count, not a fixpoint, is deliberate: peeling is
    * non-monotone, so a recursive-CTE oracle can't express it and an
    * "unroll past convergence" bound would rest on an unverifiable
    * premise — near the cascade's critical threshold the
    * rounds-to-fixpoint EXPLODES (measured at sf0.01: 2 rounds at
    * k = div-6, 18 rounds and total collapse at k = div-4). Instead
    * both engines compute the same R-round state at ANY scale, and the
    * `converged` flag (1 ⟺ every surviving in-core degree ≥ k ⟺ round
    * R+1 would change nothing) makes it observable whether that state
    * IS the true k-core. At the sf corpora it is (flag = 1). */
  val KCorePeelRounds = 12

  /** q196: k-core decomposition (k = [[kCoreThreshold]], derived
    * scale-free from the degree distribution) of the support-≥1
    * co-purchase graph — the standard "dense cohesive subgraph"
    * extraction (Seidman, "Network structure and minimum degree",
    * 1983) a recommender or graph-dedup stage runs before mining:
    * iteratively peel every node of degree < k until no node is
    * sub-threshold; survivors form the k-core, reported with their
    * in-core degree. The threshold is one bounded driver-side scalar
    * (the same pattern as [[pageRankFixpoint]]'s convergence gate).
    *
    * Scale shape: each peel round is ONE map-side-combinable degree
    * aggregate over fixed-width (u,v) rows plus two semi-joins keyed
    * on node id — no adjacency list concentrates anywhere, and the
    * edge set only SHRINKS round over round, so per-round cost is
    * monotone decreasing. Rounds-to-fixpoint is tiny in practice
    * (peeling removes whole degree-layers at once); the driver-gated
    * loop mirrors [[bfsFixpoint]] with per-round lineage truncation.
    * Reference framing: the co-purchase mining family of
    * dataflow_transform.py's grouped aggregates (see SURVEY §2). */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Barrier.eager(edges(spark, dir, minSupport = 1))
    val e = Barrier.eager(e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v"))))
    val k = kCoreThreshold(
      e.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    val core = kCorePeel(e, k, KCorePeelRounds, inputMaterialized = true)
    val flag = core.agg(
      (coalesce(min(col("core_deg")), lit(k)) >= k).cast("int").as("converged"))
    core.crossJoin(broadcast(flag))
      .select(col("u").as("p_partkey"), col("core_deg"), col("converged"))
  }

  /** The peel loop on a symmetric (u, v) edge list: run `rounds` peel
    * rounds (early exit once the edge count stops moving — an
    * unchanged edge set fixes the degree table, so further rounds are
    * no-ops; same fixpoint as counting survivors); returns surviving
    * nodes with their in-core degree. */
  def kCorePeel(edges0: DataFrame, k: Long, rounds: Int = KCorePeelRounds,
                inputMaterialized: Boolean = false): DataFrame = {
    // skip the input barrier when the caller already checkpointed the
    // symmetric edge list (kCore does — the threshold aggregate needed
    // it); a second eager serialize of the full edge set was pure cost
    var e = if (inputMaterialized) edges0 else Barrier.eager(edges0)
    // fixpoint on the EDGE count: the degree filter is a function of
    // the edge set alone, so an unchanged edge count is an unchanged
    // degree table — same fixpoint as counting survivors, but the
    // count doubles as the action that materializes the round's LAZY
    // checkpoint: ONE Spark job per round instead of two (this loop is
    // round-latency-bound, not data-bound — the q149-style cost).
    var survivors = Long.MaxValue
    var n = -1L
    var round = 0
    while (n != survivors && round < rounds) {
      survivors = n
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      // two independently-aliased copies so the double semi-join can't
      // trip self-join attribute ambiguity
      val keepU = keep.select(col("u").as("ku"))
      val keepV = keep.select(col("u").as("kv"))
      e = e.join(keepU, e("u") === col("ku"), "left_semi")
        .join(keepV, e("v") === col("kv"), "left_semi")
        .transform(Barrier.lazily(_, required = true))
      n = e.count()
      round += 1
    }
    e.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
  }

  /** Oracle: the peeling cascade unrolled [[KCorePeelRounds]] times —
    * each round is the naive degree-filter + edge-restrict pair. */
  val kCoreSql: String = {
    // MATERIALIZED is load-bearing: each round references the previous
    // one twice (degree filter + edge restrict), so an inlining CTE
    // planner would expand the 12-round chain into an exponential tree
    // of base scans.
    val rounds = (1 to KCorePeelRounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT u FROM es${i - 1}, kth GROUP BY u HAVING count(*) >= min(kv)),
         |es$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM es${i - 1} e
         |  JOIN s$i a ON e.u = a.u JOIN s$i b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(1)},
       |es0 AS MATERIALIZED (
       |  SELECT pa AS u, pb AS v FROM e0 UNION ALL SELECT pb, pa FROM e0),
       |kth AS MATERIALIZED (
       |  SELECT min(deg) + (max(deg) - min(deg)) // 6 AS kv
       |  FROM (SELECT u, count(*) AS deg FROM es0 GROUP BY 1)),
       |$rounds,
       |d AS MATERIALIZED (
       |  SELECT u, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM es$KCorePeelRounds GROUP BY 1)
       |SELECT u AS p_partkey, core_deg,
       |       CAST(CASE WHEN coalesce((SELECT min(core_deg) FROM d),
       |                               (SELECT kv FROM kth))
       |                      >= (SELECT kv FROM kth)
       |            THEN 1 ELSE 0 END AS INTEGER) AS converged
       |FROM d""".stripMargin
  }

  /** Synchronous LPA rounds — fixed so the oracle is a statically
    * unrolled CTE chain (same contract as [[PageRankIters]]). */
  val LabelPropRounds = 4

  /** q208: label-propagation community detection (Raghavan et al.,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks", 2007) over the support-≥2 co-purchase
    * graph — the community complement to q134's connectivity: CC says
    * "reachable", LPA says "densely together", which is what a
    * catalog-curation or co-purchase-merchandising stage actually
    * wants. Every node starts as its own label; each synchronous round
    * it adopts the MAJORITY label among its neighbors (tie → smallest
    * label id, so the update is a pure deterministic function of the
    * previous round — no RNG, no visit order, bit-identical across
    * engines). Isolated catalog parts keep their own label (singleton
    * communities).
    *
    * Scale shape: a round is ONE equi-join of the fixed-width label
    * table against the edge list keyed on node id, a map-side-
    * combinable (node, label) count, and a per-node top-1 window —
    * exactly q124's per-round cost plus a ranking pass; labels are
    * single longs, so nothing wider than (id, id, count) ever
    * shuffles, and the hub node's update reads its neighbors' labels
    * (bounded fanout per edge), never materializing an adjacency
    * list. Reference framing: the co-purchase mining family of
    * dataflow_transform.py's grouped aggregates (SURVEY §2). */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Barrier.eager(edges(spark, dir, minSupport = 2))
    val e = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
    // fresh scan per reference (attribute-id collision, see pageRank)
    def nodes: DataFrame = Tables.part(spark, dir).select(col("p_partkey").as("n"))
    val fin = labelPropRounds(nodes _, e, LabelPropRounds)
    val sizes = fin.groupBy(col("lab")).agg(count(lit(1)).as("comm_size"))
    fin.join(sizes, "lab")
      .select(col("n").as("p_partkey"), col("lab").as("community"),
        col("comm_size"))
  }

  /** The synchronous LPA fold on an explicit symmetric (u, v) edge
    * list and a `n`-column node catalog (`nodes` is a thunk: each
    * round needs a FRESH plan to avoid self-join attribute
    * collisions). Exposed for fixture-graph specs. */
  def labelPropRounds(nodes: () => DataFrame, e: DataFrame,
                      rounds: Int): DataFrame = {
    val be = maybeBroadcast(e)
    val lab0 = nodes().select(col("n"), col("n").as("lab"))
    (1 to rounds).foldLeft(lab0) { (lab, _) =>
      // top-1 as a lexicographic max over (count, −label) structs
      // (r15): ≡ the former row_number window ordered (c DESC, lab ASC)
      // — max count wins, ties take the smallest label (labels are
      // positive part keys, so negation is order-reversing and safe) —
      // but runs as a map-side-combinable aggregate instead of a
      // partition-wide SORT per round (guide §2.4: the window's sort
      // bought nothing the argmax doesn't).
      val vote = lab.join(be, lab("n") === be("v"))
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("u").as("vn"), (-col("m.nl")).as("vlab"))
      val nr = nodes()
      nr.join(vote, nr("n") === vote("vn"), "left")
        .select(nr("n"), coalesce(col("vlab"), nr("n")).as("lab"))
    }
  }

  /** Oracle: the synchronous majority-vote rounds unrolled. */
  val labelPropSql: String = {
    val rounds = (1 to LabelPropRounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT nodes.n, coalesce(b.vlab, nodes.n) AS lab
         |  FROM nodes LEFT JOIN (
         |    SELECT u AS n, lab AS vlab FROM (
         |      SELECT u, lab, row_number() OVER (
         |               PARTITION BY u ORDER BY c DESC, lab) AS rn
         |      FROM (SELECT e.u, l.lab, count(*) AS c
         |            FROM e JOIN l${r - 1} l ON l.n = e.v
         |            GROUP BY 1, 2))
         |    WHERE rn = 1
         |  ) b ON nodes.n = b.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(2)},
       |e AS MATERIALIZED (
       |  SELECT pa AS u, pb AS v FROM e0 UNION ALL SELECT pb, pa FROM e0),
       |nodes AS MATERIALIZED (SELECT p_partkey AS n FROM part),
       |l0 AS (SELECT n, n AS lab FROM nodes),
       |$rounds,
       |sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS comm_size
       |          FROM l$LabelPropRounds GROUP BY 1)
       |SELECT f.n AS p_partkey, f.lab AS community, s.comm_size
       |FROM l$LabelPropRounds f JOIN sizes s ON f.lab = s.lab""".stripMargin
  }

  /** Synchronous HITS rounds — fixed so the oracle is a statically
    * unrolled CTE chain (same contract as [[PageRankIters]]). */
  val HitsRounds = 2

  /** Unit scale for HITS scores (micro-units). */
  val HitsScale = 1000000L

  /** q224: HITS hubs & authorities (Kleinberg, "Authoritative sources
    * in a hyperlinked environment", JACM'99) on the DIRECTED bipartite
    * purchase graph customer → part — the directed complement to
    * q124's undirected PageRank: a part is authoritative when bought
    * by broad-basket (hub) customers, a customer is a hub when their
    * basket concentrates on authoritative parts. Mutual-reinforcement
    * rounds: h = A·a then renormalize, a = Aᵀ·h then renormalize.
    *
    * Renormalization is the q211 exact-integer contract: scores are
    * NONNEGATIVE throughout (sums of nonnegative terms), so
    * `(raw · 10⁶) div max(raw)` is rounding-mode-proof across engines
    * with no shift needed; the per-round max is a 1-row aggregate
    * broadcast back (the repo's scalar-join pattern). Result is
    * bit-identical across engines and runs.
    *
    * Scale shape: each half-round is ONE equi-join of the fixed-width
    * (node, score) table against the edge list keyed on the node id +
    * one map-side-combined sum — q124's per-round cost exactly; the
    * edge list is (custkey, partkey) pairs deduped from the fact
    * table, so nothing wider than two ids and a long ever shuffles,
    * and no adjacency list materializes. Score magnitude is bounded
    * by max-degree · 10⁶ ≤ ~10¹³ at any realistic catalog — safe in
    * int64 (the oracle CASTs DuckDB's HUGEINT sums back to BIGINT).
    * Reference framing: the co-purchase mining family of
    * dataflow_transform.py's grouped aggregates (SURVEY §2). */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    // lazy (r15): first broadcast of `be` materializes the dedup'd
    // edge list; no driver-side scalar needs it eagerly
    val buys = Barrier.lazily(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct())
    val be = maybeBroadcast(buys)
    def parts: DataFrame = Tables.part(spark, dir).select(col("p_partkey").as("pn"))
    def custs: DataFrame =
      Tables.customer(spark, dir).select(col("c_custkey").as("cn"))
    def renorm(df0: DataFrame, score: String): DataFrame = {
      // truncate lineage FIRST: the raw table is referenced twice (max
      // aggregate + the scaling join), and without truncation each
      // renorm would DOUBLE the plan — 2·rounds renorms = 2^(2·rounds)×
      // plan blowup, a driver-side scale-killer long before any data
      // moves (caught by the plan-shape golden gate). r15: the
      // truncation is LAZY — the max-aggregate's broadcast sub-job
      // doubles as the materializer, so the 4 renorms stop being 4
      // serial job barriers on the driver thread.
      val df = Barrier.lazily(df0, required = true)
      val mx = df.agg(max(col(score)).as("mx"))
      df.crossJoin(broadcast(mx))
        .select(df.columns.filter(_ != score).map(col) :+
          expr(s"($score * $HitsScale) div greatest(mx, 1)").as(score): _*)
    }
    val a0 = parts.select(col("pn"), lit(HitsScale).as("auth"))
    val fin = (1 to HitsRounds).foldLeft(a0) { (a, _) =>
      val hRaw = custs.join(
          a.join(be, a("pn") === be("p"))
            .groupBy(col("c")).agg(sum(col("auth")).as("hub")),
          col("cn") === col("c"), "left")
        .select(col("cn"), coalesce(col("hub"), lit(0L)).as("hub"))
      val h = renorm(hRaw, "hub")
      val aRaw = parts.join(
          h.join(be, h("cn") === be("c"))
            .groupBy(col("p")).agg(sum(col("hub")).as("auth")),
          col("pn") === col("p"), "left")
        .select(col("pn"), coalesce(col("auth"), lit(0L)).as("auth"))
      renorm(aRaw, "auth")
    }
    val deg = be.groupBy(col("p")).agg(count(lit(1)).as("n_buyers"))
    fin.join(deg, fin("pn") === deg("p"), "left")
      .select(col("pn").as("p_partkey"), col("auth").as("auth_u"),
        coalesce(col("n_buyers"), lit(0L)).as("n_buyers"))
  }

  val hitsSql: String = {
    val rounds = (1 to HitsRounds).map { r =>
      s"""hr$r AS (
         |  SELECT c.cn, CAST(coalesce(s.hub, 0) AS BIGINT) AS hub
         |  FROM custs c LEFT JOIN (
         |    SELECT e.c, sum(a.auth) AS hub
         |    FROM a${r - 1} a JOIN e ON a.pn = e.p GROUP BY 1
         |  ) s ON c.cn = s.c),
         |h$r AS (
         |  SELECT cn, CAST((hub * $HitsScale)
         |    // greatest((SELECT max(hub) FROM hr$r), 1) AS BIGINT) AS hub
         |  FROM hr$r),
         |ar$r AS (
         |  SELECT p.pn, CAST(coalesce(s.auth, 0) AS BIGINT) AS auth
         |  FROM parts p LEFT JOIN (
         |    SELECT e.p, sum(h.hub) AS auth
         |    FROM h$r h JOIN e ON h.cn = e.c GROUP BY 1
         |  ) s ON p.pn = s.p),
         |a$r AS (
         |  SELECT pn, CAST((auth * $HitsScale)
         |    // greatest((SELECT max(auth) FROM ar$r), 1) AS BIGINT) AS auth
         |  FROM ar$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |parts AS (SELECT p_partkey AS pn FROM part),
       |custs AS (SELECT c_custkey AS cn FROM customer),
       |a0 AS (SELECT pn, CAST($HitsScale AS BIGINT) AS auth FROM parts),
       |$rounds,
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS n_buyers FROM e GROUP BY 1)
       |SELECT a.pn AS p_partkey, a.auth AS auth_u,
       |       CAST(coalesce(d.n_buyers, 0) AS BIGINT) AS n_buyers
       |FROM a$HitsRounds a LEFT JOIN deg d ON a.pn = d.p""".stripMargin
  }

  // --------------------------------------------- q245 personalized PageRank

  /** Personalized PageRank (the random-walk-with-restart
    * recommendation primitive, Haveliwala 2002): q124's integer-mass
    * rounds with the teleport vector concentrated on ONE brand's
    * catalog instead of uniform — the walk restarts at the seed set,
    * so mass measures proximity TO THE BRAND through the co-purchase
    * graph, which is the "customers of this brand may also like"
    * ranking (the global-PR complement, and the graph-walk cousin of
    * q125's one-hop top-k). Same discipline as q124: damping 85/100,
    * floor-division shares, all dividends nonnegative — the K-round
    * fixpoint is bit-identical across engines.
    *
    * Scale shape: identical to q124 — per round ONE edge equi-join +
    * a map-side-combined sum over fixed-width (node, mass) rows; the
    * seed flag is a catalog-sized broadcast. */
  def pprBrand(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Barrier.eager(edges(spark, dir, minSupport = 2))
    val e = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
    val deg = e.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    def nodes: DataFrame = Tables.part(spark, dir)
      .select(col("p_partkey").as("n"),
        (col("p_brand") === BfsSeedBrand).cast("long").as("seed"))
    val be = maybeBroadcast(e)
    val mass0 = nodes.select(col("n"), col("seed"),
      (col("seed") * lit(PageRankInitMass)).as("mass"))
    (1 to PageRankIters).foldLeft(mass0) { (mass, _) =>
      val incoming = mass.join(deg, "n")
        .select(col("n"), expr("mass div deg").as("share"))
        .join(be, col("n") === be("u"))
        .groupBy(col("v")).agg(sum(col("share")).as("in_mass"))
      val nr = nodes
      nr.join(incoming, nr("n") === incoming("v"), "left")
        .select(nr("n"), nr("seed"),
          (col("seed") * lit(15L * PageRankInitMass / 100L)
            + expr("85 * coalesce(in_mass, 0L) div 100")).as("mass"))
    }.select(col("n").as("p_partkey"), col("seed"), col("mass"))
  }

  val pprBrandSql: String = {
    val base = 15L * PageRankInitMass / 100L
    val rounds = (1 to PageRankIters).map { r =>
      s"""m$r AS (
         |  SELECT nd.n, nd.seed,
         |         nd.seed * $base + 85 * coalesce(i.in_mass, 0) // 100 AS mass
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.v, CAST(sum(m.mass // d.deg) AS BIGINT) AS in_mass
         |    FROM m${r - 1} m JOIN deg d ON m.n = d.n JOIN e ON e.u = m.n
         |    GROUP BY 1) i ON i.v = nd.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(2)},
       |e AS (SELECT pa AS u, pb AS v FROM e0
       |      UNION ALL SELECT pb AS u, pa AS v FROM e0),
       |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |nodes AS (SELECT p_partkey AS n,
       |                 CAST(CASE WHEN p_brand = '$BfsSeedBrand' THEN 1 ELSE 0 END
       |                      AS BIGINT) AS seed
       |          FROM part),
       |m0 AS (SELECT n, seed, seed * $PageRankInitMass AS mass FROM nodes),
       |$rounds
       |SELECT n AS p_partkey, seed, CAST(mass AS BIGINT) AS mass
       |FROM m$PageRankIters""".stripMargin
  }

  // ------------------------------------------------- q229 link prediction

  /** Hub cap for wedge generation: common neighbors of degree above
    * this are excluded from candidate generation. A hub contributes
    * C(deg, 2) wedges but near-zero resource-allocation mass (1/deg),
    * so dropping it bounds per-node fanout at C(cap, 2) — the standard
    * estimator trade-off that keeps the wedge volume linear-ish in the
    * edge count instead of Σ deg² on a power-law graph. Applied
    * identically in the oracle, so the compare stays exact. */
  val LinkPredHubCap = 64L

  /** Minimum common-neighbor count for an emitted candidate — bounds
    * the output ledger to structurally supported predictions. */
  val LinkPredMinCn = 2L

  /** Link prediction on the co-purchase graph (Liben-Nowell & Kleinberg
    * 2003): for every non-adjacent part pair at distance 2, the three
    * classic neighborhood scores — common-neighbor count, Jaccard of
    * the neighbor sets, and the resource-allocation index Σ_z 1/deg(z)
    * (Zhou et al. 2009, the log-free cousin of Adamic-Adar) — the
    * "customers who bought X may also buy Y" candidate generator
    * upstream of q125's observed top-k.
    *
    * Exactness: RA carried as Σ (10⁶ div deg_z) — every divisor is a
    * positive degree, so trunc-`div` and floor-`//` agree; Jaccard in
    * ppm with denominator |Γa ∪ Γb| = deg_a + deg_b − cn ≥ 1.
    *
    * Scale shape: wedges stream through ONE self-join of the symmetric
    * edge list keyed on the shared neighbor z (fanout per z capped at
    * C([[LinkPredHubCap]], 2)), fold to (a, b) with a map-side-combined
    * count/sum, then one anti-join removes existing edges and two
    * broadcast-sized degree joins attach the margins. Nothing wider
    * than three ids and two longs ever shuffles. */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame =
    linkPredictionOf(Barrier.eager(edges(spark, dir, minSupport = 2)))

  /** The scoring core on an explicit canonical (pa < pb) edge list —
    * exposed for planted-graph specs. */
  def linkPredictionOf(e: DataFrame): DataFrame = {
    val sym = e.select(col("pa").as("z"), col("pb").as("x"))
      .unionAll(e.select(col("pb").as("z"), col("pa").as("x")))
    val deg = sym.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val viaZ = sym.join(maybeBroadcast(deg.filter(col("deg") <= LinkPredHubCap)), "z")
    val wedges = viaZ.as("l").join(viaZ.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .select(col("l.x").as("pa"), col("r.x").as("pb"), col("l.deg").as("deg_z"))
    val cand = wedges.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div deg_z")).as("ra_ppm"))
      .filter(col("cn") >= LinkPredMinCn)
      .join(e, Seq("pa", "pb"), "left_anti")
    cand
      .join(maybeBroadcast(deg.select(col("z").as("pa"), col("deg").as("deg_a"))), "pa")
      .join(maybeBroadcast(deg.select(col("z").as("pb"), col("deg").as("deg_b"))), "pb")
      .select(col("pa"), col("pb"), col("cn"), col("ra_ppm"),
        expr("cn * 1000000 div (deg_a + deg_b - cn)").as("jaccard_ppm"))
  }

  val linkPredictionSql: String =
    s"""WITH ${edgesSql(2)},
       |sym AS (SELECT pa AS z, pb AS x FROM e0
       |        UNION ALL SELECT pb AS z, pa AS x FROM e0),
       |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |viaz AS (SELECT s.z, s.x, d.deg FROM sym s JOIN deg d USING (z)
       |         WHERE d.deg <= $LinkPredHubCap),
       |cand AS (
       |  SELECT l.x AS pa, r.x AS pb, CAST(count(*) AS BIGINT) AS cn,
       |         CAST(sum(1000000 // l.deg) AS BIGINT) AS ra_ppm
       |  FROM viaz l JOIN viaz r ON l.z = r.z AND l.x < r.x
       |  GROUP BY 1, 2 HAVING count(*) >= $LinkPredMinCn)
       |SELECT c.pa, c.pb, c.cn, c.ra_ppm,
       |       CAST(c.cn * 1000000 // (da.deg + db.deg - c.cn) AS BIGINT) AS jaccard_ppm
       |FROM cand c
       |JOIN deg da ON da.z = c.pa
       |JOIN deg db ON db.z = c.pb
       |WHERE NOT EXISTS (SELECT 1 FROM e0 e
       |                  WHERE e.pa = c.pa AND e.pb = c.pb)""".stripMargin
}

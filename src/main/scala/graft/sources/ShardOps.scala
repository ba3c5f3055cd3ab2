package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Rendezvous (highest-random-weight) sharding — the stable routing
  * layer under every stateful service this engine feeds at scale: ANN
  * index shards, streaming state stores, per-domain cap partitions,
  * bucketed layouts. When a shard is added, mod-hashing reassigns
  * ~k/(k+1) of all keys (every cached/bucketed byte moves); HRW
  * (Thaler & Ravishankar 1998 — the algorithm under consistent routing
  * in Cassandra/Riak-style systems) reassigns exactly the 1/(k+1)
  * share the new shard must absorb, and nothing else.
  *
  * [[shardRebalance]] (q228) measures that claim as a ledger: every
  * document is routed under both schemes at k = [[ShardsBefore]] and
  * k = [[ShardsAfter]], and the output carries per-shard placement and
  * moved-key counts plus a global rollup row per scheme — the data a
  * resharding runbook actually consults (how much moves, and is the
  * new placement balanced).
  *
  * Determinism: the per-(key, shard) weight is the q128 two-step
  * multiply-mod hash (all intermediates < 2.7e18, ANSI-safe, bit-equal
  * in DuckDB); argmax ties break to the smallest shard id via an
  * explicit CASE ladder, identical in both engines. The whole audit is
  * one narrow codegen'd map (9 inline hash expressions per row) + one
  * tiny keyed rollup — no shuffle wider than the 20-row ledger.
  */
object ShardOps {

  /** Shard count before the rebalance. */
  val ShardsBefore = 8
  /** Shard count after adding one shard. */
  val ShardsAfter = 9

  // q128's mixing constants — shared so the hash stays a single
  // engine-wide convention (GraphOps.TriSample*).
  private val P1 = 1000003L
  private val P2 = 2654435761L
  private val M  = 1000000007L

  /** Integer weight of (key, shard): ((key mod M)·P1 + s) mod M · P2
    * mod M. Key is reduced mod M FIRST so the product stays < ~1e15 at
    * any key magnitude (doc ids at 100 TB exceed 1e12). */
  private def weight(key: Column, s: Int): Column = {
    val h1 = pmod(pmod(key, lit(M)) * lit(P1) + lit(s.toLong), lit(M))
    pmod(h1 * lit(P2), lit(M))
  }

  private def weightSql(key: String, s: Int): String =
    s"((($key % $M) * $P1 + $s) % $M * $P2) % $M"

  /** argmax over h0..h(k-1), ties to the smallest shard id. */
  private def argmaxShard(k: Int): Column = {
    val hmax = greatest((0 until k).map(s => col(s"h$s")): _*)
    (0 until k).foldLeft(when(lit(false), lit(0L))) { (acc, s) =>
      acc.when(col(s"h$s") === hmax, lit(s.toLong))
    }
  }

  private def argmaxShardSql(k: Int): String = {
    val hmax = (0 until k).map(s => s"h$s").mkString("greatest(", ", ", ")")
    (0 until k).map(s => s"WHEN h$s = $hmax THEN $s")
      .mkString("CASE ", " ", " END")
  }

  /** q228: the resharding-impact ledger. Output: one row per
    * (scheme, shard-at-k9) with placement count and moved-key count,
    * plus a shard = -1 global rollup per scheme. */
  def shardRebalance(spark: SparkSession, dir: String): DataFrame = {
    val hs = (0 until ShardsAfter).map(s =>
      weight(col("doc_id"), s).as(s"h$s"))
    val routed = Tables.documents(spark, dir)
      .select(col("doc_id") +: hs: _*)
      .withColumn("hrw_before", argmaxShard(ShardsBefore))
      .withColumn("hrw_after", argmaxShard(ShardsAfter))
      .withColumn("mod_before", pmod(col("h0"), lit(ShardsBefore.toLong)))
      .withColumn("mod_after", pmod(col("h0"), lit(ShardsAfter.toLong)))
    val long = routed.select(lit("hrw").as("scheme"),
        col("hrw_after").as("shard"),
        (col("hrw_after") =!= col("hrw_before")).cast("long").as("moved"))
      .unionAll(routed.select(lit("mod").as("scheme"),
        col("mod_after").as("shard"),
        (col("mod_after") =!= col("mod_before")).cast("long").as("moved")))
    val perShard = long.groupBy(col("scheme"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("moved")).as("n_moved"))
    val global = long.groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_docs"), sum(col("moved")).as("n_moved"))
      .select(col("scheme"), lit(-1L).as("shard"), col("n_docs"), col("n_moved"))
    perShard.unionAll(global)
      .withColumn("moved_ppm", expr("(n_moved * 1000000) div n_docs"))
  }

  val shardRebalanceSql: String = {
    val hs = (0 until ShardsAfter)
      .map(s => s"${weightSql("doc_id", s)} AS h$s").mkString(",\n         ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |         $hs
       |  FROM documents),
       |routed AS (
       |  SELECT doc_id,
       |         ${argmaxShardSql(ShardsBefore)} AS hrw_before,
       |         ${argmaxShardSql(ShardsAfter)} AS hrw_after,
       |         h0 % $ShardsBefore AS mod_before,
       |         h0 % $ShardsAfter AS mod_after
       |  FROM h),
       |long AS (
       |  SELECT 'hrw' AS scheme, CAST(hrw_after AS BIGINT) AS shard,
       |         CASE WHEN hrw_after != hrw_before THEN 1 ELSE 0 END AS moved
       |  FROM routed
       |  UNION ALL
       |  SELECT 'mod' AS scheme, CAST(mod_after AS BIGINT) AS shard,
       |         CASE WHEN mod_after != mod_before THEN 1 ELSE 0 END AS moved
       |  FROM routed),
       |per_shard AS (
       |  SELECT scheme, shard, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(moved) AS BIGINT) AS n_moved
       |  FROM long GROUP BY 1, 2),
       |tot AS (
       |  SELECT scheme, CAST(-1 AS BIGINT) AS shard,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(moved) AS BIGINT) AS n_moved
       |  FROM long GROUP BY 1),
       |u AS (SELECT * FROM per_shard UNION ALL SELECT * FROM tot)
       |SELECT scheme, shard, n_docs, n_moved,
       |       (n_moved * 1000000) // n_docs AS moved_ppm
       |FROM u""".stripMargin
  }

  // ------------------------------------------ q244 cluster-aware sharding

  /** Self-contained HRW placement of `key` over `k` shards (argmax of
    * the per-shard weights, ties to the smallest id) — exposed so
    * routing composes with other operators. */
  def hrwShard(key: Column, k: Int): Column = {
    val hs = (0 until k).map(s => weight(key, s))
    val hmax = greatest(hs: _*)
    (0 until k).foldLeft(when(lit(false), lit(0L))) { (acc, s) =>
      acc.when(hs(s) === hmax, lit(s.toLong))
    }
  }

  def hrwShardSql(key: String, k: Int): String = {
    val hmax = (0 until k).map(s => weightSql(key, s))
      .mkString("greatest(", ", ", ")")
    (0 until k).map(s => s"WHEN ${weightSql(key, s)} = $hmax THEN $s")
      .mkString("CASE ", " ", " END")
  }

  /** Dedup-cluster-aware sharding (q244): near-dup clusters (q134's
    * star-CC map, singletons labeling themselves) route ATOMICALLY —
    * the shard key is the cluster REP's HRW placement, so every
    * duplicate family lands on one shard and shard-local dedup is
    * globally complete (the same atomicity argument as q168's
    * leakage-safe split, applied to placement instead of train/eval).
    * The ledger compares rep-keyed routing against naive doc-keyed
    * routing: per (scheme, shard) — docs, clusters, largest cluster,
    * and the count of clusters the scheme SPLIT across shards
    * (structurally 0 for the rep scheme; the doc scheme's nonzero
    * column is the quantified cost of ignoring cluster atomicity).
    *
    * Scale shape: the cluster map costs O(log n) star rounds over
    * verified pairs only; routing is a narrow map; the ledger is a
    * (scheme, rep, shard) rollup — cluster-count sized, then
    * shard-count sized. */
  def clusterShards(spark: SparkSession, dir: String): DataFrame = {
    val clusters = graft.dedup.DedupOps.dedupClustersStar(spark, dir)
    val full = Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("rep_id")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("rep_id"), col("doc_id")).as("rep"))
    val routed = full.select(col("doc_id"), col("rep"),
      hrwShard(col("rep"), ShardsBefore).as("shard_rep"),
      hrwShard(col("doc_id"), ShardsBefore).as("shard_doc"))
    val long = routed.select(lit("rep").as("scheme"), col("rep"),
        col("shard_rep").as("shard"))
      .unionAll(routed.select(lit("doc").as("scheme"), col("rep"),
        col("shard_doc").as("shard")))
    val clShard = long.groupBy(col("scheme"), col("rep"), col("shard"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.plans.Barrier.eager(_))
    val clSpan = clShard.groupBy(col("scheme"), col("rep"))
      .agg(count(lit(1)).as("n_shards"))
    clShard.join(clSpan, Seq("scheme", "rep"))
      .groupBy(col("scheme"), col("shard"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        max(col("n")).as("max_cluster"),
        sum(when(col("n_shards") > 1, 1L).otherwise(0L)).as("n_split"))
  }

  val clusterShardsSql: String = {
    s"""WITH RECURSIVE lshpairs AS MATERIALIZED (${graft.dedup.DedupOps.minhashLshSql}),
       |cedges AS MATERIALIZED (SELECT d1, d2 FROM lshpairs UNION ALL SELECT d2, d1 FROM lshpairs),
       |cnodes AS (SELECT DISTINCT d1 AS node FROM cedges),
       |reach(src, node) AS (
       |  SELECT node, node FROM cnodes
       |  UNION
       |  SELECT r.src, e.d2 FROM reach r JOIN cedges e ON r.node = e.d1),
       |cmap AS (SELECT src AS doc_id, min(node) AS rep_id FROM reach GROUP BY 1),
       |full0 AS (
       |  SELECT d.doc_id, coalesce(c.rep_id, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN cmap c ON c.doc_id = d.doc_id),
       |routed AS (
       |  SELECT doc_id, rep,
       |         ${hrwShardSql("rep", ShardsBefore)} AS shard_rep,
       |         ${hrwShardSql("doc_id", ShardsBefore)} AS shard_doc
       |  FROM full0),
       |lng AS (
       |  SELECT 'rep' AS scheme, rep, CAST(shard_rep AS BIGINT) AS shard FROM routed
       |  UNION ALL
       |  SELECT 'doc' AS scheme, rep, CAST(shard_doc AS BIGINT) AS shard FROM routed),
       |clshard AS (
       |  SELECT scheme, rep, shard, CAST(count(*) AS BIGINT) AS n
       |  FROM lng GROUP BY 1, 2, 3),
       |clspan AS (
       |  SELECT scheme, rep, CAST(count(*) AS BIGINT) AS n_shards
       |  FROM clshard GROUP BY 1, 2)
       |SELECT cs.scheme, cs.shard,
       |       CAST(sum(cs.n) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(max(cs.n) AS BIGINT) AS max_cluster,
       |       CAST(sum(CASE WHEN sp.n_shards > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split
       |FROM clshard cs JOIN clspan sp
       |  ON sp.scheme = cs.scheme AND sp.rep = cs.rep
       |GROUP BY 1, 2""".stripMargin
  }
}

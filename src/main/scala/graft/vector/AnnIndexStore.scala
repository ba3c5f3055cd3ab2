package graft.vector

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Persisted ANN index serving (q256 IVF / q257 graph — r13 verdict
  * ask #2). q81/q252/q253 rebuild their index inside every query
  * invocation; at 100 TB the BUILD is a scheduled job and the SEARCH
  * is a lookup against its output. This module splits the two:
  *
  *  - `build*` runs the existing trained pipeline once and PERSISTS
  *    the index artifacts: the IVF's centroid table (nlist × Dim
  *    doubles — a catalog-sized artifact) plus the corpus with its
  *    cell assignment stored BUCKETED BY CELL (so the probe-cell
  *    equi-join needs no corpus shuffle ever again); the graph's
  *    (src, dst) edge list plus the (vec_id, v, nrm) corpus.
  *  - `search*` reads ONLY those artifacts: no Lloyd iterations, no
  *    NN-Descent rounds, no assignment pass — the cost every query
  *    batch actually pays in a serving pipeline.
  *
  * Build-once/search-N semantics: the first invocation per corpus dir
  * builds and registers the artifacts; subsequent invocations (bench
  * passes 2..N, later query batches) hit the standing tables —
  * [[buildsRun]] counts real builds so the spec can pin that N
  * searches trigger exactly one build. Search output is EXACTLY the
  * rebuild-every-time query's output (same candidate structure, same
  * rounding, same tie-breaks), so q256/q257 share q81/q252's oracles:
  * the oracle re-derives train + index + search from the raw parquet
  * and any drift between the stored index and a fresh build is a hash
  * mismatch. */
object AnnIndexStore {

  import VectorOps.{Dim, IvfTK, KLsh, NProbeTrained, NswBeam,
    NswBuildRounds, NswM, NswSearchRounds, QueryMax}

  private val runTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Buckets for the cell-keyed corpus table (Bucketing convention). */
  val CellBuckets = 16

  /** Real builds executed this JVM (spec hook for build-once). */
  @volatile var buildsRun: Long = 0L

  private final case class IvfState(cents: Seq[Seq[Double]], cellsTable: String)
  private val ivfCache = new ConcurrentHashMap[String, IvfState]()
  private val graphCache = new ConcurrentHashMap[String, (String, String)]()

  /** Test hook: drop the in-JVM index registry so a spec can observe a
    * cold build deterministically (other suites constructing every
    * query warm the caches first). The persisted tables are
    * overwritten by the next build. */
  private[vector] def devReset(): Unit = { ivfCache.clear(); graphCache.clear() }

  private def vecsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  // ------------------------------------------------------------ q256 IVF

  /** Build the trained-IVF index once for `dir`: Lloyd centroids (the
    * exact q81 training), then the corpus assigned and stored bucketed
    * by cell. */
  private def buildIvf(spark: SparkSession, dir: String): IvfState = {
    buildsRun += 1
    val base = vecsOf(spark, dir)
    val (cents, _) = VectorOps.lloydFit(base, IvfTK)
    val dists = array(cents.map { cv =>
      val cc = cv.map(x => x * x).sum
      lit(cc) - lit(2.0) * VectorOps.dotCol(col("v"), typedLit(cv))
    }: _*)
    val t = s"graft_q256_cells_${runTag}_${math.abs(dir.hashCode)}"
    base
      .withColumn("d", dists)
      .withColumn("cell", array_position(col("d"), array_min(col("d"))))
      .withColumn("nrm", sqrt(VectorOps.dotCol(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .repartition(CellBuckets, col("cell"))
      .write.bucketBy(CellBuckets, "cell").sortBy("cell", "vec_id")
      .mode("overwrite").saveAsTable(t)
    IvfState(cents, t)
  }

  /** q256: search the PERSISTED trained-IVF index — centroid table +
    * cell-bucketed corpus; the query batch computes its probe cells
    * from the stored centroids and rank-joins candidates from its
    * probed cells only. Output ≡ q81; oracle = q81's (full re-derive). */
  def annIvfServe(spark: SparkSession, dir: String): DataFrame = {
    val st = ivfCache.computeIfAbsent(dir, d => buildIvf(spark, d))
    val e = spark.table(st.cellsTable)
    val dists = array(st.cents.map { cv =>
      val cc = cv.map(x => x * x).sum
      lit(cc) - lit(2.0) * VectorOps.dotCol(col("v"), typedLit(cv))
    }: _*)
    val q = broadcast(e.filter(col("vec_id") < QueryMax)
      .withColumn("d", dists)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(VectorOps.topCellsCol(col("d"), NProbeTrained, IvfTK,
          ascending = true)).as("cell")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cos_sim"), col("neighbor_id"))
    q.join(e.select(col("vec_id"), col("v"), col("nrm"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(
        VectorOps.dotCol(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KLsh)
  }

  // ---------------------------------------------------------- q257 graph

  /** Build the NSW graph once for `dir`: the exact q252 distributed
    * build (NN-Descent refine + expander init, rev-cap symmetrized),
    * persisted as an (src, dst) edge table beside the (vec_id, v, nrm)
    * corpus table. */
  private def buildGraph(spark: SparkSession, dir: String): (String, String) = {
    buildsRun += 1
    val e = vecsOf(spark, dir)
      .withColumn("nrm", sqrt(VectorOps.dotCol(col("v"), col("v"))))
      .transform(graft.plans.Barrier.eager(_))
    val (gT, eT) = (
      s"graft_q257_edges_${runTag}_${math.abs(dir.hashCode)}",
      s"graft_q257_vecs_${runTag}_${math.abs(dir.hashCode)}")
    // independent artifacts off the same checkpointed corpus — overlap
    // the NN-Descent build+write with the corpus write (guide §2.6)
    graft.plans.Par.all(Seq(
      () => VectorOps.nswGraph(e, NswM, NswBuildRounds)
        .write.mode("overwrite").saveAsTable(gT),
      () => e.write.mode("overwrite").saveAsTable(eT)))
    (gT, eT)
  }

  /** q257: beam-walk the PERSISTED graph — no build rounds; every
    * invocation after the first pays only the bounded-beam walk.
    * Output ≡ q252 (the kernel/distributed parity contract makes the
    * stored-edge walk bit-identical); oracle = q252's. */
  def annGraphServe(spark: SparkSession, dir: String): DataFrame = {
    val (gT, eT) = graphCache.computeIfAbsent(dir, d => buildGraph(spark, d))
    VectorOps.nswWalk(spark, spark.table(gT), spark.table(eT),
      NswBeam, NswSearchRounds)
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: the VectorRecallSpec planted-cluster corpus at arbitrary
  * size — 10 clusters interleaved by vec_id % 10, center entries ±1/8
  * by a splitmix-style hash, member = center + U[-0.08, 0.08] noise
  * (within-cluster cos ≈ 0.9, cross ≈ 0). The CLUSTERED retrieval
  * geometry for the 100× graph-ANN gate — real corpora with this
  * shape are where graph indexes earn their keep; the organic corpus
  * (isotropic noise + a chance tail) is where NO sub-quadratic index
  * can beat its scan fraction (PERF.md, round 12).
  * A third mode, `lowdim`, generates the LOW-INTRINSIC-DIMENSION
  * geometry real embedding models produce (text/image encoders emit
  * vectors near a low-dim manifold): v = normalize(A·z + ε) with z a
  * 6-dim latent Gaussian, A a fixed 64×6 mixing matrix, ε small
  * ambient noise. Cosine similarity then has a smooth gradient in the
  * latent space — the published condition under which NN-Descent
  * converges and graph search navigates (Dong et al. WWW'11 §5; HNSW
  * likewise) — and true top-3 neighbors are genuinely separated from
  * the bulk, unlike the organic corpus's max-of-64-dim-noise ties.
  * Usage: runMain graft.tools.GenPlanted <outDir> <nVecs> [clusters|lowdim] */
object GenPlanted extends Serializable {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def u01(z: Long): Double = (mix(z) >>> 11).toDouble / (1L << 53).toDouble
  /** Standard normal via Box–Muller over two hash draws. */
  def gauss(z: Long): Double = {
    val u1 = math.max(u01(z * 2 + 1), 1e-12)
    val u2 = u01(z * 2 + 2)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  val LatentDim = 6
  val AmbientNoise = 0.05

  /** Bump on ANY change to the lowdim generator (latent dim, mixing
    * matrix, noise, hash) — consumers key their on-disk caches on this
    * so a stale corpus can't silently change what a gate measures. */
  val LowdimVersion = 1

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("/tmp/planted200k")
    val n = args.lift(1).map(_.toInt).getOrElse(200000)
    val mode = args.lift(2).getOrElse("clusters")
    val spark = graft.Session()
    build(spark, out, n, mode)
    spark.stop()
  }

  def build(spark: SparkSession, out: String, n: Int, mode: String): Unit = {
    import spark.implicits._
    val dim = graft.vector.VectorOps.Dim
    // fixed 64×LatentDim mixing matrix, hash-derived, broadcast-free
    // (tiny constant recomputed per partition)
    def mixMat(): Array[Array[Double]] =
      Array.tabulate(dim, LatentDim)((d, k) => gauss(d * 101L + k * 7919L + 5))
    val rows = mode match {
      case "lowdim" => spark.range(0, n.toLong, 1, 32).map { id =>
        val a = mixMat()
        val z = Array.tabulate(LatentDim)(k => gauss(id * 131071L + k))
        val v = Array.tabulate(dim) { d =>
          var s = 0.0; var k = 0
          while (k < LatentDim) { s += a(d)(k) * z(k); k += 1 }
          s / math.sqrt(LatentDim.toDouble) + AmbientNoise * gauss(id * 524287L + d + 7)
        }
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(x => (x / nrm).toFloat), (id % 10).toInt)
      }
      case _ => spark.range(0, n.toLong, 1, 32).map { id =>
        val c = (id % 10).toInt
        val v = Array.tabulate(dim) { d =>
          val center = if (mix(c * 1000003L + d) % 2 == 0) 0.125 else -0.125
          val noise = (u01(id * 131071L + d) - 0.5) * 0.16
          (center + noise).toFloat
        }
        (id, v, c)
      }
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[genplanted] wrote $out/embeddings.parquet n=$n mode=$mode")
  }
}

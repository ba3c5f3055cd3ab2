package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.SparkTestSession
import graft.plans.Barrier

/** Materialization barriers must be a pure performance choice, never
  * load-bearing for correctness: the default `localCheckpoint` path,
  * the lineage-only path (`graft.materialize=off`) and the
  * fault-tolerant reliable-`checkpoint` path (`graft.materialize=reliable`)
  * must produce identical rows for every SparkEntry query. */
class MaterializeModesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"
  private val names = graft.SparkEntry.queries.keys.toSeq.sorted
  // the multi-self-join dedup queries that lean on the barriers hardest
  private val dedupHeavy = Seq("q21_minhash_lsh", "q72_dedup_clusters", "q98_consensus_neardup")

  private def withMode[A](mode: String)(body: => A): A = {
    val saved = spark.conf.getOption(Barrier.Conf)
    spark.conf.set(Barrier.Conf, mode)
    try body finally saved match {
      case Some(v) => spark.conf.set(Barrier.Conf, v)
      case None    => spark.conf.unset(Barrier.Conf)
    }
  }

  /** A query's row set, or its error; barrier blocks are released
    * between queries the way the runners do. */
  private def rows(name: String): Either[String, Set[String]] =
    try Right(graft.SparkEntry.queries(name)(spark, dir)
      .collect().map(_.mkString("|")).toSet)
    catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    finally Barrier.releaseAll(spark)

  private lazy val local: Map[String, Either[String, Set[String]]] =
    withMode("local")(names.map(n => n -> rows(n)).toMap)

  /** Every query whose rows under `mode` differ from `local`. */
  private def diverged(mode: String): Seq[String] = withMode(mode) {
    names.flatMap { n =>
      (local(n), rows(n)) match {
        case (Right(a), Right(b)) if a == b => None
        case (Right(a), Right(b)) =>
          Some(s"$n: ${(a -- b).size} rows only under local, ${(b -- a).size} only under $mode")
        case (l, got) => Some(s"$n: local=${l.left.getOrElse("ok")} $mode=${got.left.getOrElse("ok")}")
      }
    }
  }

  test("every query runs under the default local barriers") {
    val failed = names.filter(n => local(n).isLeft).map(n => s"$n: ${local(n).left.getOrElse("")}")
    assert(failed.isEmpty, failed.mkString("\n"))
    for (n <- dedupHeavy) assert(local(n).exists(_.nonEmpty), s"$n returned nothing")
  }

  test("lineage-only path (off) matches local on every query") {
    val bad = diverged("off")
    assert(bad.isEmpty, s"${bad.size} queries diverged under off:\n" + bad.mkString("\n"))
  }

  test("reliable checkpoint path matches the localCheckpoint default") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    graft.sources.TempDirs.deleteOnExit(ckpt)
    val saved = Option(spark.sparkContext.getCheckpointDir).flatten
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      val bad = diverged("reliable")
      assert(bad.isEmpty, s"${bad.size} queries diverged under reliable:\n" + bad.mkString("\n"))
    } finally saved.foreach(spark.sparkContext.setCheckpointDir)
  }
}

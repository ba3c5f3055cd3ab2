package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.SparkTestSession

/** Every session in graft comes from [[Session]], with the same confs. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("the test session is local[4], 4 partitions, UTC, UI off, with a checkpoint dir") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Session.CodegenCacheEntries.toString)
    val ckpt = spark.sparkContext.getCheckpointDir
    assert(ckpt.exists(_.contains(sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR", "/tmp/graft_ckpt"))),
      ckpt)
  }

  test("k=v overrides come last and win; a malformed one throws, naming it") {
    val c = Session.confs(4, Seq("spark.master=local[2]", "graft.materialize = reliable"))
    assert(c("spark.master") === "local[2]")
    assert(c("graft.materialize") === "reliable")
    assert(c("spark.sql.shuffle.partitions") === "4")
    assert(c("spark.sql.session.timeZone") === "UTC")
    for (bad <- Seq("graft.materialize", "=off")) {
      val e = intercept[IllegalArgumentException](Session.builder(4, Seq(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("overrides are set on the builder: a new session starts with them") {
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    spark // the shared context exists first, as in every test JVM
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try Session.builder(4, Seq("graft.materialize=reliable")).getOrCreate()
      finally {
        active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      }
    assert(s ne spark)
    assert(s.conf.get("graft.materialize") === "reliable")
    assert(!spark.conf.getOption("graft.materialize").contains("reliable"))
  }

  test("no session is built outside graft/Session.scala") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val session = Paths.get("src/main/scala/graft/Session.scala")
    val files: Seq[Path] = {
      val s = Files.walk(Paths.get("src"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    // spelled in pieces so this file does not match itself
    val pattern = "SparkSession" + ".builder"
    val raw = for {
      f <- files if f != session
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if line.contains(pattern)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(raw.isEmpty, "session built outside graft.Session:\n" + raw.mkString("\n"))
  }
}

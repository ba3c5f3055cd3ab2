package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.etl.SparkTestSession

/** `graft.materialize` modes, the loop rule and `Barrier.release`. */
class BarrierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def withMode[A](mode: String)(body: => A): A = {
    val saved = spark.conf.getOption(Barrier.Conf)
    spark.conf.set(Barrier.Conf, mode)
    try body finally saved match {
      case Some(v) => spark.conf.set(Barrier.Conf, v)
      case None    => spark.conf.unset(Barrier.Conf)
    }
  }

  private def isBarrier(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  test("a bad graft.materialize value is rejected, naming the key and the modes") {
    val df = spark.range(3).toDF("x")
    for (bad <- Seq("relaible", "LOCAL", "")) withMode(bad) {
      val e = intercept[IllegalArgumentException](Barrier.eager(df))
      assert(e.getMessage.contains(Barrier.Conf) &&
        e.getMessage.contains("local | reliable | off") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
      intercept[IllegalArgumentException](Barrier.lazily(df, required = true))
      // the dedup operators fail the same way instead of silently
      // running the non-fault-tolerant path
      intercept[IllegalArgumentException](graft.dedup.DedupOps.starComponents(
        spark.range(2).selectExpr("id AS d1", "id + 1 AS d2")))
    }
  }

  test("off drops sharing barriers and keeps required ones, as local") {
    val df = spark.range(5).toDF("x")
    val kept = withMode("off") {
      assert(Barrier.eager(df) eq df)
      assert(Barrier.lazily(df) eq df)
      Seq(Barrier.eager(df, required = true), Barrier.lazily(df, required = true))
    } ++ withMode("local")(Seq(Barrier.eager(df), Barrier.lazily(df)))
    assert(kept.forall(isBarrier))
    kept.foreach(Barrier.release)
  }

  test("release drops one barrier's blocks and never an upstream barrier's") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val b = Barrier.eager(spark.range(100).toDF("x"))
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size === 1)
    // a frame built on the barrier is not itself a barrier: no-op
    Barrier.release(b.filter("x > 3"))
    assert(sc.getPersistentRDDs.keySet === before ++ added)
    Barrier.release(b)
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("starComponents' persisted footprint does not grow with its round count") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a path 1-2-…-n: star contraction needs more rounds as n grows
    def run(n: Long): (Int, Int) = {
      val before = sc.getPersistentRDDs.keySet
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("d1", "d2")
      val (map, rounds) = graft.dedup.DedupOps.starComponents(pairs)
      assert(map.count() === n)
      assert(map.filter($"rep_id" =!= 1L).isEmpty, "path is one component")
      val added = sc.getPersistentRDDs.keySet -- before
      added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
      (rounds, added.size)
    }
    withMode("local") {
      val (shortRounds, shortKept) = run(4)
      val (longRounds, longKept) = run(256)
      assert(longRounds >= 6 && longRounds > shortRounds,
        s"chain too short to exercise the loop: $longRounds rounds")
      // the node set and the final edge set; every other round's
      // blocks were released once the round's count had read them
      assert(longKept === shortKept, s"$longRounds rounds kept $longKept RDDs")
      assert(longKept <= 2)
    }
  }

  /** WARN-and-above lines logged while `body` runs, as `logger: message`. */
  private def warnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-barrier-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
    }
    lines.toArray(Array.empty[String]).toSeq
  }

  test("releasing local barriers logs no 'locally checkpointed' WARN; other WARNs still log") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val sc = spark.sparkContext
    val logged = warnings(withMode("local") {
      val before = sc.getPersistentRDDs.keySet
      Barrier.release(Barrier.eager(spark.range(10).toDF("x")))
      Barrier.eager(spark.range(20).toDF("x"))
      Barrier.lazily(spark.range(30).toDF("x")).count()
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size === 2 && added.forall(id => sc.getPersistentRDDs(id).isCheckpointed))
      Barrier.releaseAll(spark, blocking = true)
      // a Spark WARN from another logger, and one from an RDD class
      spark.range(3).withColumn("r", row_number().over(Window.orderBy("id"))).collect()
      org.apache.logging.log4j.LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
        .warn("graft-barrier-spec: another RDD warning")
    })
    assert(!logged.exists(_.contains("was locally checkpointed")), logged.mkString("\n"))
    assert(logged.exists(l => l.contains("WindowExec") && l.contains("No Partition Defined")),
      logged.mkString("\n"))
    assert(logged.contains("org.apache.spark.rdd.MapPartitionsRDD: graft-barrier-spec: another RDD warning"),
      logged.mkString("\n"))
  }

  test("only Barrier checkpoints, and the retired confs are gone from src/") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val barrier = Paths.get("src/main/scala/graft/plans/Barrier.scala")
    val raw = for {
      f <- scalaFiles("src/main/scala") if f != barrier
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(raw.isEmpty, "checkpoint outside Barrier:\n" + raw.mkString("\n"))
    // spelled in pieces so this file does not match itself
    val retired = Seq("graft.dedup.eager" + "Materialize",
      "graft.dedup.materialize" + "Mode", "graft.graph.eager" + "Materialize")
    val stale = for {
      f <- scalaFiles("src")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      k <- retired if line.contains(k)
    } yield s"$f:${i + 1}: $k"
    assert(stale.isEmpty, "retired conf key:\n" + stale.mkString("\n"))
  }
}

package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.etl.SparkTestSession

/** Physical-plan shape extraction shared by the golden gate and its
  * regenerator: per query, the operator counts that define the plan's
  * scale behavior — shuffle exchanges, broadcast exchanges, and join
  * strategy mix. Counted from the pre-execution explain text (the AQE
  * initial plan — deterministic for fixed confs and testdata). */
object PlanShape {
  val GoldenPath = "src/test/resources/plan_golden.tsv"
  val Metrics = Seq("shuffles", "broadcasts", "smj", "bhj", "shj", "bnlj", "cartesian")

  def shape(spark: SparkSession, dir: String): Seq[(String, Seq[Int])] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // streaming queries execute on construction (Inspect skips them too)
      // and their batch twins already gate the shared stage plans
      if (name.contains("_stream_")) None
      else {
        val plan = fn(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.SimpleMode)
        def count(pat: String): Int = pat.r.findAllIn(plan).length
        Some(name -> Seq(
          count("(?<!Broadcast)Exchange "),
          count("BroadcastExchange"),
          count("SortMergeJoin"),
          count("BroadcastHashJoin"),
          count("ShuffledHashJoin"),
          count("BroadcastNestedLoopJoin"),
          count("CartesianProduct")))
      }
    }

  def format(rows: Seq[(String, Seq[Int])]): String =
    (s"query\t${Metrics.mkString("\t")}" +:
      rows.map { case (n, cs) => s"$n\t${cs.mkString("\t")}" }).mkString("\n") + "\n"

  def parse(text: String): Map[String, Seq[Int]] =
    text.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
      val parts = l.split("\t")
      parts.head -> parts.tail.map(_.toInt).toSeq
    }.toMap
}

/** Regenerate the golden file after an INTENTIONAL plan change:
  *   sbt "Test/runMain graft.plans.PlanGoldenRegen"
  * Runs in the same session config as the spec so counts are
  * comparable. */
object PlanGoldenRegen {
  def main(args: Array[String]): Unit = {
    val rows = PlanShape.shape(SparkTestSession.get, "/root/testdata/sf0.001")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(PlanShape.GoldenPath), PlanShape.format(rows))
    println(s"[plan-golden] wrote ${rows.length} queries to ${PlanShape.GoldenPath}")
  }
}

/** The plan-shape regression gate: a change that adds a shuffle (or
  * flips a broadcast join to sort-merge) to any query fails HERE, not
  * first in the bench. Golden counts are checked in; regenerate via
  * [[PlanGoldenRegen]] when a change is intentional. */
class PlanGoldenSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.get

  test("physical-plan shapes match the checked-in golden (shuffle/broadcast/join mix)") {
    val stream = getClass.getClassLoader.getResourceAsStream("plan_golden.tsv")
    assert(stream != null,
      s"missing golden — generate with: sbt \"Test/runMain graft.plans.PlanGoldenRegen\"")
    val golden = PlanShape.parse(
      new String(stream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    val current = PlanShape.shape(spark, dir)
    val problems = collection.mutable.Buffer.empty[String]
    current.foreach { case (name, cs) =>
      golden.get(name) match {
        case None =>
          problems += s"$name: not in golden (new query) — regenerate"
        case Some(gs) if gs != cs =>
          val diff = PlanShape.Metrics.zip(gs.zip(cs))
            .collect { case (m, (g, c)) if g != c => s"$m $g->$c" }
            .mkString(", ")
          val grew = cs.head > gs.head
          problems += s"$name: $diff" +
            (if (grew) "  [SHUFFLE COUNT GREW — scale regression]" else "")
        case _ => ()
      }
    }
    golden.keys.filterNot(current.map(_._1).toSet)
      .foreach(n => problems += s"$n: in golden but no longer declared")
    assert(problems.isEmpty,
      "plan shape drift (regenerate via PlanGoldenRegen if intentional):\n  " +
        problems.mkString("\n  "))
  }
}

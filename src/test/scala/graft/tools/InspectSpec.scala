package graft.tools

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.SparkTestSession

class InspectSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  test("arguments parse; a malformed override is an error") {
    val o = Inspect.parse(Seq(dir, "q20,q21", "--runs", "2", "--stages",
      "--plan", "/tmp/p", "graft.materialize=off"))
    assert(o === Inspect.Opts(dir, "q20,q21", runs = 2, stages = true,
      planDir = Some("/tmp/p"), overrides = Seq("graft.materialize=off")))
    intercept[IllegalArgumentException](Inspect.parse(Seq(dir, "q20", "materialize")))
    intercept[IllegalArgumentException](Inspect.parse(Seq(dir)))
  }

  test("`all` is every query except the streaming ones") {
    val all = Inspect.selected("all").map(_._1)
    val queries = graft.SparkEntry.queries.keySet
    assert(all.nonEmpty && all.forall(!_.contains("_stream_")))
    assert(all.toSet === queries.filterNot(_.contains("_stream_")))
    assert(Inspect.selected("q01,q26").map(_._1) === Seq("q01_global_stats", "q26_stream_tumbling"))
  }

  test("--plan writes a non-empty plan per batch query and none for a streaming one") {
    val out = Files.createTempDirectory("graft_inspect_")
    graft.sources.TempDirs.deleteOnExit(out)
    val spark = SparkTestSession.get
    Inspect.run(spark, Inspect.parse(Seq(dir, "q01", "--runs", "1", "--plan", out.toString)))
    Inspect.run(spark, Inspect.parse(Seq(dir, "q26", "--runs", "0", "--plan", out.toString)))
    val plan = Files.readString(out.resolve("q01_global_stats.txt"))
    assert(plan.contains("== Physical Plan =="), plan.take(200))
    assert(!Files.exists(out.resolve("q26_stream_tumbling.txt")))
  }
}

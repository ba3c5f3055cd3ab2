package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class DevArgsSpec extends AnyFunSuite {
  test("k=v overrides parse; a malformed one is a clear error") {
    assert(DevArgs.conf("graft.materialize=off") === ("graft.materialize", "off"))
    assert(DevArgs.conf(" a = b=c ") === ("a", "b=c"))
    for (bad <- Seq("graft.materialize", "=off", "")) {
      val e = intercept[IllegalArgumentException](DevArgs.conf(bad))
      assert(e.getMessage.contains("k=v") && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("query names match exactly or up to the number's `_`") {
    val names = graft.SparkEntry.queries.keys.toSeq
    def sel(arg: String) = names.filter(DevArgs.selects(arg, _)).toSet
    assert(sel("q12") === Set("q12_json_extract"))
    assert(sel("q12_json_extract") === Set("q12_json_extract"))
    assert(sel("q120") === Set("q120_copurchase"))
    assert(sel("q12_js") === Set.empty[String])
  }
}

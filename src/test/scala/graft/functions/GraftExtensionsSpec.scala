package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions are reachable from SQL via
  * SparkSessionExtensions, and SQL results equal the direct eval. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // Reuse the shared SparkContext but build a NEW session so the
    // extensions actually apply (getOrCreate returns any existing
    // active session unchanged).
    graft.etl.SparkTestSession.get
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.Session.start(graft.Session.builder(cores = 4, overrides = Nil)
      .withExtensions(new GraftExtensions))
  }

  test("registerInto installs the SQL surface on a session built WITHOUT extensions") {
    val plain = graft.etl.SparkTestSession.get  // no withExtensions
    GraftExtensions.registerInto(plain)
    assert(plain.sql("SELECT graft_poly_hash('abc') AS h").head().getLong(0) === 96354L)
    assert(plain.sql("SELECT graft_count_bpe_tokens('ab 12 !') AS n").head().getInt(0) === 3)
    // idempotent: a second registration must not throw or change values
    GraftExtensions.registerInto(plain)
    assert(plain.sql("SELECT graft_poly_hash('abc') AS h").head().getLong(0) === 96354L)
  }

  test("graft_poly_hash matches the reference fold") {
    val got = spark.sql("SELECT graft_poly_hash('abc') AS h").head().getLong(0)
    // ((0*31+97)%P *31 + 98)%P *31 + 99 = 96354
    assert(got === 96354L)
    assert(got === PolyHashExpr.hash(UTF8String.fromString("abc")))
  }

  test("graft_dot / graft_shingle_hashes / graft_simhash evaluate from SQL") {
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(dot === 11.0)
    val sh = spark.sql(
      "SELECT graft_shingle_hashes(array('a','b','c','d'), 3) AS s").head()
      .getSeq[Long](0)
    assert(sh.length === 2)  // "a b c", "b c d"
    // single token: simhash = the hash's low `bits` bits
    val h = PolyHashExpr.hash(UTF8String.fromString("x"))
    val sim = spark.sql(
      "SELECT graft_simhash(array(graft_poly_hash('x')), 32) AS s").head().getLong(0)
    assert(sim === (h & 0xFFFFFFFFL))
  }
}

package graft.functions

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions hook exposing graft's native expressions to
  * SQL (`spark.sql("SELECT graft_poly_hash(text) ...")`) — register via
  *   graft.Session.builder().withExtensions(new GraftExtensions)
  * or `spark.sql.extensions=graft.functions.GraftExtensions`.
  * For a session someone ELSE already built (a notebook, the driver's
  * harness), [[GraftExtensions.registerInto]] installs the same
  * functions imperatively.
  *
  * SQL surface:
  *   graft_poly_hash(str)                    → bigint
  *   graft_dot(array<double>, array<double>) → double
  *   graft_shingle_hashes(array<string>, w)  → array<bigint>  (mod P)
  *   graft_simhash(array<bigint>, bits)      → bigint
  *   graft_tokenize(str)                     → array<string>
  *   graft_token_hashes(array<string>)       → array<bigint>
  *   graft_count_cp_range(str, lo, hi)       → int
  *   graft_count_punct(str)                  → int
  *   graft_count_ws_tokens(str)              → int
  *   graft_count_bpe_tokens(str)             → int
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator plan: GroupedTopK logical node → streaming-rank exec
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    // optimizer rule: group-key filters commute with per-group top-k —
    // pushed below the node they reach the scan via the built-in rules
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughGroupedTopK)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Arity gate: wrong argument counts raise a clear error from the
    * builder instead of an IndexOutOfBounds from inside it. */
  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** The full SQL function surface, shared by the extension injector
    * and [[registerInto]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_poly_hash"),
      info("graft_poly_hash", "_FUNC_(str) - polynomial rolling hash mod 1e9+7"),
      (args: Seq[Expression]) => {
        arity("graft_poly_hash", 1, args)
        PolyHashExpr(args.head)
      }),
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "_FUNC_(a, b) - dot product of two array<double>"),
      (args: Seq[Expression]) => {
        arity("graft_dot", 2, args)
        DotProductExpr(args(0), args(1))
      }),
    (FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes",
        "_FUNC_(tokens, w) - distinct hashes of w-word shingles"),
      (args: Seq[Expression]) => {
        arity("graft_shingle_hashes", 2, args)
        ShingleHashesExpr(args(0), intArg(args(1), "w"), PolyHashExpr.P)
      }),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "_FUNC_(hashes, bits) - simhash of token hashes"),
      (args: Seq[Expression]) => {
        arity("graft_simhash", 2, args)
        SimHashExpr(args(0), intArg(args(1), "bits"))
      }),
    (FunctionIdentifier("graft_tokenize"),
      info("graft_tokenize",
        "_FUNC_(str) - lowercase alphanumeric-run tokens"),
      (args: Seq[Expression]) => {
        arity("graft_tokenize", 1, args)
        TokenizeExpr(args.head)
      }),
    (FunctionIdentifier("graft_token_hashes"),
      info("graft_token_hashes", "_FUNC_(tokens) - per-token polynomial hashes"),
      (args: Seq[Expression]) => {
        arity("graft_token_hashes", 1, args)
        TokenHashesExpr(args.head)
      }),
    (FunctionIdentifier("graft_count_cp_range"),
      info("graft_count_cp_range",
        "_FUNC_(str, lo, hi) - count of code points in [lo, hi]"),
      (args: Seq[Expression]) => {
        arity("graft_count_cp_range", 3, args)
        CountCpRangeExpr(args.head, intArg(args(1), "lo"), intArg(args(2), "hi"))
      }),
    (FunctionIdentifier("graft_count_punct"),
      info("graft_count_punct",
        "_FUNC_(str) - count of code points matching [^a-z0-9\\s]"),
      (args: Seq[Expression]) => {
        arity("graft_count_punct", 1, args)
        CountPunctExpr(args.head)
      }),
    (FunctionIdentifier("graft_count_ws_tokens"),
      info("graft_count_ws_tokens",
        "_FUNC_(str) - count of whitespace-separated tokens"),
      (args: Seq[Expression]) => {
        arity("graft_count_ws_tokens", 1, args)
        CountWsTokensExpr(args.head)
      }),
    (FunctionIdentifier("graft_count_bpe_tokens"),
      info("graft_count_bpe_tokens",
        "_FUNC_(str) - count of [a-z]+|[0-9]+|[^a-z0-9\\s] tokens"),
      (args: Seq[Expression]) => {
        arity("graft_count_bpe_tokens", 1, args)
        CountBpeTokensExpr(args.head)
      }))

  /** Imperative twin of the extension path: install every graft_*
    * function into an EXISTING session's registry (idempotent —
    * re-registration replaces the same name with the same builder).
    * Covers the common case where the session is constructed by a
    * harness that doesn't know about `withExtensions`. */
  def registerInto(spark: SparkSession): Unit =
    functions.foreach { case (ident, fnInfo, builder) =>
      GraftColumnBridge.registerFunction(spark, ident, fnInfo, builder)
    }
}

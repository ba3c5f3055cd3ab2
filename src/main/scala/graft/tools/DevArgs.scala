package graft.tools

/** Arguments shared by [[graft.Session]]'s overrides, Verify and Inspect. */
object DevArgs {
  /** One `k=v` conf override; anything else is an error naming the argument. */
  def conf(kv: String): (String, String) = kv.split("=", 2) match {
    case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
    case _ => throw new IllegalArgumentException(s"expected a k=v conf override, got '$kv'")
  }

  /** A query-name argument selects the exact name or, given the query's
    * number, `number_…` (`q12` is `q12_json_extract`, not `q120_copurchase`). */
  def selects(arg: String, name: String): Boolean = name == arg || name.startsWith(arg + "_")
}

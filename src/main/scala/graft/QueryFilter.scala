package graft

/** The `SPARK_GRAFT_ONLY` query-name filter shared by [[Verify]],
  * [[Bench]] and [[Plans]]: comma/space-separated substrings, a query runs
  * if its name contains any of them; unset (or blank) selects everything. */
object QueryFilter {
  def fromEnv(env: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : String => Boolean = {
    val subs = env
      .map(_.split("[,\\s]+").filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    name => subs.forall(_.exists(name.contains))
  }
}

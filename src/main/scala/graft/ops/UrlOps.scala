package graft.ops

/** URL host extraction for domain-level curation — the stage every
  * public pretraining pipeline (CCNet, RefinedWeb, Dolma) runs before
  * text-level dedup groups documents by REGISTERED domain (eTLD+1), so
  * per-domain quality decisions and caps apply to `cdn.assets.example.com`
  * and `www.example.com` as one publisher, not two.
  *
  * This object extracts the host: lowercase → strip scheme / userinfo /
  * port / path / trailing dot. [[Psl]] derives the registered domain
  * from that host with the full public-suffix list.
  *
  * Cross-engine exactness: both engines run the same pipeline, built
  * from regexp primitives that exist in Spark SQL and DuckDB with
  * identical semantics (the extraction regex avoids constructs where
  * Java regex and RE2 differ).
  *
  * Scale: pure per-row expressions (no UDF, no shuffle).
  */
object UrlOps {

  /** Host extraction regex: optional scheme, optional userinfo, then
    * either a bracketed IPv6 literal (colons inside the brackets must
    * not be read as a port separator) or a host up to the first
    * `/ ? # :` — anchored, lowercase input assumed. Works identically
    * under Java regex (Spark) and RE2 (DuckDB). */
  private val hostRegex =
    "^(?:[a-z][a-z0-9+.-]*://)?(?:[^/?#@]*@)?(\\[[^\\]]*\\]|[^/?#:]+)"

  /** Spark SQL string literals process backslash escapes; DuckDB's do
    * not — the same regex needs its backslashes doubled for Spark and
    * embedded verbatim for DuckDB. */
  private def sparkLit(regex: String): String = regex.replace("\\", "\\\\")

  /** Spark SQL: the host EXACTLY as the URL names it (lowercased,
    * scheme/userinfo/port/path/trailing-dot stripped) — NO `www.`
    * strip. The published PSL algorithm is defined over this host:
    * stripping `www.` first mis-resolves hosts where `www` sits
    * directly on a rule boundary (`www.ck` has its own exception rule;
    * `www.github.io` is a distinct private-suffix publisher), so
    * [[Psl]] consumes this form and derives the registered domain from
    * the real label sequence. */
  def rawHostExpr(url: String): String =
    s"regexp_replace(regexp_extract(lower($url), " +
      s"'${sparkLit(hostRegex)}', 1), '\\\\.$$', '')"

  /** DuckDB twins — same pipeline, DuckDB primitives. */
  object sql {

    /** DuckDB twin of [[UrlOps.rawHostExpr]]. */
    def rawHost(url: String): String =
      s"regexp_replace(regexp_extract(lower($url), " +
        s"'${UrlOps.hostRegex}', 1), '\\.$$', '')"
  }
}

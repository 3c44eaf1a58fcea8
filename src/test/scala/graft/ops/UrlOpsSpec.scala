package graft.ops

import graft.SparkSpec

/** Registered-domain canonicalization (UrlOps host extraction + Psl,
  * q200): scheme/userinfo/port/path stripping, case folding, trailing-dot
  * and single-www removal, and the public-suffix rules — pinned against
  * hand-computed expectations. The q200 oracle pins Spark↔DuckDB
  * agreement; this pins Spark↔truth. */
class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def pslDomains(urls: Seq[String]): Seq[String] = {
    Psl.withRegisteredDomain(urls.toDF("url"), "url", "d")
      .select("d").as[String].collect().toSeq
  }

  test("PSL path: private suffixes keep subdomain publishers distinct; " +
      "wildcard and exception rules resolve per the published algorithm") {
    val cases = Seq(
      // private-section suffixes: each subdomain is its own publisher
      "https://user1.github.io/p/1" -> "user1.github.io",
      "https://user2.github.io/p/2" -> "user2.github.io",
      "https://Sub.Web.DE.com/x" -> "web.de.com",
      "https://myblog.blogspot.co.uk" -> "myblog.blogspot.co.uk",
      "https://b.s3.amazonaws.com/key" -> "b.s3.amazonaws.com",
      // wildcard *.compute.amazonaws.com: region label extends the suffix
      "https://vm.us-east-1.compute.amazonaws.com" ->
        "vm.us-east-1.compute.amazonaws.com",
      // whole-TLD wildcard *.ck, and its !www.ck exception
      "https://shop.example.ck/x" -> "shop.example.ck",
      "https://a.www.ck/x" -> "www.ck",
      // the exception host ITSELF: PSL runs on the raw label sequence,
      // so the leading www is a real label here, not display noise
      "https://www.ck/x" -> "www.ck",
      // ...and a www-labeled publisher on a private suffix stays its
      // own publisher, never the bare suffix
      "https://www.github.io/p" -> "www.github.io",
      // a bare wildcard BASE is not matched by its own `*.` rule —
      // published behavior falls through to the default-`*` branch
      "https://compute.amazonaws.com/x" -> "amazonaws.com",
      "https://sch.uk/x" -> "sch.uk",
      // JP city wildcard *.kawasaki.jp and !city.kawasaki.jp exception
      "https://blog.foo.kawasaki.jp" -> "blog.foo.kawasaki.jp",
      "https://x.city.kawasaki.jp" -> "city.kawasaki.jp",
      // prefecture plain rule
      "https://metro.tokyo.jp/x" -> "metro.tokyo.jp",
      // ICANN multi-part rules keep three labels
      "https://news.example.co.uk/s" -> "example.co.uk",
      // the private section lists service.gov.uk itself (UK government
      // PaaS), so each service is its own publisher
      "https://api.service.gov.uk" -> "api.service.gov.uk",
      "https://shop.example.com.au/k" -> "example.com.au",
      "https://cdn.assets.example.com/a" -> "example.com",
      "http://www.example.com" -> "example.com",
      "https://wiki.knowledge.org./page" -> "knowledge.org",
      // userinfo, non-http scheme, mixed case, no scheme at all
      "https://user:pw@example.io/p/1" -> "example.io",
      "ftp://files.example.org" -> "example.org",
      "https://Media.Example.COM/x" -> "example.com",
      "example.com/pathonly" -> "example.com",
      // a host that IS a public suffix canonicalizes to itself
      "https://github.io" -> "github.io",
      "https://co.uk/x" -> "co.uk",
      // unmatched TLD: default rule (last two labels)
      "https://deep.sub.tree.example.xyz" -> "example.xyz",
      "https://localhost:9000/x" -> "localhost",
      // IP literals never grow "registrable" structure
      "https://93.184.216.34:8080/x" -> "93.184.216.34",
      "http://[2001:db8::1]/p" -> "[2001:db8::1]")
    val got = pslDomains(cases.map(_._1))
    cases.zip(got).foreach { case ((url, want), d) =>
      assert(d == want, s"$url -> $d, wanted $want")
    }
  }

  test("PSL path: null and unparseable URLs yield '', and caller columns " +
      "pass through untouched") {
    val df = Seq((1L, Some("https://a.co.uk/x")), (2L, None), (3L, Some("")))
      .toDF("doc_id", "url")
    val got = Psl.withRegisteredDomain(df, "url", "domain")
      .orderBy("doc_id")
      .select("doc_id", "domain").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a.co.uk"), (2L, ""), (3L, "")))
  }

  test("PSL rule table is well-formed: lowercase, no stars/bangs, no " +
      "duplicate suffix rows, SQL-safe, within the label bound") {
    val suffixes = Psl.rules.map(_._1)
    assert(suffixes.distinct.size == suffixes.size)
    suffixes.foreach { s =>
      assert(s == s.toLowerCase && !s.contains("*") && !s.contains("!"))
      assert(s.nonEmpty && !s.startsWith(".") && !s.endsWith("."))
      // the oracle twin embeds every suffix in a single-quoted VALUES
      // literal — a quote/backslash in a rule would break the SQL
      assert(!s.contains("'") && !s.contains("\\") && !s.contains("\""))
      assert(!s.exists(_.isWhitespace))
    }
    // wildcard bases extend by one label; everything stays <= the bound
    Psl.rules.foreach { case (s, kind) =>
      val labels = s.split('.').length
      val eff = if ((kind & Psl.Wild) != 0) labels + 1 else labels
      assert(eff <= Psl.MaxSuffixLabels, s"$s exceeds label bound")
    }
    // the FULL published file (~9.5k rules) is vendored, not a subset;
    // anchor rows from every rule form must be present
    assert(Psl.rules.size >= 9000, s"rule table shrank: ${Psl.rules.size}")
    val byName = Psl.rules.toMap
    assert(byName("co.uk") == Psl.Plain)
    assert(byName("ck") == Psl.Wild)
    assert(byName("www.ck") == Psl.Exc)
    assert((byName("compute.amazonaws.com") & Psl.Wild) != 0)
    assert(byName.contains("github.io") && byName.contains("blogspot.com"))
    // the current file's deepest rules pin the generated join depth
    assert(Psl.MaxRuleLabels == 5 && Psl.MaxSuffixLabels == 5)
  }

  test("PSL published test vectors (publicsuffix.org checkPublicSuffix " +
      "suite, adapted: a host with no registrable domain stays itself)") {
    // The upstream suite asserts registrable domain or null; this
    // operator canonicalizes no-registrable hosts (a public suffix, a
    // bare TLD) to themselves — those vectors assert host -> host.
    val cases = Seq(
      // mixed-case / leading dot
      "COM" -> "com",
      "example.COM" -> "example.com",
      "WwW.example.COM" -> "example.com",
      // unlisted TLD
      "example" -> "example",
      "example.example" -> "example.example",
      "b.example.example" -> "example.example",
      "a.b.example.example" -> "example.example",
      // TLD with only 1 rule
      "biz" -> "biz",
      "domain.biz" -> "domain.biz",
      "b.domain.biz" -> "domain.biz",
      "a.b.domain.biz" -> "domain.biz",
      // TLD with some 2-level rules
      "com" -> "com",
      "example.com" -> "example.com",
      "b.example.com" -> "example.com",
      "a.b.example.com" -> "example.com",
      "uk.com" -> "uk.com",
      "example.uk.com" -> "example.uk.com",
      "b.example.uk.com" -> "example.uk.com",
      "a.b.example.uk.com" -> "example.uk.com",
      "test.ac" -> "test.ac",
      // TLD with both 2-level and wildcard rules (jp)
      "jp" -> "jp",
      "test.jp" -> "test.jp",
      "www.test.jp" -> "test.jp",
      "ac.jp" -> "ac.jp",
      "test.ac.jp" -> "test.ac.jp",
      "www.test.ac.jp" -> "test.ac.jp",
      "kyoto.jp" -> "kyoto.jp",
      "test.kyoto.jp" -> "test.kyoto.jp",
      "ide.kyoto.jp" -> "ide.kyoto.jp",
      "b.ide.kyoto.jp" -> "b.ide.kyoto.jp",
      "a.b.ide.kyoto.jp" -> "b.ide.kyoto.jp",
      "c.kobe.jp" -> "c.kobe.jp",
      "b.c.kobe.jp" -> "b.c.kobe.jp",
      "a.b.c.kobe.jp" -> "b.c.kobe.jp",
      "city.kobe.jp" -> "city.kobe.jp",
      "www.city.kobe.jp" -> "city.kobe.jp",
      // TLD with a wildcard rule and exceptions (ck)
      "ck" -> "ck",
      "test.ck" -> "test.ck",
      "b.test.ck" -> "b.test.ck",
      "a.b.test.ck" -> "b.test.ck",
      "www.ck" -> "www.ck",
      "www.www.ck" -> "www.ck",
      // US k12
      "us" -> "us",
      "test.us" -> "test.us",
      "www.test.us" -> "test.us",
      "ak.us" -> "ak.us",
      "test.ak.us" -> "test.ak.us",
      "www.test.ak.us" -> "test.ak.us",
      "k12.ak.us" -> "k12.ak.us",
      "test.k12.ak.us" -> "test.k12.ak.us",
      "www.test.k12.ak.us" -> "test.k12.ak.us")
    val got = pslDomains(cases.map { case (h, _) => s"https://$h/x" })
    cases.zip(got).foreach { case ((host, want), d) =>
      assert(d == want, s"$host -> $d, wanted $want")
    }
  }

  test("PSL property sweep: EVERY rule row resolves per the published " +
      "algorithm under synthetic prefixes") {
    // Synthetic prefix labels (ax/bx/cx) collide with no real rule, so
    // the expected registered domain is derivable from the rule kind
    // alone: plain s -> one label past s survives; wildcard base s ->
    // the starred label extends the suffix, so TWO labels past s
    // survive; exception s -> s itself is the registered domain. One
    // Spark job over ~3 x |rules| hosts — a rule-table typo (wrong
    // kind, misspelled suffix) fails here wholesale.
    val cases = Psl.rules.flatMap { case (s, kind) =>
      if ((kind & Psl.Exc) != 0) Seq(
        s"https://$s/x" -> s,
        s"https://ax.$s/x" -> s)
      else if ((kind & Psl.Wild) != 0) Seq(
        // bare base: unmatched by its own `*.` rule -> default branch
        // (only asserted when no shorter plain rule would catch it —
        // synthetic prefixes keep the longer cases unambiguous)
        s"https://ax.bx.cx.$s/x" -> s"bx.cx.$s",
        s"https://ax.bx.$s/x" -> s"ax.bx.$s")
      else Seq(
        s"https://$s/x" -> s,
        s"https://ax.$s/x" -> s"ax.$s",
        s"https://ax.bx.$s/x" -> s"bx.$s")
    }
    val got = pslDomains(cases.map(_._1))
    cases.zip(got).foreach { case ((url, want), d) =>
      assert(d == want, s"$url -> $d, wanted $want")
    }
  }
}

package graft

import graft.functions.UrlOps
import org.apache.spark.sql.functions._

/** URL canonicalization + domain cap: closed-form canonical cases, the
  * no-dot / unparseable fallbacks, cap determinism under repartition, and
  * the WindowGroupLimit plan shape the cap's scale claim rests on. */
class UrlOpsSpec extends SparkSpec {
  private def canonOf(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("url").select(UrlOps.canonicalizeUrl(col("url"))).head.getString(0)
  }
  private def domainOf(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("url").select(UrlOps.registeredDomain(col("url"))).head.getString(0)
  }

  test("canonicalization closed forms: case, www, ports, slash, tracking, fragment") {
    assert(canonOf("HTTP://WWW.A-Site.com:80/a/b/?utm_source=f&id=7#top")
      === "http://a-site.com/a/b?id=7")
    assert(canonOf("https://news.org/p/7") === "https://news.org/p/7")
    assert(canonOf("https://sub.cdn.net:443/x/?fbclid=f") === "https://sub.cdn.net/x")
    assert(canonOf("http://a.com/q?a=1&utm_medium=m&b=2") === "http://a.com/q?a=1&b=2")
    // empty path becomes "/", root slash survives
    assert(canonOf("https://blog.io") === "https://blog.io/")
    assert(canonOf("https://blog.io/") === "https://blog.io/")
    // non-http scheme: no default-port strip, otherwise same rules
    assert(canonOf("FTP://Files.a.com:21/data/") === "ftp://files.a.com:21/data")
    // :443 is only default for https, :80 only for http
    assert(canonOf("http://a.com:443/x") === "http://a.com:443/x")
  }

  test("unparseable strings pass through; param case preserved, key match case-insensitive") {
    assert(canonOf("not a url") === "not a url")
    assert(canonOf("relative/path?x=1") === "relative/path?x=1")
    assert(canonOf("http://a.com/p?UTM_Source=x&Keep=Me") === "http://a.com/p?Keep=Me")
  }

  test("registered domain: last two labels, no-dot fallback, www+port stripped") {
    assert(domainOf("https://a.b.example.com/x") === "example.com")
    assert(domainOf("HTTP://WWW.Example.COM:80/") === "example.com")
    assert(domainOf("http://localhost:8080/x") === "localhost")
  }

  test("domainCap keeps at most k per domain, deterministically under repartition") {
    import spark.implicits._
    val urls = (0L until 200L).map { i =>
      (i, s"https://sub$i.dom${i % 5}.example${i % 2}.org/p/$i")
    }.toDF("id", "url")
    val a = UrlOps.domainCap(urls, "url", "id", maxPerDomain = 3)
      .select("id", "domain").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = UrlOps.domainCap(urls.repartition(7), "url", "id", maxPerDomain = 3)
      .select("id", "domain").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    val perDomain = a.groupBy(_._2).map(_._2.size)
    assert(perDomain.forall(_ <= 3) && perDomain.exists(_ == 3))
  }

  test("hostBlocked: exact and subdomain bans, lookalike hosts survive") {
    import spark.implicits._
    val blocked = Seq("bad.com", "evil.org")
    val rows = Seq(
      (1L, "https://bad.com/x", true),          // exact
      (2L, "http://a.b.bad.com/y", true),       // deep subdomain
      (3L, "https://WWW.BAD.com:443/z", true),  // case + port normalized
      (4L, "https://notbad.com/x", false),      // suffix lookalike, no dot boundary
      (5L, "https://evil.org.safe.net/x", false), // banned string not at the end
      (6L, "https://good.io/x", false))
    val df = rows.map(r => (r._1, r._2)).toDF("id", "url")
    val kept = UrlOps.filterBlockedDomains(df, "url", blocked)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === rows.filter(!_._3).map(_._1).toSet)
  }

  test("userinfo cannot smuggle a banned host past the filter or split a domain") {
    import spark.implicits._
    val df = Seq(
      (1L, "http://anything@bad.com/page"),     // userinfo ban bypass attempt
      (2L, "https://u:p@sub.bad.com:443/x"),    // userinfo + port + subdomain
      (3L, "http://good.io/ok")).toDF("id", "url")
    val kept = UrlOps.filterBlockedDomains(df, "url", Seq("bad.com"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
    // same host with/without userinfo canonicalizes identically (dedup key)
    val canon = Seq((1L, "http://x@a.com/p"), (2L, "http://a.com/p"))
      .toDF("id", "url")
      .select(UrlOps.canonicalizeUrl(col("url"))).collect().map(_.getString(0))
    assert(canon(0) == canon(1), canon.mkString(" vs "))
    // registeredDomain groups the userinfo variant with the bare one
    val dom = Seq((1L, "http://spam123@example.com/a"))
      .toDF("id", "url")
      .select(UrlOps.registeredDomain(col("url"))).head().getString(0)
    assert(dom == "example.com")
  }

  test("hostBlocked: mixed-case ban entries still match") {
    import spark.implicits._
    val df = Seq((1L, "https://example.com/x")).toDF("id", "url")
    assert(UrlOps.filterBlockedDomains(df, "url", Seq(" Example.COM ")).count() == 0)
  }

  test("domainCap plans a WindowGroupLimit (map-side top-k before the exchange)") {
    import spark.implicits._
    val urls = (0L until 50L).map(i => (i, s"https://d${i % 3}.example.org/$i"))
      .toDF("id", "url")
    val plan = UrlOps.domainCap(urls, "url", "id", maxPerDomain = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }
}

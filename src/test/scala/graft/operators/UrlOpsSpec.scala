package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def hosts(urls: String*): Seq[Option[String]] =
    urls.zipWithIndex.map(_.swap).toDF("id", "url")
      .orderBy("id").select(UrlOps.host(col("url")))
      .as[Option[String]].collect().toSeq

  /** The URL query's domain: `registrableDomain(host(url))`. */
  private def domain(url: org.apache.spark.sql.Column) =
    UrlOps.registrableDomain(UrlOps.host(url))

  private def domains(urls: String*): Seq[Option[String]] =
    urls.zipWithIndex.map(_.swap).toDF("id", "url")
      .orderBy("id").select(domain(col("url")))
      .as[Option[String]].collect().toSeq

  test("host: scheme stripped, userinfo stripped, port stripped, lowercased, junk null") {
    assert(hosts(
      "https://www.Example.COM/path?q=1",
      "http://user:pw@sub.example.org:8080/x",
      "ftp://files.example.net",
      "custom+v1.2://Host-Name.example/",
      "/relative/path",
      "no url here",
      "") == Seq(
      Some("www.example.com"),
      Some("sub.example.org"),
      Some("files.example.net"),
      Some("host-name.example"),
      None, None, None))
  }

  test("registrableDomain: last-2, public-suffix-second-level last-3, bare labels") {
    val got = Seq(
      "www.example.com", "a.b.deep.example.com", "shop.example.co.uk",
      "example.co.uk", "co.uk", "x.y.de", "localhost", "sub.example.ac.jp")
      .zipWithIndex.map(_.swap).toDF("id", "h")
      .orderBy("id").select(UrlOps.registrableDomain(col("h")))
      .as[String].collect().toSeq
    assert(got == Seq(
      "example.com", "example.com", "example.co.uk",
      "example.co.uk", "co.uk", // 2 labels -> last-2 even when it IS a suffix pair
      "y.de", // second label not in the suffix set -> plain last-2
      "localhost", "example.ac.jp"))
  }

  test("IP-literal hosts: bracketed IPv6 parses as a unit, IPs have no registrable domain") {
    assert(hosts(
      "http://[2001:DB8::1]/page",
      "https://[::1]:8443/x?y",
      "https://192.0.2.1:80/p") == Seq(
      Some("[2001:db8::1]"), // colons inside brackets are NOT a port separator
      Some("[::1]"),
      Some("192.0.2.1")))
    val got = Seq("[2001:db8::1]", "192.0.2.1", "10.0.0.255")
      .zipWithIndex.map(_.swap).toDF("id", "h")
      .orderBy("id").select(UrlOps.registrableDomain(col("h")))
      .as[String].collect().toSeq
    // label-suffix logic on an IP would fabricate "2.1"-style nonsense
    assert(got == Seq("[2001:db8::1]", "192.0.2.1", "10.0.0.255"))
  }

  test("trailing root-dot FQDNs normalize: a blocklisted domain cannot dot-evade") {
    assert(hosts("http://spam.example.co.uk./x", "https://example.com.../y") ==
      Seq(Some("spam.example.co.uk"), Some("example.com")))
    // registrable domain under the co.uk suffix is example.co.uk — the
    // spam. label is a subdomain of it, caught by the same block entry
    assert(domains(
      "http://spam.example.co.uk./x",
      "https://www.spam.example.co.uk/x",
      "https://spam.example.co.uk:99/z",
      "https://ok.example.com/y",
      "not a url") == Seq(
      Some("example.co.uk"), Some("example.co.uk"), Some("example.co.uk"),
      Some("example.com"), None))
  }

  test("registrableDomain of a null host is null") {
    val got = Seq((1, Option.empty[String])).toDF("id", "h")
      .select(UrlOps.registrableDomain(col("h"))).as[Option[String]].head()
    assert(got.isEmpty)
  }

  test("the URL tier is map-side: no exchange in the literal-blocklist plan") {
    val docs = Seq((1L, "https://a.example.com/x")).toDF("doc_id", "url")
    val dom = domain(col("url"))
    val plan = docs.select(col("doc_id"), dom.as("reg_domain"),
      coalesce(dom.isin("bad.com"), lit(false)).as("blocked"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}

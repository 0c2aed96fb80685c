package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL / domain operators for web-corpus curation — the provenance-side
  * filters every crawl pipeline runs before touching document text:
  * extract the host and reduce it to the registrable domain, which a
  * domain blocklist gates on. Everything is a pure Column expression in
  * the Java-regex ∩ RE2 intersection, so the whole tier is map-side (fused
  * into the scan, zero shuffle at any corpus size) and the DuckDB oracle
  * replays it verbatim.
  */
object UrlOps {

  /** Lowercased host of an absolute URL: the authority between
    * `scheme://` and the first `/`, `?` or `#`, with any `user@` info,
    * any `:port`, and any trailing root-dot stripped (`example.com.` is
    * the same fully-qualified name as `example.com` — leaving the dot
    * would let a blocklisted domain evade a blocklist by appending
    * one). A bracketed IPv6 literal is matched as a unit
    * (brackets kept — the WHATWG serialization — so its colons are not
    * mistaken for a port separator). Null (never "") when the value has
    * no scheme://host shape — a relative link or junk is filterable, not
    * a phantom empty host. */
  def host(url: Column): Column =
    nullif(regexp_replace(lower(regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?(\\[[^\\]/?#]*\\]|[^/?#:]+)", 1)),
      "\\.+$", ""), lit(""))

  /** Second-level labels that act as public suffixes under 2-letter
    * country TLDs (`co.uk`, `com.au`, …) — the tiny fixed heuristic tier
    * of the public-suffix list. A full PSL snapshot drops in as a data
    * file without changing the plan; the heuristic is deterministic and
    * engine-replayable, which the oracle needs. */
  val CcSecondLevels: Seq[String] = Seq("co", "com", "net", "org", "gov", "edu", "ac")

  /** Registrable domain of a host: the last two labels — or the last
    * THREE when the TLD is 2 letters and the second-level label is a
    * well-known public-suffix second level ([[CcSecondLevels]]), so
    * `shop.example.co.uk` → `example.co.uk` while `a.b.example.com` →
    * `example.com`. An IP literal (bracketed IPv6 or dotted IPv4) has no
    * registrable domain and maps to ITSELF — label-suffix logic on
    * `192.0.2.1` would fabricate a nonsense domain "2.1". A bare
    * single-label host maps to itself; null host → null. */
  def registrableDomain(hostCol: Column): Column = {
    val labels = split(hostCol, "\\.")
    val n = size(labels)
    val tld = element_at(labels, -1)
    val second = element_at(labels, n - 1)
    val ccSuffix = array(CcSecondLevels.map(lit): _*)
    val lastK = (k: Int) => array_join(slice(labels, n - lit(k - 1), lit(k)), ".")
    when(hostCol.isNull, lit(null).cast("string"))
      .when(hostCol.rlike("^\\[") || hostCol.rlike("^[0-9.]+$"), hostCol)
      .when(n <= 1, hostCol)
      .when(n >= 3 && length(tld) === 2 && array_contains(ccSuffix, second), lastK(3))
      .otherwise(lastK(2))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization for web-crawl corpora — the normalization step that
  * runs BEFORE url-keyed dedup/grouping at 100 TB (RFC 3986 §6 syntax-based
  * normalization, the subset crawl pipelines actually apply):
  *
  *   - scheme and host lowercased (path is case-SENSITIVE per RFC and kept)
  *   - fragment dropped
  *   - default port stripped (http:80, https:443); other ports kept
  *   - empty path → "/", trailing slashes stripped from non-root paths
  *   - query parameters sorted lexicographically (empty params dropped)
  *
  * All pure Column expressions over lookaround-free regexes (Java ≡ RE2 ≡
  * DuckDB), so the whole normalization is codegen'd, narrow, and
  * oracle-replayable. Regex literals are shared constants — the SQL oracle
  * interpolates THESE strings, one source of truth.
  *
  * [[registeredDomain]] is the grouping key for host-level corpus stats
  * (per-site quality, per-site dedup scope): last two host labels, or last
  * three when the last two are a well-known two-level public suffix — the
  * standard public-suffix-list approach with a small inline suffix set
  * (the full PSL would be a broadcast dimension join of the same shape).
  */
object UrlOps {

  /** Capture-group regexes, shared verbatim with the DuckDB oracle. */
  val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  val authorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  val pathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  val queryRe = "\\?([^#]*)"
  val portRe = ":([0-9]+)$"
  val hostRe = "^([^:]*)"

  /** Two-level public suffixes recognized without the full PSL. */
  val twoLevelSuffixes: Seq[String] =
    Seq("co.uk", "gov.uk", "ac.uk", "com.au", "co.jp", "ac.jp")

  def scheme(url: Column): Column = lower(regexp_extract(url, schemeRe, 1))

  /** Lowercased host (authority minus any port). */
  def host(url: Column): Column =
    regexp_extract(lower(regexp_extract(url, authorityRe, 1)), hostRe, 1)

  /** ":port" suffix to KEEP: empty for no port or the scheme default. */
  private def portPart(url: Column): Column = {
    val p = regexp_extract(lower(regexp_extract(url, authorityRe, 1)), portRe, 1)
    when(p === "", lit(""))
      .when(scheme(url) === "http" && p === "80", lit(""))
      .when(scheme(url) === "https" && p === "443", lit(""))
      .otherwise(concat(lit(":"), p))
  }

  /** Path with trailing slashes stripped; empty → "/". Case preserved. */
  def canonPath(url: Column): Column = {
    val stripped = regexp_replace(regexp_extract(url, pathRe, 1), "/+$", "")
    when(stripped === "", lit("/")).otherwise(stripped)
  }

  /** Query with params sorted (empty params dropped); "" when absent. */
  private def canonQuery(url: Column): Column =
    array_join(
      array_sort(filter(split(regexp_extract(url, queryRe, 1), "&"),
        p => p =!= lit(""))),
      "&")

  /** Full canonical URL (see object doc for the rule set). */
  def canonicalize(url: Column): Column = {
    val q = canonQuery(url)
    concat(
      scheme(url), lit("://"), host(url), portPart(url), canonPath(url),
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** Registered domain of a (already-lowercased) host: last 2 labels, or
    * last 3 when the last 2 form a known two-level suffix; hosts with <2
    * labels pass through unchanged.
    */
  def registeredDomain(hostCol: Column): Column = {
    val labs = split(hostCol, "\\.")
    val last2 = concat_ws(".", element_at(labs, -2), element_at(labs, -1))
    val last3 = concat_ws(".", element_at(labs, -3), element_at(labs, -2),
      element_at(labs, -1))
    when(size(labs) < 2, hostCol)
      .when(size(labs) >= 3 && last2.isin(twoLevelSuffixes: _*), last3)
      .otherwise(last2)
  }

  /** Deterministic synthetic URL per (doc_id, source) — the documents table
    * has no URL column, so q68 derives one IN BOTH ENGINES from the same
    * arithmetic (the q59 augmentation-lattice pattern). The six variants
    * exercise every canonicalization rule: mixed case, default and
    * non-default ports, trailing slashes, unsorted query params, fragments,
    * empty paths, and a two-level-suffix host.
    */
  def syntheticUrl(docId: Column, source: Column): Column = {
    val id = docId.cast("string")
    val m = pmod(docId, lit(6))
    when(m === 0, concat(lit("HTTP://WWW.Example.COM:80/Articles/"), id,
        lit("/?utm=x&a=1#top")))
      .when(m === 1, concat(lit("https://cdn."), source,
        lit(".example.co.uk:443/a/b/c?z=9&b=2&a=1")))
      .when(m === 2, concat(lit("http://"), source, lit(".example.com/path/"), id))
      .when(m === 3, concat(lit("HTTPS://Blog."), source,
        lit(".Example.ORG:8443/x/")))
      .when(m === 4, concat(lit("http://"), source, lit(".example.com:8080/?q="),
        id, lit("#frag")))
      .otherwise(concat(lit("https://"), source, lit(".example.com")))
  }

  /** In-text URL matcher — RE2/Java-portable (no lookaround, scheme case-
    * insensitive via explicit classes rather than an (?i) flag); a URL runs
    * to the next whitespace, the same boundary a crawler's WET extractor
    * uses.
    */
  val linkRe = "[Hh][Tt][Tt][Pp][Ss]?://[^\\s]+"

  /** Robots-style disallow filtering — the crawl-politeness gate: a URL is
    * blocked when its canonical path starts with ANY disallowed prefix
    * registered for its domain. `rules` is a (domain, prefix) table — the
    * parsed robots.txt corpus, inherently tiny relative to the crawl, so
    * it broadcasts; a URL with several matching rules still yields ONE
    * output row (max-of-hits aggregation keyed by `doc_id`).
    *
    * 100 TB shape: parse/canonicalize is a narrow codegen'd projection;
    * the rules join is broadcast (row multiplication bounded by
    * rules-per-domain); the only shuffle is the per-URL hit aggregation.
    * Output: (doc_id, url, domain, path, blocked).
    */
  def robotsFilter(urls: DataFrame, rules: DataFrame): DataFrame = {
    val p = urls.select(col("doc_id"), col("url"),
      registeredDomain(host(col("url"))).as("domain"),
      canonPath(col("url")).as("path"))
    p.join(broadcast(rules.select(col("domain"), col("prefix"))), Seq("domain"), "left")
      .withColumn("_hit",
        when(col("prefix").isNotNull && col("path").startsWith(col("prefix")), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"), col("url"), col("domain"), col("path"))
      .agg((max(col("_hit")) === 1L).as("blocked"))
  }

  /** Domain-level link graph from in-text URLs — the host-graph stage of a
    * crawl pipeline (outlink extraction → canonical host → registered
    * domain → aggregated edge list, the input PageRank/centrality runs on).
    * `docDomain` is the originating page's registered domain (caller
    * supplies it — from a url column, or derived).
    *
    * 100 TB shape: extraction + host/domain derivation are one narrow
    * codegen'd projection per link (regex extract, split, CASE — no UDF);
    * the only shuffle is the final (src_domain, dst_domain) aggregation,
    * whose key space is the squared domain vocabulary, ≪ corpus. Output:
    * (src_domain, dst_domain, n_links, n_docs).
    */
  def domainLinkGraph(docs: DataFrame, docDomain: Column): DataFrame =
    docs
      .select(col("doc_id"), docDomain.as("src_domain"),
        explode(regexp_extract_all(col("text"), lit(linkRe), lit(0))).as("url"))
      .select(col("doc_id"), col("src_domain"),
        registeredDomain(host(col("url"))).as("dst_domain"))
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"), countDistinct(col("doc_id")).as("n_docs"))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization for web-corpus dedup (the CommonCrawl-style
  * curation step: the same page arrives under scheme/host case variants,
  * default ports, tracking parameters, shuffled query order, trailing
  * slashes, and fragments — canonicalize first or URL-level dedup
  * undercounts duplicates badly).
  *
  * Pure codegen'd expressions (regexp + array higher-order functions, no
  * UDF), so the canonical form computes on the scan at full width. The
  * grammar is the pragmatic subset corpus pipelines use (scheme://host
  * [:port][path][?query][#fragment], no userinfo); patterns avoid
  * lookaround so Java and RE2 engines agree.
  *
  * Canonical form:
  *   - scheme and host lowercased;
  *   - default ports stripped (http:80, https:443), others kept;
  *   - empty path → "/", trailing slashes stripped otherwise;
  *   - query params: tracking params dropped (utm_*, fbclid, gclid,
  *     msclkid), empties dropped, remainder SORTED and re-joined; an
  *     emptied query loses its "?";
  *   - fragment dropped;
  *   - input not matching the scheme grammar → null (opts out of dedup
  *     instead of colliding on a degenerate form).
  */
object UrlFunctions {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val HostPortRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  private val TrackingParamRe = "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)="

  /** The canonical URL string (see object doc for the normal form). */
  def canonicalizeUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, SchemeRe, 1))
    val hostport = lower(regexp_extract(u, HostPortRe, 1))
    val host = regexp_extract(hostport, "^([^:]*)", 1)
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val defaultPort =
      (scheme === "http" && port === "80") || (scheme === "https" && port === "443")
    val portPart =
      when(port === "" || defaultPort, lit("")).otherwise(concat(lit(":"), port))
    val noSlash = regexp_replace(regexp_extract(u, PathRe, 1), "/+$", "")
    val path = when(noSlash === "", lit("/")).otherwise(noSlash)
    // Anchored + lazy so only the FIRST '?' BEFORE any '#' starts the
    // query — an unanchored \? would resurrect a '?' inside the fragment
    // of a query-less URL ("/p#sec?x=1") as a phantom query.
    val rawQuery = regexp_extract(u, "^[^#]*?\\?([^#]*)", 1)
    val params = filter(
      split(rawQuery, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe))
    val sortedQ = array_join(array_sort(params), "&")
    val queryPart =
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ))
    // Inputs that don't match the scheme grammar (missing scheme, relative
    // URL, garbage) opt OUT of canonicalization as null — every
    // regexp_extract returns "" on them, so without this guard they would
    // ALL collapse to the same degenerate ":///" and a URL-level dedup
    // would falsely merge unrelated documents.
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portPart, path, queryPart))
  }
}

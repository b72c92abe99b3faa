package graft

import org.apache.spark.sql.functions._
import graft.functions.UrlFunctions

class UrlSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u")
      .select(UrlFunctions.canonicalizeUrl($"u").as("c"))
      .collect().map(_.getString(0)).toSeq

  test("canonicalizeUrl golden cases cover every normalization branch") {
    val cases = Seq(
      // scheme/host case + default port + fragment
      "HTTP://WWW.Example.COM:80/a/b#frag" -> "http://www.example.com/a/b",
      "https://Site.org:443/x" -> "https://site.org/x",
      // non-default port kept; http's default is not https's
      "https://site.org:80/x" -> "https://site.org:80/x",
      "http://site.org:8080/x" -> "http://site.org:8080/x",
      // empty path → "/", trailing slashes stripped
      "http://a.com" -> "http://a.com/",
      "http://a.com/" -> "http://a.com/",
      "http://a.com/p/q///" -> "http://a.com/p/q",
      // tracking params dropped, remainder sorted, empties dropped
      "http://a.com/p?utm_source=x&b=2&a=1" -> "http://a.com/p?a=1&b=2",
      "http://a.com/p?b=2&&a=1" -> "http://a.com/p?a=1&b=2",
      "http://a.com/p?fbclid=zz" -> "http://a.com/p",
      "http://a.com/p?gclid=1&msclkid=2&utm_campaign=c" -> "http://a.com/p",
      // query survives fragment strip
      "http://a.com/p?z=9&y=8#sec2" -> "http://a.com/p?y=8&z=9",
      // a '?' INSIDE the fragment of a query-less URL is not a query
      "http://a.com/p#sec?x=1" -> "http://a.com/p",
      // already-canonical fixed point
      "https://site.org:8080/x?a=1" -> "https://site.org:8080/x?a=1"
    )
    val got = canon(cases.map(_._1): _*)
    cases.zip(got).foreach { case ((in, want), out) =>
      assert(out == want, s"canonicalizeUrl($in) = $out, want $want")
    }
  }

  test("canonicalization is idempotent on its own output") {
    val raw = Seq(
      "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
      "https://Site.org:443//",
      "http://a.com/p?fbclid=zz")
    val once = canon(raw: _*)
    val twice = canon(once: _*)
    assert(once == twice)
  }

  test("malformed inputs canonicalize to null, never a shared degenerate form") {
    val malformed = Seq(
      "www.example.com/x",   // missing scheme
      "/a/b?x=1",            // relative URL
      "not a url",
      "",
      "://host/path")        // empty scheme
    val got = malformed.toDF("u")
      .select(UrlFunctions.canonicalizeUrl($"u").as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.forall(_.isEmpty),
      s"malformed inputs must opt out of dedup as null, got ${got.toSeq}")
    // and a null input stays null
    val n = Seq(Tuple1(null: String)).toDF("u")
      .select(UrlFunctions.canonicalizeUrl($"u")).collect()(0)
    assert(n.isNullAt(0))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("tokens/tokenCount handle empty, padded, and multi-space text") {
    val df = Seq("", "  ", "one", " a  b   c ").toDF("t")
      .select(TextFunctions.tokenCount($"t").as("n")).as[Int].collect().toSeq
    assert(df == Seq(0, 0, 1, 3))
  }

  test("normalize + fingerprint are whitespace/case insensitive") {
    val fp = Seq("Hello  World", "hello world", "HELLO WORLD  ")
      .toDF("t").select(TextFunctions.fingerprintMd5($"t")).as[String].collect()
    assert(fp.distinct.length == 1)
  }

  test("wordShingles produce n-k+1 shingles, empty below k") {
    assert(graft.operators.Dedup.MinHashK == 3)
    val sh = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.wordShingles($"t").as("s"))
      .select(size($"s")).as[Int].collect().toSeq
    assert(sh == Seq(2, 0))
  }

  test("quality score rewards prose, penalizes token soup") {
    val rows = Seq(
      "The quick brown fox, with a flick of the tail, jumps over the lazy dog. It is a fine day in the field, and the sun is warm.",
      "x1 x2 x3 x4"
    ).toDF("t").select(TextFunctions.qualityScore($"t")).as[Double].collect()
    assert(rows(0) > rows(1))
    assert(rows.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("langId detects marker languages and CJK") {
    val preds = Seq(
      "the cat and the dog of the house is in that garden it",
      "der hund und die katze ist nicht ein problem zu haben",
      "le chat et le chien est que des animaux une merveille",
      "你好世界这是中文文本",
      "zzz qqq www"
    ).toDF("t").select(TextFunctions.langId($"t")).as[String].collect().toSeq
    assert(preds == Seq("en", "de", "fr", "zh", "und"))
  }

  test("BPE-ish tokenization splits letter runs, single digits, punct runs") {
    val row = Seq("Hello, world 42!!  x7").toDF("t")
      .select(
        TextFunctions.tokensBpeIsh($"t").as("toks"),
        TextFunctions.tokenCountBpeIsh($"t").as("n"))
      .collect()(0)
    assert(row.getAs[scala.collection.Seq[String]]("toks").toSeq ==
      Seq("Hello", ",", "world", "4", "2", "!!", "x", "7"))
    assert(row.getAs[Int]("n") == 8)
    // empty text → zero tokens
    val empty = Seq("").toDF("t").select(TextFunctions.tokenCountBpeIsh($"t")).as[Int].collect()(0)
    assert(empty == 0)
  }

  test("ruleCategory: first matching rule wins in declaration order, else default") {
    val rules = Seq("stream" -> "streaming", "vector" -> "ml", "join" -> "relational")
    val out = Seq(
      "join stream data",   // both match → first rule (stream) wins
      "vector join",        // vector outranks join
      "plain join text",    // only the last rule
      "nothing relevant"    // default
    ).toDF("t")
      .select(TextFunctions.ruleCategory(TextFunctions.tokens($"t"), rules, "other"))
      .as[String].collect().toSeq
    assert(out == Seq("streaming", "ml", "relational", "other"))
  }

  test("ruleCategory matches whole tokens, never substrings") {
    val rules = Seq("stream" -> "streaming")
    val out = Seq("streaming data", "a stream here").toDF("t")
      .select(TextFunctions.ruleCategory(TextFunctions.tokens($"t"), rules, "other"))
      .as[String].collect().toSeq
    // "streaming" the TOKEN does not match the keyword "stream"
    assert(out == Seq("other", "streaming"))
  }

  test("htmlToText: scripts/styles drop with contents, blocks become lines, inline tags do not split words") {
    val html =
      """<html><head><SCRIPT type="text/js">if (1 < 2) { x = "</p>"; }</SCRIPT>
        |<StYlE>p { margin: 0 }</sTyLe></head>
        |<body><p>first para</p><p>sec<em>on</em>d</p><br/>after break</body></html>""".stripMargin
    val out = Seq(html).toDF("h")
      .select(TextFunctions.htmlToText($"h")).as[String].head()
    // case-insensitive script/style strip WITH contents (the "</p>" inside
    // the script must not leak a line break); <em> strips to a space
    assert(out == "first para\nsec on d\nafter break")
  }

  test("htmlToText: entity single-decode, &amp; decodes last") {
    val out = Seq("<p>x &lt;tag&gt; &amp;lt;literal&amp;gt; a&nbsp;&amp;&nbsp;b &quot;q&quot; &#39;s&#39;</p>")
      .toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // &amp;lt; renders as the four characters "&lt;" — never double-decodes to "<"
    assert(out == "x <tag> &lt;literal&gt; a & b \"q\" 's'")
  }

  test("htmlToText: whitespace collapses, empty lines vanish, attributes strip") {
    val out = Seq("<div class=\"a b\"  data-x='1'>  one   two </div>\n\n<div>\t</div><div>three</div>")
      .toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    assert(out == "one two\nthree")
  }

  test("htmlToText: numeric character references decode, invalid ones stay literal") {
    val out = Seq(
      "<p>It&#8217;s &#x2019;q&#X2019; nb&#160;sp &amp;#60;trap " +
        "&#; &#x; &#1114112; &#xD800; &#0; &unknown;</p>")
      .toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // dec + hex (both X cases) decode; &#160; joins the whitespace
    // collapse like &nbsp;; &amp;#60; single-decodes to the literal five
    // characters "&#60;"; empty/overflow/surrogate/zero refs and unknown
    // named entities pass through untouched
    assert(out == "It’s ’q’ nb sp &#60;trap " +
      "&#; &#x; &#1114112; &#xD800; &#0; &unknown;")
  }

  test("htmlToText: comments and CDATA drop with contents, even unterminated") {
    val out = Seq(
      "<p>keep1</p><!-- secret <p>never</p> --><p>keep2</p>" +
        "<![CDATA[raw <td> bytes]]><p>keep3</p><!-- trailing junk")
      .toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // comment prose and its embedded block tag vanish (no newline leak);
    // CDATA contents vanish; an unterminated comment drops to end-of-input
    assert(out == "keep1\nkeep2\nkeep3")
  }

  test("htmlToText: pre keeps its whitespace layout through the global collapse") {
    val out = Seq(
      "<p>intro</p><pre>\n  x = 1;\n\ty &lt; 2;\n\n  done</pre><p>after</p>")
      .toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // HTML5 ignore-first-newline applies; indentation, the tab, and the
    // BLANK line inside the pre all survive; the entity decodes in place
    assert(out == "intro\n  x = 1;\n\ty < 2;\n\n  done\nafter")
  }

  test("htmlToText: pre edge cases — name boundary, self-closing, unterminated, inner markup") {
    def x(h: String) =
      Seq(h).toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // <presentation> is NOT <pre>: whitespace collapses normally
    assert(x("<presentation>a   b</presentation>") == "a b")
    // self-closing <pre/> protects nothing
    assert(x("a<pre/>b   c") == "a\nb c")
    // unterminated <pre> protects to end-of-input (browser behavior)
    assert(x("<p>t</p><pre>a  b\n  c") == "t\na  b\n  c")
    // inner inline markup strips to a real (collapsible) space — the
    // regex-tier trade: sentinels keep the "  " but <code> adds one space
    assert(x("<pre>a<code>  b</code></pre>") == "a   b")
    // attributes on the open tag are fine; case-insensitive
    assert(x("<PRE class='c'>a  b</PRE>") == "a  b")
    // document-EDGE trim still applies to restored whitespace
    assert(x("<pre>  lead</pre>") == "lead")
  }

  test("htmlToText: pre regex-tier limits are deliberate (entity whitespace, quoted '>', trailing-slash attr)") {
    def x(h: String) =
      Seq(h).toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // ADVICE r11, accepted + documented in the step-6 contract: entity
    // decode runs AFTER sentineling, so whitespace written as character
    // references inside a pre span is NOT protected — it decodes in step 5
    // and collapses like ordinary whitespace (literal whitespace survives).
    assert(x("<pre>a&#32;&#32;&#32;b</pre>") == "a b")
    assert(x("<pre>a  b</pre>") == "a  b")
    // ... and an entity decoding to a sentinel code point (U+0001) is
    // translated to the sentinel's meaning (space) at restore time.
    assert(x("<p>a&#1;b</p>") == "a b")
    // protect() ends the opening tag at the FIRST '>': a quoted attribute
    // containing '>' truncates the tag and the attribute remainder is
    // protected as pre content — degraded span, neighbors untouched.
    assert(x("<pre data-x=\"a>b\">c  d</pre>tail") == "b\">c  d\ntail")
    // an unquoted attribute ending in '/' reads as self-closing <pre/>:
    // nothing is protected, content collapses normally.
    assert(x("<pre attr=foo/>a  b</pre>") == "a b")
  }

  test("htmlToText: title and table cells are block-level") {
    val out = Seq(
      "<html><head><title>T</title></head><body>lead" +
        "<table><tr><td>c1</td><th>c2</th></tr><caption>cap</caption></table>" +
        "tail</body></html>")
      .toDF("h").select(TextFunctions.htmlToText($"h")).as[String].head()
    // head content must not glue onto the first body line; each cell and
    // the caption gets its own line
    assert(out == "T\nlead\nc1\nc2\ncap\ntail")
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, fingerprinting, quality scoring, language id.
  *
  * All built-in-function compositions (no UDFs): each is a per-row codegen'd
  * expression with no shuffle, so they map over 100 TB of documents at scan
  * speed.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. Empty text → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** "BPE-ish" pre-tokenization: letter runs, SINGLE digits, punctuation
    * runs — an RE2/Java-regex-compatible simplification of the GPT-2
    * pre-tokenizer split (which needs lookahead; this keeps its token-class
    * structure without it), so LLM-oriented token counts are computable on
    * both engines at scan speed. */
  val BpeIshPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+"

  def tokensBpeIsh(text: Column): Column = regexp_extract_all(text, lit(BpeIshPattern), lit(0))

  def tokenCountBpeIsh(text: Column): Column = size(tokensBpeIsh(text))

  /** Character count excluding all whitespace. */
  def charCountNoSpace(text: Column): Column =
    length(regexp_replace(text, "\\s", ""))

  /** Canonical text normalization for fingerprinting: lowercase, collapse
    * whitespace runs to single spaces, trim. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic 128-bit content fingerprint of normalized text (md5 hex —
    * cross-engine portable). */
  def fingerprintMd5(text: Column): Column =
    md5(normalize(text).cast("binary"))

  /** k-shingles over an ALREADY-MATERIALIZED token array column. Callers
    * with a DataFrame at hand should project `tokens(text)` into its own
    * column first and pass that here: the slice-per-shingle lambda then
    * reads a bound array, whereas passing `tokens(text)` directly re-runs
    * the regex split once per shingle (lambda bodies are re-evaluated per
    * element and sit outside subexpression elimination). */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))
        )
      )

  /** Word shingles of the MinHash width [[graft.operators.Dedup.MinHashK]]
    * as space-joined strings; documents shorter than that many tokens
    * yield no shingles. Single-expression form — see [[shinglesOfTokens]]
    * for the staged form used on hot paths. */
  def wordShingles(text: Column): Column =
    shinglesOfTokens(tokens(text), graft.operators.Dedup.MinHashK)

  /** Distinct [[wordShingles]] (set semantics, for Jaccard). */
  def distinctShingles(text: Column): Column =
    array_distinct(wordShingles(text))

  // --- Quality scoring (length / punctuation / stopword heuristics) -------

  val StopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from"
  )

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  def stopwordCount(text: Column): Column =
    size(filter(tokens(lower(text)), t => t.isin(StopWords: _*)))

  /** Ratio helpers guard n=0 to stay null-free. */
  private def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))

  def punctRatio(text: Column): Column = ratio(punctCount(text), length(text))

  def stopwordRatio(text: Column): Column =
    ratio(stopwordCount(text), tokenCount(text))

  def meanTokenLength(text: Column): Column =
    ratio(charCountNoSpace(text), tokenCount(text))

  /** Composite document quality score in [0,1]: rewards stopword presence
    * (natural prose), moderate token length, and some punctuation — the
    * standard cheap pre-filter shape for web-scale corpus cleaning. Fixed
    * double operation order → bit-deterministic. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(64.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val punctScore = least(punctRatio(text) * lit(20.0), lit(1.0))
    lenScore * lit(0.4) + stopScore * lit(0.4) + punctScore * lit(0.2)
  }

  // --- Repetition metrics (Gopher-style duplication quality filters) ------
  // Rae et al. 2021 ("Scaling Language Models", the Gopher corpus filters)
  // drop documents dominated by repeated lines/n-grams. These are the
  // token-level analogues, per-row codegen folds — no shuffle, no UDF.

  /** Fraction of token occurrences that are repeats of an earlier token:
    * 1 - distinct/total. 0 for empty docs. */
  def dupTokenFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      (size(toks) - size(array_distinct(toks))).cast("double") / size(toks).cast("double"))

  /** Occurrence count of the single most frequent token: sort the array,
    * then one fold tracking the longest equal-run — O(t log t) per row and
    * codegen'd, vs the O(distinct × t) nested-loop count. */
  def topTokenCount(toks: Column): Column =
    aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"), greatest(run, acc.getField("best")).as("best"))
      }
    ).getField("best")

  /** Fraction of all token occurrences taken by the most frequent token. */
  def topTokenFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(topTokenCount(toks).cast("double") / size(toks).cast("double"))

  /** Fraction of token-bigram occurrences that are repeats (the
    * "duplicate n-gram fraction" filter); 0 when the doc has < 2 tokens. */
  def dupShingleFraction(toks: Column): Column = {
    val sh = shinglesOfTokens(toks, 2)
    when(size(sh) === 0, lit(0.0)).otherwise(
      (size(sh) - size(array_distinct(sh))).cast("double") / size(sh).cast("double"))
  }

  // --- Language identification (marker-token heuristic) -------------------

  /** Marker stopwords per language; the n-gram-free heuristic: count marker
    * hits per language over the token stream, argmax with a fixed
    * tie-break order (en < de < es < fr < zh). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "de"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "des", "une"),
    "zh" -> Seq.empty // handled by CJK codepoint detection below
  )

  def cjkCharCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))

  /** Predicted language code. CJK characters dominate; otherwise the marker
    * counts vote with deterministic tie-breaking (first language in
    * [[LangMarkers]] order wins ties, 'und' when no markers hit).
    *
    * Single pass: the text is tokenized ONCE and one `aggregate` fold
    * accumulates a per-language count array (each token pays |languages|
    * set-membership checks, no re-tokenization). The argmax is then a second
    * fold over the zipped (count, lang) array, so the count array expression
    * is referenced exactly once — higher-order functions sit outside
    * Catalyst's subexpression elimination, and a per-language marker count
    * would re-split the text per language (measured 4x the regex work). */
  def langId(text: Column): Column = {
    val langs = LangMarkers.collect { case (l, ms) if ms.nonEmpty => (l, ms) }
    val counts = aggregate(
      tokens(lower(text)),
      array_repeat(lit(0), langs.size),
      (acc, t) =>
        zip_with(
          acc,
          array(langs.map { case (_, ms) => when(t.isin(ms: _*), 1).otherwise(0) }: _*),
          (a, b) => a + b
        )
    )
    val codes = array(langs.map { case (l, _) => lit(l) }: _*)
    val best = aggregate(
      zip_with(counts, codes, (c, l) => struct(c.as("c"), l.as("l"))),
      struct(lit(0).as("c"), lit("und").as("l")),
      // strictly-greater keeps the earlier language on ties — the
      // LangMarkers declaration order, same contract as before
      (acc, x) => when(x.getField("c") > acc.getField("c"), x).otherwise(acc)
    )
    when(cjkCharCount(text) * 2 > length(text), lit("zh")).otherwise(best.getField("l"))
  }

  /** First-match-wins keyword taxonomy: the category of the FIRST rule
    * (in declaration order) whose keyword appears among `toks`, else
    * `default` — the rule-based domain classifier a curation pipeline runs
    * before any learned model exists (and keeps as the auditable
    * fallback). Rules compile to a nested `when` chain — a per-row codegen
    * expression, no join, no shuffle: at 100 TB the classifier rides the
    * scan. For rule tables too large to inline (thousands of keywords),
    * switch to a broadcast join on an exploded keyword column; below ~100
    * rules the literal CASE is both faster and plan-transparent. */
  def ruleCategory(toks: Column, rules: Seq[(String, String)], default: String): Column =
    rules.foldRight(lit(default)) { case ((kw, cat), acc) =>
      when(array_contains(toks, kw), lit(cat)).otherwise(acc)
    }

  /** HTML → text extraction — the FIRST step of every web-corpus pipeline
    * (the simplified deterministic tier of the trafilatura/resiliparse
    * class, as pure codegen regex passes — no UDF, no parser library, so
    * the 100 TB extraction pass rides the scan like every other
    * TextFunction):
    *
    *  1. script/style elements drop WITH their contents (code is not
    *     prose; the backreferenced close-tag match is Java-regex only,
    *     which is fine — extraction runs on the Spark side; oracles
    *     derive expected text independently);
    *  2. HTML comments and `<![CDATA[...]]>` sections drop WITH their
    *     contents (comment prose is author notes, not page text; HTML5
    *     tokenizes a CDATA section in HTML content as a bogus comment —
    *     neither renders). An UNTERMINATED opener drops to end-of-input,
    *     the browser behavior — truncated pages must not leak markup;
    *  3. block-level tags become newlines (paragraph structure survives
    *     for the line-level scrubs downstream — [[graft.operators.Dedup
    *     .dropDuplicatedLines]] composes directly); `title`/`td`/`th`/
    *     `caption` are block-level here — head content and table cells
    *     must not glue onto the adjacent text;
    *  4. remaining tags strip to spaces (inline markup does not split
    *     words);
    *  5. character references decode — named entities AND decimal/hex
    *     numeric refs (`&#8217;`/`&#x2019;`) — in ONE pass of the
    *     [[graft.plans.HtmlEntityDecode]] kernel, single-decode
    *     semantics: `&amp;lt;` renders as the four characters `&lt;`,
    *     never double-decodes to `<`;
    *  6. `<pre>` content keeps its whitespace layout (code blocks are
    *     the one place collapse destroys meaning): the
    *     [[graft.plans.PreWhitespaceSentinels]] kernel rewrites
    *     in-`pre` whitespace to C0 sentinels BEFORE the block/strip
    *     passes and the extractor translates them back AFTER the global
    *     collapse — HTML5's ignore-first-newline rule applies, inner
    *     inline markup still strips to a (collapsible) space, and
    *     document-EDGE trim still applies to restored whitespace.
    *     Accepted regex-tier limitation (pinned in TextSpec):
    *     entity decode (step 5) runs AFTER sentineling, so whitespace
    *     produced by character references inside a pre span (`&#10;`,
    *     `&#9;`, `&#32;`, `&Tab;`) is NOT protected and collapses like
    *     ordinary whitespace; conversely an entity decoding to U+0001-3
    *     (`&#1;`) is translated to space/tab/newline at restore. Fixing
    *     either would need entity decode INSIDE the pre scan — a parser,
    *     not a regex tier; real-world pre blocks write their layout as
    *     literal whitespace, which is protected;
    *  7. whitespace normalizes: runs containing a newline collapse to one
    *     newline, other runs to one space, lines trim, ends trim.
    *
    * Not a spec-complete HTML5 parser (exotic NAMED entities pass
    * through literally) — the production trade every regex-tier
    * extractor makes; the value is determinism and scan-speed.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>", " ")
    // comments/CDATA AFTER script/style (a commented-out <script> block
    // is removed by the script rule first, so the comment rule sees only
    // the empty shell) and BEFORE the block-tag rule (a block tag inside
    // a comment must not emit a newline).
    val noComments = regexp_replace(noScript, "(?s)<!--.*?(?:-->|$)", " ")
    val noCdata = regexp_replace(noComments, "(?s)<!\\[CDATA\\[.*?(?:\\]\\]>|$)", " ")
    // pre protection AFTER the drop-with-contents rules (a <pre> inside a
    // comment never renders) and BEFORE block/strip (the whitespace must
    // be sentineled before any global pass can touch it)
    val protectedPre = graft.plans.GraftFunctions.preSentinels(noCdata)
    val blocks = regexp_replace(protectedPre,
      "(?i)</?(p|br|hr|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|table|td|th|caption|" +
        "title|blockquote|pre|" +
        "section|article|header|footer|nav|aside|form|figure|figcaption)\\b[^>]*/?>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val amp = graft.plans.GraftFunctions.htmlUnescape(noTags)
    val nlRuns = regexp_replace(amp, "[ \\t\\x0B\\f\\r]*\\n\\s*", "\n")
    val spRuns = regexp_replace(nlRuns, "[ \\t\\x0B\\f\\r]+", " ")
    // regex trim, not trim(): built-in trim strips SPACES only, and a
    // block tag at the document edge leaves a leading/trailing newline
    val trimmed =
      regexp_replace(regexp_replace(spRuns, "(?m)^ | $", ""), "^\\s+|\\s+$", "")
    // restore pre whitespace AFTER every collapse/trim pass (sentinels are
    // not \s, so they rode through untouched); one more edge trim so a
    // document ENDING in a pre still honors the ends-trim contract
    regexp_replace(
      translate(trimmed, "\u0001\u0002\u0003", " \t\n"),
      "^\\s+|\\s+$", "")
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `<pre>` whitespace protection for
  * [[graft.functions.TextFunctions.htmlToText]] — the tier-3 realism rule
  * (`<br>` → newline already rides the block-tag pass; this covers the
  * other everyday one: code blocks must keep their layout).
  *
  * The extractor's whitespace normalization is GLOBAL (regex passes over
  * the whole document), so preformatted content is protected by
  * sentinel-substitution around it: this expression rewrites whitespace
  * INSIDE `<pre …> … </pre>` spans to the private-use sentinels
  * `U+0001` (space), `U+0002` (tab), `U+0003` (newline — `\r\n`, `\r`
  * and `\n` each become ONE sentinel, the parser's newline
  * normalization), and after the normal collapse/trim passes the
  * extractor translates the sentinels back. The `<pre>` tags themselves
  * pass through unchanged for the downstream block-tag rule; inner
  * markup (`<code>`, `<span>`) still strips to spaces — an accepted
  * regex-tier simplification.
  *
  * HTML5 fidelity kept where it is cheap:
  *   - tag-name boundary is enforced (`<pre>`/`<pre …>`/`<pre/>`
  *     match; `<presentation>` does not);
  *   - a single newline immediately after the opening tag is DROPPED
  *     (the spec's "ignore the first newline in a pre" tokenizer rule);
  *   - an unterminated `<pre>` protects to end-of-input, the browser
  *     behavior for truncated pages.
  *
  * Regex-tier fidelity limits, deliberate and pinned in TextSpec: the
  * opening tag ends at the FIRST `>` — a quoted
  * attribute containing `>` (`<pre data-x="a>b">`) truncates the tag
  * there and the attribute remainder is protected as content (a real
  * attribute scanner is parser-tier); and self-closing detection is
  * `charAt(gt-1)=='/'`, so an unquoted attribute value ending in `/`
  * (`<pre attr=foo/>`) reads as contentless `<pre/>`. Both degrade one
  * pathological tag's span, never neighboring text.
  *
  * Sentinel collision: U+0001-0003 are C0 controls that never appear in
  * legitimate web text (the HTML5 spec makes them parse errors); a
  * pathological input containing them would surface them as
  * space/tab/newline after translation — degraded, never corrupting
  * neighboring text.
  *
  * Why an Expression and not a UDF (SURVEY.md §7 ladder, tier b): runs
  * once per document on the 100 TB text column; codegen is a
  * static-method call so the extraction chain stays inside whole-stage
  * codegen. Fast path: no `<pre` (case-insensitive) → the input
  * UTF8String returns unchanged, zero allocation.
  */
case class PreWhitespaceSentinels(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_pre_sentinels requires a string argument, got ${t.sql}")
    }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "graft_pre_sentinels"

  override def nullSafeEval(input: Any): Any =
    PreWhitespaceSentinels.protect(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PreWhitespaceSentinels.protect($c)")

  override protected def withNewChildInternal(
      newChild: Expression): PreWhitespaceSentinels =
    copy(child = newChild)
}

object PreWhitespaceSentinels {

  final val SentinelSpace = '\u0001'
  final val SentinelTab = '\u0002'
  final val SentinelNewline = '\u0003'

  /** True iff `s` has (case-insensitive) `pre` at `i` followed by a
    * tag-name boundary (`>`, whitespace, or `/`). */
  private def preNameAt(s: String, i: Int): Boolean = {
    if (i + 3 > s.length) return false
    val ok = (s.charAt(i) | 0x20) == 'p' &&
      (s.charAt(i + 1) | 0x20) == 'r' &&
      (s.charAt(i + 2) | 0x20) == 'e'
    if (!ok) return false
    if (i + 3 == s.length) return true // "<pre" at EOF: unterminated open
    val c = s.charAt(i + 3)
    c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' ||
      c == '\r' || c == '\f'
  }

  /** Shared by interpreted eval and generated code. */
  def protect(u: UTF8String): UTF8String = {
    val s = u.toString
    val n = s.length
    // fast path: find a real "<pre" opener before allocating anything
    var scan = s.indexOf('<')
    var found = -1
    while (scan >= 0 && found < 0) {
      if (preNameAt(s, scan + 1)) found = scan
      else scan = s.indexOf('<', scan + 1)
    }
    if (found < 0) return u

    val sb = new java.lang.StringBuilder(n)
    sb.append(s, 0, found)
    var i = found
    while (i < n) {
      // at a verified "<pre" opener: copy the tag through, then protect
      val gt = s.indexOf('>', i)
      if (gt < 0) { sb.append(s, i, n); return UTF8String.fromString(sb.toString) }
      sb.append(s, i, gt + 1)
      // self-closing <pre/> has no content
      val selfClosing = gt >= 1 && s.charAt(gt - 1) == '/'
      var j = gt + 1
      if (!selfClosing) {
        // spec rule: one newline right after the opening tag is ignored
        if (j < n && s.charAt(j) == '\r') {
          j += 1; if (j < n && s.charAt(j) == '\n') j += 1
        } else if (j < n && s.charAt(j) == '\n') j += 1
        var closed = false
        while (j < n && !closed) {
          val c = s.charAt(j)
          if (c == '<' && j + 1 < n && s.charAt(j + 1) == '/' &&
            preNameAt(s, j + 2)) {
            closed = true // the "</pre…>" tag copies through below
          } else {
            c match {
              case ' ' => sb.append(SentinelSpace); j += 1
              case '\t' => sb.append(SentinelTab); j += 1
              case '\n' => sb.append(SentinelNewline); j += 1
              case '\r' =>
                sb.append(SentinelNewline)
                j += 1; if (j < n && s.charAt(j) == '\n') j += 1
              case other => sb.append(other); j += 1
            }
          }
        }
      }
      // resume normal copying up to the next "<pre" OPENER (preNameAt is
      // false at a closing "</pre…" — the char after '<' is '/'), so the
      // close tag we stopped at copies through as plain text here
      var next = if (j >= n) -1 else s.indexOf('<', j)
      var nextOpen = -1
      while (next >= 0 && nextOpen < 0) {
        if (preNameAt(s, next + 1)) nextOpen = next
        else next = s.indexOf('<', next + 1)
      }
      if (nextOpen < 0) {
        if (j < n) sb.append(s, j, n)
        i = n
      } else {
        sb.append(s, j, nextOpen)
        i = nextOpen
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

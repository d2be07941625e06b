package graft.promql

import scala.util.matching.Regex

import graft.operators.LabelMatcher
import graft.promql.PromQLLexer.{Dur, Ident, Kind, Num, Op, Punct, Str, Tok,
  Unknown, lex}

/** Restricted PromQL endpoint semantics (reference:
  * src/ingestors/http/simple_promql.rs:25-324): only vector selectors
  * (instant; implicit 1h lookback) and matrix selectors (`metric[5m]` →
  * now-range..now) are legal. Aggregations, function calls, binary/unary
  * ops, subqueries, and literals are rejected with specific messages;
  * parentheses unwrap; trailing input is rejected. The metric
  * name becomes a `__name__` equality matcher.
  *
  * The grammar reads [[PromQLLexer]] tokens, so the extended front end
  * parses its selector leaves here from its own token vector.
  */
object SimplePromQL {

  /** reference: DEFAULT_LOOKBACK_MS (simple_promql.rs:25) */
  val DefaultLookbackMs: Long = 3600L * 1000L

  /** @param hadRange whether the selector carried an explicit `[range]`
    *                  window (vs the implicit lookback) — callers that
    *                  accept only instant vectors reject on this flag
    *                  rather than scraping the query text for brackets
    */
  final case class ParsedQuery(
      matchers: Seq[LabelMatcher],
      startUs: Long,
      endUs: Long,
      hadRange: Boolean = false)

  final case class PromQLError(message: String) extends Exception(message)

  private val AggregationKeywords = Set(
    "sum", "avg", "count", "min", "max", "group", "stddev", "stdvar",
    "topk", "bottomk", "count_values", "quantile")

  /** @param nowUs evaluation time (µs); tests pin it, the HTTP edge passes
    *              the wall clock
    */
  def parse(query: String, nowUs: Long): ParsedQuery = {
    val toks = lex(query)
    restricted(new Grammar(query, toks, toks.length, query.length), 0, nowUs)
  }

  /** [[parse]] of the query that tokens [lo, hi) of `src` spell. */
  private[promql] def parse(src: String, toks: IndexedSeq[Tok], lo: Int,
      hi: Int, nowUs: Long): ParsedQuery =
    restricted(new Grammar(src, toks, hi, if (hi > lo) toks(hi - 1).end else 0),
      lo, nowUs)

  private def restricted(g: Grammar, lo: Int, nowUs: Long): ParsedQuery = {
    val sel = g.query(lo)
    if (sel.matchers.isEmpty)
      throw PromQLError(
        "Query must have at least one matcher (metric name or label)")
    window(sel, nowUs)
  }

  /** A selector without its metric name: a `{…}` block, which may be
    * empty (`{}` matches every series), then the rest of the grammar.
    */
  def parseBlock(query: String, nowUs: Long): ParsedQuery = {
    val toks = lex(query)
    val g = new Grammar(query, toks, toks.length, query.length)
    window(g.end(g.afterName(0, Nil)), nowUs)
  }

  private def window(sel: Selector, nowUs: Long): ParsedQuery =
    ParsedQuery(sel.matchers,
      nowUs - sel.rangeMs.fold(DefaultLookbackMs * 1000L)(msToUs), nowUs,
      hadRange = sel.rangeMs.nonEmpty)

  /** The reference's rejection of a non-selector query: `what` is one
    * of agg, call, binary, unary, subquery or literal.
    */
  private[promql] def rejection(what: String): PromQLError = {
    val only = "Only simple selectors like 'metric_name{label=\"value\"}' " +
      "or 'metric_name[5m]' are supported."
    PromQLError(what match {
      case "agg" => "Aggregation expressions (like sum(), avg(), count()) " +
        s"are not supported. $only"
      case "call" => "Function calls (like rate(), increase(), " +
        s"histogram_quantile()) are not supported. $only"
      case "binary" =>
        s"Binary operations (like +, -, *, /) are not supported. $only"
      case "unary" => s"Unary operations are not supported. $only"
      case "subquery" => s"Subqueries are not supported. $only"
      case _ => "Literal values are not valid queries. Use a metric " +
        "selector like 'metric_name{label=\"value\"}'."
    })
  }

  private final case class Selector(
      matchers: Seq[LabelMatcher], rangeMs: Option[Long])

  private val Escape = "(?s)\\\\(.)".r

  /** The value of a `"…"` token: `\n` and `\t` decode, any other
    * escaped character stands for itself. The lexer pairs escapes the
    * same way, so the string is closed when a quote is left over at its
    * end once the escape pairs are gone.
    */
  private def unquote(t: Tok): String = {
    val body = t.text.substring(1)
    if (!Escape.replaceAllIn(body, "").endsWith("\""))
      throw PromQLError("Failed to parse PromQL query: unterminated string")
    Escape.replaceAllIn(body.dropRight(1), m => Regex.quoteReplacement(
      m.group(1) match { case "n" => "\n"; case "t" => "\t"; case c => c }))
  }

  /** The grammar over tokens [.., hi) of `src`: parens, then a metric
    * name and/or a `{…}` matcher block, then an optional `[dur]`. Each
    * function takes the index of its first token and returns the index
    * after its last. Messages quote the source from the offending token
    * up to `stop`.
    */
  private final class Grammar(src: String, toks: IndexedSeq[Tok], hi: Int,
      stop: Int) {
    private def is(k: Int, kind: Kind, text: String): Boolean =
      k < hi && toks(k).kind == kind && toks(k).text == text
    private def from(k: Int): Int = if (k < hi) toks(k).start else stop
    private def failAt(at: Int) = PromQLError(
      s"Failed to parse PromQL query at: '${src.substring(at, stop)}'")
    private def trailing(at: Int) = PromQLError(
      s"Unexpected trailing content in query: '${src.substring(at, stop)}'")
    private def unbalanced =
      PromQLError("Failed to parse PromQL query: unbalanced parentheses")

    /** A selector in any number of parens (reference:
      * simple_promql.rs:162-164), filling the range.
      */
    def query(lo: Int): Selector = {
      val open = (lo until hi).takeWhile(is(_, Punct, "(")).length
      val (sel, next) = selector(lo + open, open)
      end((sel, (0 until open).foldLeft(next) { (k, _) =>
        if (!is(k, Punct, ")")) throw unbalanced
        trailingOperator(k + 1)
      }))
    }

    def end(r: (Selector, Int)): Selector =
      if (r._2 < hi) throw trailing(toks(r._2).start) else r._1

    /** A name: the adjacent `Ident`, `:` and digit-led number tokens from
      * `k`, cut at the first `.`, `+` or `-` inside a number, as (name,
      * next token, offset of the cut or -1).
      */
    private def word(k: Int): (String, Int, Int) = {
      var j = k
      while (j < hi && (j == k || toks(j).start == toks(j - 1).end) &&
          (toks(j).kind == Ident || is(j, Punct, ":") ||
            ((toks(j).kind == Num || toks(j).kind == Dur) &&
              toks(j).text.head.isDigit))) j += 1
      val run = src.substring(from(k), if (j > k) toks(j - 1).end else from(k))
      val cut = run.indexWhere("+-.".contains(_))
      if (cut < 0) (run, j, -1) else (run.take(cut), j, from(k) + cut)
    }

    private def selector(k: Int, open: Int): (Selector, Int) = {
      if (k < hi) toks(k) match {
        case Tok(Op, "+" | "-", _, _) => throw rejection("unary")
        case Tok(Num | Dur, t, _, _) if t.head.isDigit => throw rejection("literal")
        case Tok(Str, _, _, _) | Tok(Unknown, "'", _, _) => throw rejection("literal")
        case Tok(Punct, "{", _, _) => return afterName(k, Nil)
        case _ =>
      }
      val (name, next, cut) = word(k)
      if (name.isEmpty) throw failAt(from(k))
      // a name cut inside a number is followed by a sign (a binary
      // operator) or by a `.` (trailing content)
      if (cut >= 0) throw (if (src.charAt(cut) != '.') rejection("binary")
        else if (open > 0) unbalanced else trailing(cut))
      val agg = AggregationKeywords.contains(name)
      if (is(next, Punct, "(")) throw rejection(if (agg) "agg" else "call")
      // `sum by (x) (...)` form
      if (agg && (is(next, Ident, "by") || is(next, Ident, "without")))
        throw rejection("agg")
      afterName(next, Seq(LabelMatcher.Eq(LabelMatcher.NameLabel, name)))
    }

    /** The matcher block, range and operator check after a metric name. */
    def afterName(k: Int, named: Seq[LabelMatcher]): (Selector, Int) = {
      val (block, next) =
        if (is(k, Punct, "{")) matcherBlock(k + 1) else (Nil, k)
      val (range, after) = optionalRange(next)
      (Selector(named ++ block, range), trailingOperator(after))
    }

    private def trailingOperator(k: Int): Int =
      if (k < hi && (toks(k) match {
          case Tok(Op, op, _, _) => op != "@"
          case Tok(Unknown, t, _, _) => t == "!"
          case Tok(Ident, t, _, _) => t == "and" || t == "or" || t == "unless"
          case _ => false
        })) throw rejection("binary")
      else k

    /** `label op "value"` pairs separated by commas, from the token after
      * `{` through its `}`.
      */
    private def matcherBlock(first: Int): (Seq[LabelMatcher], Int) = {
      if (is(first, Punct, "}")) return (Nil, first + 1)
      val out = Seq.newBuilder[LabelMatcher]
      var k = first
      var more = true
      while (more) {
        val (key, op, cut) = word(k)
        if (key.isEmpty) throw failAt(from(k))
        if (cut >= 0) throw failAt(cut)
        val matcher: (String, String) => LabelMatcher =
          (if (op < hi && toks(op).kind == Op) toks(op).text else "") match {
            case "=" => LabelMatcher.Eq
            case "!=" => LabelMatcher.NotEq
            case "=~" => LabelMatcher.Re
            case "!~" => LabelMatcher.NotRe
            // `=` with a second `=` where the value goes
            case "==" => throw failAt(toks(op).start + 1)
            case _ => throw failAt(from(op))
          }
        if (!(op + 1 < hi && toks(op + 1).kind == Str)) throw failAt(from(op + 1))
        out += matcher(key, unquote(toks(op + 1)))
        more = is(op + 2, Punct, ",")
        k = op + (if (more) 3 else 2)
      }
      if (!is(k, Punct, "}")) throw failAt(from(k))
      (out.result(), k + 1)
    }

    /** `[dur]`: the source from `[` to the first `]` or `:` after it,
      * wherever that falls (a `:` is a subquery).
      */
    private def optionalRange(k: Int): (Option[Long], Int) =
      if (!is(k, Punct, "[")) (None, k)
      else {
        def bound(c: Char): Boolean = c == ']' || c == ':'
        val j = (k + 1 until hi).find(toks(_).text.exists(bound)).getOrElse(
          throw PromQLError("Failed to parse PromQL query: unterminated range"))
        val at = toks(j).start + toks(j).text.indexWhere(bound)
        if (src.charAt(at) == ':') throw rejection("subquery")
        (Some(parseDurationMs(src.substring(toks(k).end, at))), j + 1)
      }
  }

  /** Prometheus duration: concatenated `<n><unit>` terms
    * (ms, s, m, h, d, w, y). Values past Long range (as ms) are a parse
    * error, never a silent wraparound into a negative window.
    */
  def parseDurationMs(d: String): Long = {
    val parts = DurationTerm.findAllMatchIn(d).toSeq
    if (parts.isEmpty || parts.map(_.matched.length).sum != d.length)
      throw PromQLError(s"Failed to parse PromQL query: bad duration '$d'")
    try parts.map(m => Math.multiplyExact(m.group(1).toLong, UnitMs(m.group(2))))
      .reduce(Math.addExact(_, _))
    catch {
      case _: NumberFormatException | _: ArithmeticException =>
        throw PromQLError(
          s"Failed to parse PromQL query: duration '$d' out of range")
    }
  }

  private val DurationTerm = """(\d+)(ms|s|m|h|d|w|y)""".r
  private val UnitMs = Map("ms" -> 1L, "s" -> 1000L, "m" -> 60000L,
    "h" -> 3600000L, "d" -> 86400000L, "w" -> 604800000L, "y" -> 31536000000L)

  /** Milliseconds → microseconds with the same out-of-range contract as
    * [[parseDurationMs]] (callers convert parsed durations to the µs
    * timeline; 2^63 µs is ~292k years, so only absurd inputs hit this).
    */
  def msToUs(ms: Long): Long =
    try Math.multiplyExact(ms, 1000L)
    catch {
      case _: ArithmeticException =>
        throw PromQLError(s"Duration out of range: ${ms}ms")
    }
}

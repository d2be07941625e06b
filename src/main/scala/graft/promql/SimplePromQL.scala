package graft.promql

import graft.operators.LabelMatcher

/** Restricted PromQL endpoint semantics (reference:
  * src/ingestors/http/simple_promql.rs:25-324): only vector selectors
  * (instant; implicit 1h lookback) and matrix selectors (`metric[5m]` →
  * now-range..now) are legal. Aggregations, function calls, binary/unary
  * ops, subqueries, and literals are rejected with specific messages;
  * parentheses unwrap; trailing input is rejected. The metric
  * name becomes a `__name__` equality matcher.
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
    val p = new Parser(query)
    val result = p.parseExpr()
    p.skipWs()
    if (!p.atEnd)
      throw PromQLError(s"Unexpected trailing content in query: '${p.rest}'")
    result match {
      case Selector(matchers, None) =>
        requireMatchers(matchers)
        ParsedQuery(matchers, nowUs - DefaultLookbackMs * 1000L, nowUs)
      case Selector(matchers, Some(rangeMs)) =>
        requireMatchers(matchers)
        ParsedQuery(matchers, nowUs - msToUs(rangeMs), nowUs, hadRange = true)
    }
  }

  /** The reference's rejection of a non-selector query: `what` is one
    * of agg, call, binary, unary, subquery or literal.
    */
  private[promql] def rejection(what: String): PromQLError = what match {
    case "agg" => PromQLError(
      "Aggregation expressions (like sum(), avg(), count()) are not " +
        "supported. Only simple selectors like 'metric_name{label=\"value\"}' " +
        "or 'metric_name[5m]' are supported.")
    case "call" => PromQLError(
      "Function calls (like rate(), increase(), histogram_quantile()) are " +
        "not supported. Only simple selectors like " +
        "'metric_name{label=\"value\"}' or 'metric_name[5m]' are supported.")
    case "binary" => PromQLError(
      "Binary operations (like +, -, *, /) are not supported. Only simple " +
        "selectors like 'metric_name{label=\"value\"}' or 'metric_name[5m]' " +
        "are supported.")
    case "unary" => PromQLError(
      "Unary operations are not supported. Only simple selectors like " +
        "'metric_name{label=\"value\"}' or 'metric_name[5m]' are supported.")
    case "subquery" => PromQLError(
      "Subqueries are not supported. Only simple selectors like " +
        "'metric_name{label=\"value\"}' or 'metric_name[5m]' are supported.")
    case _ => PromQLError(
      "Literal values are not valid queries. Use a metric selector like " +
        "'metric_name{label=\"value\"}'.")
  }

  private def requireMatchers(ms: Seq[LabelMatcher]): Unit =
    if (ms.isEmpty)
      throw PromQLError(
        "Query must have at least one matcher (metric name or label)")

  private final case class Selector(
      matchers: Seq[LabelMatcher], rangeMs: Option[Long])

  private final class Parser(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def rest: String = s.substring(math.min(i, s.length))
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'

    private def reject(what: String): Nothing = throw rejection(what)

    def parseExpr(): Selector = {
      // parens unwrap (reference: simple_promql.rs:162-164), counted in a
      // loop so that no nesting depth can overflow the stack
      var open = 0
      skipWs()
      while (peek == '(') { i += 1; open += 1; skipWs() }
      val inner = parseSelector()
      for (_ <- 0 until open) {
        skipWs()
        if (peek != ')') throw PromQLError("Failed to parse PromQL query: unbalanced parentheses")
        i += 1
        checkTrailingOperator()
      }
      inner
    }

    private def parseSelector(): Selector = {
      if (peek == '+' || peek == '-') reject("unary")
      if (peek.isDigit) reject("literal")
      if (peek == '"' || peek == '\'') reject("literal")
      if (peek == '{') {
        val matchers = parseMatcherBlock()
        val range = parseOptionalRange()
        checkTrailingOperator()
        return Selector(matchers, range)
      }
      val name = parseIdentifier()
      if (name.isEmpty) throw PromQLError(s"Failed to parse PromQL query at: '$rest'")
      skipWs()
      if (peek == '(') {
        if (AggregationKeywords.contains(name)) reject("agg") else reject("call")
      }
      // `sum by (x) (...)` form
      if (AggregationKeywords.contains(name)) {
        val save = i
        val word = parseIdentifier()
        if (word == "by" || word == "without") reject("agg")
        i = save
      }
      val matchers = scala.collection.mutable.ArrayBuffer[LabelMatcher](
        LabelMatcher.Eq(LabelMatcher.NameLabel, name))
      skipWs()
      if (peek == '{') matchers ++= parseMatcherBlock()
      val range = parseOptionalRange()
      checkTrailingOperator()
      Selector(matchers.toSeq, range)
    }

    private def checkTrailingOperator(): Unit = {
      skipWs()
      if (atEnd || peek == ')') return
      peek match {
        case '+' | '-' | '*' | '/' | '%' | '^' | '=' | '!' | '>' | '<' =>
          reject("binary")
        case _ =>
          val save = i
          val word = parseIdentifier()
          i = save
          if (Set("and", "or", "unless").contains(word)) reject("binary")
      }
    }

    private def parseIdentifier(): String = {
      skipWs()
      val start = i
      while (i < s.length &&
        (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == ':'))
        i += 1
      s.substring(start, i)
    }

    private def parseMatcherBlock(): Seq[LabelMatcher] = {
      // at '{'
      i += 1
      val out = scala.collection.mutable.ArrayBuffer.empty[LabelMatcher]
      skipWs()
      if (peek == '}') { i += 1; return out.toSeq }
      var more = true
      while (more) {
        val key = parseIdentifier()
        if (key.isEmpty) throw PromQLError(s"Failed to parse PromQL query at: '$rest'")
        skipWs()
        val op =
          if (s.startsWith("=~", i)) { i += 2; "=~" }
          else if (s.startsWith("!=", i)) { i += 2; "!=" }
          else if (s.startsWith("!~", i)) { i += 2; "!~" }
          else if (peek == '=') { i += 1; "=" }
          else throw PromQLError(s"Failed to parse PromQL query at: '$rest'")
        skipWs()
        if (peek != '"') throw PromQLError(s"Failed to parse PromQL query at: '$rest'")
        i += 1
        val sb = new StringBuilder
        while (i < s.length && s.charAt(i) != '"') {
          if (s.charAt(i) == '\\' && i + 1 < s.length) {
            sb.append(s.charAt(i + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case c => c
            })
            i += 2
          } else { sb.append(s.charAt(i)); i += 1 }
        }
        if (atEnd) throw PromQLError("Failed to parse PromQL query: unterminated string")
        i += 1
        out += (op match {
          case "=" => LabelMatcher.Eq(key, sb.toString)
          case "!=" => LabelMatcher.NotEq(key, sb.toString)
          case "=~" => LabelMatcher.Re(key, sb.toString)
          case "!~" => LabelMatcher.NotRe(key, sb.toString)
        })
        skipWs()
        if (peek == ',') { i += 1; skipWs() }
        else more = false
      }
      if (peek != '}') throw PromQLError(s"Failed to parse PromQL query at: '$rest'")
      i += 1
      out.toSeq
    }

    private def parseOptionalRange(): Option[Long] = {
      skipWs()
      if (peek != '[') return None
      i += 1
      val start = i
      while (i < s.length && s.charAt(i) != ']' && s.charAt(i) != ':') i += 1
      if (i < s.length && s.charAt(i) == ':') reject("subquery")
      if (atEnd) throw PromQLError("Failed to parse PromQL query: unterminated range")
      val dur = s.substring(start, i)
      i += 1 // ']'
      Some(parseDurationMs(dur))
    }
  }

  /** Prometheus duration: concatenated `<n><unit>` terms
    * (ms, s, m, h, d, w, y). Values past Long range (as ms) are a parse
    * error, never a silent wraparound into a negative window.
    */
  def parseDurationMs(d: String): Long = {
    val re = """(\d+)(ms|s|m|h|d|w|y)""".r
    val parts = re.findAllMatchIn(d).toSeq
    val consumed = parts.map(_.matched.length).sum
    if (parts.isEmpty || consumed != d.length)
      throw PromQLError(s"Failed to parse PromQL query: bad duration '$d'")
    try {
      parts.map { m =>
        val n = m.group(1).toLong
        val unitMs = m.group(2) match {
          case "ms" => 1L
          case "s" => 1000L
          case "m" => 60000L
          case "h" => 3600000L
          case "d" => 86400000L
          case "w" => 604800000L
          case "y" => 31536000000L
        }
        Math.multiplyExact(n, unitMs)
      }.reduce(Math.addExact(_, _))
    } catch {
      case _: NumberFormatException | _: ArithmeticException =>
        throw PromQLError(
          s"Failed to parse PromQL query: duration '$d' out of range")
    }
  }

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

package graft.promql

import scala.collection.mutable.ArrayBuffer

/** Positioned-token lexer for both PromQL front ends: the one place
  * quotes, brackets, numbers/durations and word boundaries are
  * recognized. [[ExtendedPromQL]] lexes a query once and parses the
  * token vector by index; [[SimplePromQL]]'s selector grammar reads the
  * same tokens, a whole restricted query's or an extended selector leaf's.
  *
  * TOTAL by design: lexing never throws. Malformed input (unterminated
  * string, stray byte) becomes a token the parser rejects with its own
  * specific message.
  *
  * Tokens carry their character span (`start` inclusive, `end`
  * exclusive), so the text an error message quotes (the rest of a
  * selector, a duration between brackets) is one substring of the query.
  * Bracket nesting is [[depths]], counted from the start of whichever
  * token range is being parsed.
  */
object PromQLLexer {

  sealed trait Kind
  case object Ident extends Kind   // names/keywords: [A-Za-z_][A-Za-z0-9_:]*
  case object Num extends Kind     // pure float: 12, 1.5, .5, 1e-3
  case object Dur extends Kind     // digits+letters: 5m, 1h30m, 90s
  case object Str extends Kind     // "..." (raw text incl. quotes)
  case object Op extends Kind      // + - * / % ^ == != <= >= < > = =~ !~ @
  case object Punct extends Kind   // ( ) [ ] { } , :
  case object Unknown extends Kind // anything else, one char

  final case class Tok(kind: Kind, text: String, start: Int, end: Int)

  private def opener(t: Tok): Boolean =
    t.kind == Punct && (t.text == "(" || t.text == "[" || t.text == "{")
  private def closer(t: Tok): Boolean =
    t.kind == Punct && (t.text == ")" || t.text == "]" || t.text == "}")

  /** The bracket depth of each token of `toks(lo until hi)`, counted
    * from `lo`: all of `( [ {` share one counter, an opener carries the
    * depth outside it and a closer the depth it returns to, and a stray
    * closer clamps at 0, so the tokens after an unbalanced `)` still read
    * as top-level.
    */
  def depths(toks: IndexedSeq[Tok], lo: Int, hi: Int): Array[Int] = {
    val out = new Array[Int](hi - lo)
    var d = 0
    for (k <- lo until hi) {
      if (closer(toks(k))) d = math.max(0, d - 1)
      out(k - lo) = d
      if (opener(toks(k))) d += 1
    }
    out
  }

  def lex(s: String): Vector[Tok] = {
    val out = new ArrayBuffer[Tok]()
    var i = 0
    val n = s.length
    def isIdentStart(c: Char): Boolean = c.isLetter || c == '_'
    def isIdentPart(c: Char): Boolean =
      c.isLetterOrDigit || c == '_' || c == ':'
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '"') {
        val st = i
        i += 1
        var done = false
        while (i < n && !done) {
          val d = s.charAt(i)
          if (d == '\\' && i + 1 < n) i += 2
          else if (d == '"') { i += 1; done = true }
          else i += 1
        }
        out += Tok(Str, s.substring(st, i), st, i)
      } else if (c.isDigit ||
          (c == '.' && i + 1 < n && s.charAt(i + 1).isDigit)) {
        val st = i
        // float body: digits, at most one dot, optional exponent
        while (i < n && s.charAt(i).isDigit) i += 1
        if (i < n && s.charAt(i) == '.') {
          i += 1
          while (i < n && s.charAt(i).isDigit) i += 1
        }
        var isNum = true
        if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E') &&
            i + 1 < n && (s.charAt(i + 1).isDigit ||
              ((s.charAt(i + 1) == '+' || s.charAt(i + 1) == '-') &&
                i + 2 < n && s.charAt(i + 2).isDigit))) {
          i += 1
          if (s.charAt(i) == '+' || s.charAt(i) == '-') i += 1
          while (i < n && s.charAt(i).isDigit) i += 1
        }
        // trailing unit letters (and further digit/letter runs) make a
        // DURATION: 5m, 1h30m, 90s — consumed maximally, like the old
        // `[0-9a-z]+` trailing-modifier scans
        if (i < n && s.charAt(i).isLetter) {
          isNum = false
          while (i < n && (s.charAt(i).isLetterOrDigit)) i += 1
        }
        out += Tok(if (isNum) Num else Dur, s.substring(st, i), st, i)
      } else if (isIdentStart(c)) {
        val st = i
        while (i < n && isIdentPart(s.charAt(i))) i += 1
        out += Tok(Ident, s.substring(st, i), st, i)
      } else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        c match {
          case '(' | '[' | '{' | ')' | ']' | '}' | ',' | ':' =>
            out += Tok(Punct, c.toString, i, i + 1); i += 1
          case _ if two == "==" || two == "!=" || two == "<=" ||
              two == ">=" || two == "=~" || two == "!~" =>
            out += Tok(Op, two, i, i + 2); i += 2
          case '+' | '-' | '*' | '/' | '%' | '^' | '<' | '>' | '=' | '@' =>
            out += Tok(Op, c.toString, i, i + 1); i += 1
          case other =>
            out += Tok(Unknown, other.toString, i, i + 1); i += 1
        }
      }
    }
    out.toVector
  }
}

package graft

import graft.promql.PromQLLexer
import graft.promql.PromQLLexer._
import org.scalatest.funsuite.AnyFunSuite

/** The positioned-token lexer under the extended PromQL parser:
  * quote/bracket/number recognition lives HERE once — these pins are the
  * trap cases that previously each required a bespoke fix in some
  * character scanner.
  */
class PromQLLexerSpec extends AnyFunSuite {

  private def kinds(s: String): Seq[(Kind, String)] =
    lex(s).map(t => (t.kind, t.text))
  private def depthOf(toks: Vector[Tok], t: Tok): Int =
    depths(toks, 0, toks.length)(toks.indexOf(t))

  test("numbers vs durations vs scientific notation") {
    assert(kinds("1 + 1.5 - .5 * 1e-3 / 2e+4") == Seq(
      (Num, "1"), (Op, "+"), (Num, "1.5"), (Op, "-"), (Num, ".5"),
      (Op, "*"), (Num, "1e-3"), (Op, "/"), (Num, "2e+4")))
    assert(kinds("x[5m] [1h30m:90s]") == Seq(
      (Ident, "x"), (Punct, "["), (Dur, "5m"), (Punct, "]"),
      (Punct, "["), (Dur, "1h30m"), (Punct, ":"), (Dur, "90s"),
      (Punct, "]")))
  }

  test("strings swallow operators, brackets, and escapes") {
    val toks = lex("""{l="a@b or (c]"} and y""")
    assert(toks.count(_.kind == Str) == 1)
    assert(toks.find(_.kind == Str).get.text == "\"a@b or (c]\"")
    // the 'and' outside the string is a depth-0 ident; nothing inside
    // the string leaked as a token
    val and = toks.filter(t => t.kind == Ident && t.text == "and")
    assert(and.length == 1 && depthOf(toks, and.head) == 0)
    assert(!toks.exists(t => t.kind == Op && t.text == "@"))
  }

  test("depth: openers carry outer depth on closers, idents nest") {
    val toks = lex("sum(rate(x[5m])) or y")
    val or = toks.find(t => t.text == "or").get
    assert(depthOf(toks, or) == 0)
    val x = toks.find(t => t.text == "x").get
    assert(depthOf(toks, x) == 2)
    val closers = toks.filter(_.text == ")")
    assert(closers.map(depthOf(toks, _)) == Vector(1, 0))
  }

  test("@ without whitespace tokenizes (the r12 trap)") {
    assert(kinds("metric@1706745600") == Seq(
      (Ident, "metric"), (Op, "@"), (Num, "1706745600")))
  }

  test("two-char operators never split") {
    assert(kinds("a =~ b !~ c == d != e <= f >= g") ==
      Seq((Ident, "a"), (Op, "=~"), (Ident, "b"), (Op, "!~"),
        (Ident, "c"), (Op, "=="), (Ident, "d"), (Op, "!="),
        (Ident, "e"), (Op, "<="), (Ident, "f"), (Op, ">="),
        (Ident, "g")))
  }

  test("idents carry colons (recording-rule names) but a bare colon " +
      "is punctuation") {
    assert(kinds("job:rate5m [1h:5m]") == Seq(
      (Ident, "job:rate5m"), (Punct, "["), (Dur, "1h"), (Punct, ":"),
      (Dur, "5m"), (Punct, "]")))
  }

  test("total on malformed input: unterminated string, stray bytes") {
    val t1 = lex("""x{l="unterminated""")
    assert(t1.last.kind == Str) // swallowed to EOF, no throw
    assert(lex("a # b").exists(_.kind == Unknown))
    assert(lex("").isEmpty)
  }

  test("token spans slice the original string exactly") {
    val s = """ sum( x{l="v"} ) by (k) """
    lex(s).foreach(t => assert(s.substring(t.start, t.end) == t.text, t))
  }

  test("depth clamps at 0 after stray closers — top-level tokens after " +
      "an unbalanced ')' still read as top-level (r15)") {
    val toks = lex(") a or b")
    assert(depths(toks, 0, toks.length).forall(_ >= 0))
    val or = toks.find(t => t.kind == Ident && t.text == "or").get
    assert(depthOf(toks, or) == 0)
    // balanced input unchanged by the clamp
    val balanced = lex("sum(a) or b")
    assert(depthOf(balanced, balanced.find(_.text == "or").get) == 0)
  }
}

package graft

import graft.functions.LinearRegex
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The linear-time regex engine behind the user-facing regex predicates
  * (label matchers, catalog name_regex, label_replace).
  *
  * Three layers of evidence:
  *  1. a randomized DIFFERENTIAL against java.util.regex over the
  *     supported (RE2 ∩ Java) surface — every pattern the old `rlike`
  *     path accepted must answer identically;
  *  2. explicit semantics pins (anchors, classes, flags, captures);
  *  3. the ReDoS gate itself: `(a+)+b`-style patterns against long
  *     values answer within a wall-clock bound where java.util.regex
  *     would take exponential time (reference immunity class:
  *     src/storage/sqlite/storage.rs:46-48, linear-time Rust regex).
  */
class LinearRegexSpec extends AnyFunSuite {

  /** ScalaCheck bridge (scalatest-plus is not resolvable offline). */
  private def checkN[A, B](n: Int, g1: Gen[A], g2: Gen[B])(
      f: (A, B) => Unit): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n),
      Prop.forAll(g1, g2) { (a, b) => f(a, b); true })
    assert(res.passed, res.status.toString)
  }

  private def javaFind(p: String, s: String): Boolean =
    java.util.regex.Pattern.compile(p).matcher(s).find()

  private def both(p: String, s: String): Unit = {
    val lin = LinearRegex.compile(p).find(s)
    val jav = javaFind(p, s)
    assert(lin == jav,
      s"pattern `$p` on `$s`: linear=$lin java=$jav")
  }

  // ---------------- differential fuzz ----------------

  // generator for patterns in the supported surface that are ALSO valid
  // Java regexes with identical semantics
  private val litChar: Gen[String] =
    Gen.oneOf(Gen.alphaNumChar.map(_.toString), Gen.oneOf(
      "\\.", "\\+", "\\*", "\\(", "\\)", "\\[", "\\]", "x", "y", "-", "_"))
  private val cls: Gen[String] = Gen.oneOf(
    "[a-z]", "[^a-z]", "[0-9_]", "[a-cx-z]", "\\d", "\\w", "\\s",
    "\\D", "\\W", "\\S", ".")
  private val atomG: Gen[String] = Gen.frequency(
    6 -> litChar, 3 -> cls)
  private val quant: Gen[String] =
    Gen.oneOf("", "", "", "*", "+", "?", "{2}", "{1,3}", "{0,2}", "{2,}")
  private val piece: Gen[String] =
    for { a <- atomG; q <- quant } yield a + q
  private val concatG: Gen[String] =
    Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
  private val branchG: Gen[String] = Gen.frequency(
    5 -> concatG,
    2 -> (for { a <- concatG; b <- concatG } yield s"(?:$a|$b)"),
    2 -> (for { a <- concatG; q <- quant } yield s"($a)$q"),
    1 -> concatG.map(a => s"^$a"),
    1 -> concatG.map(a => s"$a$$"))
  private val patG: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, branchG).map(_.mkString("|")))
  private val inputG: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '.', '-', '_', '+'))))
      .map(_.mkString)

  test("differential vs java.util.regex on the supported surface") {
    checkN(2000, patG, inputG) { (p, s) => both(p, s) }
  }

  test("case-insensitive differential") {
    checkN(500, patG, inputG) { (p0, s) =>
      val p = s"(?i)$p0"
      assert(LinearRegex.compile(p).find(s) == javaFind(p, s),
        s"pattern `$p` on `$s`")
    }
  }

  // ---------------- explicit semantics pins ----------------

  test("anchors and find semantics") {
    both("^abc$", "abc"); both("^abc$", "xabc"); both("^abc$", "abcx")
    both("abc", "xxabcxx"); both("^a", "ba"); both("a$", "ab")
    both("^$", ""); both("^$", "a")
    both("\\Aab", "ab"); both("ab\\z", "ab"); both("ab\\z", "abc")
    // $ before a final newline (Java non-MULTILINE semantics)
    both("abc$", "abc\n")
    both("\\bword\\b", "a word here"); both("\\bword\\b", "sword")
    both("\\Bord", "sword"); both("\\Bord", "ord")
  }

  test("multiline and dotall flags") {
    both("(?m)^b", "a\nb"); both("(?m)a$", "a\nb")
    both("(?s)a.b", "a\nb"); both("a.b", "a\nb")
  }

  test("classes, ranges, escapes") {
    both("[a-c]+", "abcd"); both("[^a-c]+", "abc")
    both("[-a]", "-"); both("[a-]", "-")
    both("[\\d]+", "a1b2"); both("[\\w.]+", "a.b!")
    both("[\\x41-\\x43]+", "ABCD")
    both("\\x{1F600}", new String(Character.toChars(0x1F600)))
    both("\\u0041", "A")
    both("\\Qa.b\\E", "a.b"); both("\\Qa.b\\E", "axb")
    both("\\p{L}+", "abÇ1"); both("\\p{Nd}", "٣") // arabic-indic digit
  }

  test("alternation and grouping") {
    both("a|b|c", "zc"); both("(ab|cd)+", "abcdab")
    both("(?:ab)*c", "ababc"); both("a(b(c|d))e", "abde")
    both("(a|)b", "b")
  }

  test("counted repetition") {
    both("a{3}", "aa"); both("a{3}", "aaa"); both("a{2,4}b", "aaaaab")
    both("(ab){2,}", "ababab"); both("a{0,2}$", "aaa")
    // malformed repetition rejects, like Java ("Illegal repetition")
    assertThrows[IllegalArgumentException](LinearRegex.compile("a{b}"))
    assertThrows[IllegalArgumentException](LinearRegex.compile("a{,3}"))
    assertThrows[IllegalArgumentException](LinearRegex.compile("a{"))
  }

  test("lazy quantifiers accepted (same match-existence semantics)") {
    both("a+?b", "aaab"); both("a*?", ""); both("(ab)??c", "abc")
  }

  test("empty-loop patterns terminate") {
    assert(LinearRegex.compile("(a*)*b").find("a" * 100 + "c") == false)
    assert(LinearRegex.compile("(a*)*b").find("a" * 100 + "b"))
    assert(LinearRegex.compile("(|a)*b").find("aab"))
  }

  test("unicode: supplementary code points match . once") {
    val emoji = new String(Character.toChars(0x1F600))
    both(s"^.$$", emoji)
    both("^..$", emoji + "a")
  }

  // ---------------- rejections (reference parity: Rust regex crate
  // cannot express these either) ----------------

  test("unsupported constructs reject with IllegalArgumentException") {
    val bad = Seq(
      "(a)\\1",        // backreference
      "\\k<g>x",       // named backreference
      "(?=a)b",        // lookahead
      "(?!a)b",        // negative lookahead
      "(?<=a)b",       // lookbehind
      "(?<!a)b",       // negative lookbehind
      "(?>ab)c",       // atomic group
      "a*+b",          // possessive quantifier
      "a{1,2}+",       // possessive counted
      "[a&&[b]]",      // class intersection
      "a{1001}",       // repetition past cap
      "(",             // unbalanced
      ")",
      "[abc",          // unterminated class
      "a" * (LinearRegex.MaxPatternLength + 1))
    bad.foreach { p =>
      assertThrows[IllegalArgumentException](LinearRegex.compile(p))
    }
  }

  test("group nesting cap: the deepest allowed compiles, one more rejects") {
    def nested(n: Int) = "(" * n + "x" + ")" * n
    assert(LinearRegex.compile(nested(LinearRegex.MaxGroupDepth)).find("x"))
    val e = intercept[IllegalArgumentException](
      LinearRegex.compile(nested(LinearRegex.MaxGroupDepth + 1)))
    assert(e.getMessage.contains("nest deeper"), e.getMessage)
  }

  test("program size cap rejects duplication blowups") {
    assertThrows[IllegalArgumentException](
      LinearRegex.compile("(a{1000}b{1000}c{1000}d{1000}e{1000}" +
        "f{1000}g{1000}h{1000}i{1000}j{1000}k{1000}l{1000}m{1000}" +
        "n{1000}o{1000}p{1000}q{1000}r{1000}s{1000}t{1000}u{1000})"))
  }

  // ---------------- the ReDoS gate ----------------

  test("hostile patterns answer in linear time") {
    // each of these takes exponential/polynomial-blowup time on a
    // backtracking engine at this value length; bound: well under 2 s
    val value = "a" * 50000
    val hostiles = Seq("(a+)+b", "(a|a)+b", "(a*)+b", "(a|aa)+b",
      "([a-zA-Z]+)*b")
    for (p <- hostiles) {
      val re = LinearRegex.compile(p)
      val t0 = System.nanoTime()
      assert(!re.find(value))
      assert(re.find(value + "b"))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 2000, s"`$p` took ${ms}ms on a 50k value")
    }
  }

  // ---------------- anchored match + captures (label_replace) ----------

  test("matchFull anchors to the whole value") {
    val re = LinearRegex.compile("(\\w+)-(\\d+)")
    assert(re.matchFull("abc-42") != null)
    assert(re.matchFull("!abc-42") == null)
    assert(re.matchFull("abc-42x") == null)
    assert(re.matchFull("abc-42 ") == null)
  }

  test("replaceFull expands capture references like Java regexp_replace") {
    def javaRepl(p: String, s: String, r: String): String = {
      val m = java.util.regex.Pattern.compile(p).matcher(s)
      if (m.matches()) m.replaceAll(r) else null
    }
    val cases = Seq(
      ("(\\w+)-(\\d+)", "abc-42", "$2/$1"),
      ("(a+)(b*)", "aaa", "[$1][$2]"),
      ("(?<x>a+)b", "aab", "${x}!"),
      ("a(b)?c", "ac", "<$1>"),         // non-participating group → empty
      ("(.*)", "hello", "$1$1"),
      ("(\\d)(\\d)", "12", "$2$1"),
      ("v(\\d+)", "v123", "release-$1"))
    for ((p, s, r) <- cases) {
      val lin = LinearRegex.compile(p).replaceFull(s, r)
      val jav = javaRepl(p, s, r)
      assert(lin == jav, s"`$p` on `$s` with `$r`: linear=$lin java=$jav")
    }
    // non-match → null (label_replace passes the series through)
    assert(LinearRegex.compile("x+").replaceFull("yyy", "$0") == null)
    // $0 = whole match
    assert(LinearRegex.compile("a+").replaceFull("aaa", "[$0]") == "[aaa]")
  }

  test("replaceFull greedy/lazy capture extents match Java") {
    // greedy star takes the longest prefix, like Java/RE2 leftmost-greedy
    assert(LinearRegex.compile("(a*)(a*)")
      .replaceFull("aaa", "$1|$2") == "aaa|")
    // lazy quantifiers take the shortest extent, like Java/RE2
    assert(LinearRegex.compile("(a+?)(a*)")
      .replaceFull("aaa", "$1|$2") == "a|aa")
    assert(LinearRegex.compile("(a*?)(a*)")
      .replaceFull("aaa", "$1|$2") == "|aaa")
  }
}

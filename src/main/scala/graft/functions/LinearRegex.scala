package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Linear-time regular-expression engine (Thompson NFA + Pike VM) for the
  * user-facing regex predicates: the `=~` / `!~` label matchers (Q1–Q5),
  * the `/metrics?name_regex=` catalog filter, and PromQL `label_replace`.
  *
  * WHY THIS EXISTS: the reference's matcher regexes run on Rust's `regex`
  * crate, which is linear-time by construction
  * (reference: src/storage/sqlite/storage.rs:46-48) — a hostile pattern
  * cannot pin a core. Spark's `rlike` uses `java.util.regex`, which
  * BACKTRACKS: `(a+)+b` against a long label value costs time exponential
  * in the value length, so a user who can publish a long label value and
  * query a nested-quantifier pattern on the public `/series` or
  * `/api/v1/query` endpoints can pin executor CPU (ReDoS). This engine
  * guarantees O(pattern × value) regardless of the pattern.
  *
  * Supported surface = the RE2 ∩ Java intersection the reference's own
  * tests exercise (reference: tests/query_sensors_by_labels.rs:812-884):
  * literals, `.`, classes `[a-z^-]`, escapes (`\d \w \s \D \W \S`, control
  * and hex/unicode escapes, `\p{...}` for the common categories),
  * alternation, groups (capturing / `(?:` / `(?<name>` / `(?P<name>`),
  * inline flags `(?ism)` / `(?i:...)`, quantifiers `* + ? {n} {n,} {n,m}`
  * (lazy `?` suffix accepted), anchors `^ $ \A \z \Z \b \B`, and `\Q...\E`.
  *
  * REJECTED (IllegalArgumentException, mapped to HTTP 400 at the gateway):
  * backreferences, lookarounds, atomic groups, possessive quantifiers,
  * class intersection `&&`, and patterns compiling past a size cap. The
  * Rust regex crate cannot express ANY of these either — rejecting them is
  * reference parity, not a capability loss.
  *
  * Semantics follow java.util.regex (non-MULTILINE `^`/`$`, Java ASCII
  * `\s`/`\w`, dot excludes line terminators) so every pattern the existing
  * oracles and tests exercised under `rlike` replays identically.
  */
final class LinearRegex private (
    prog: LinearRegex.Program,
    val pattern: String,
    nGroups: Int,
    groupNames: Map[String, Int]) extends Serializable {

  import LinearRegex._

  /** Unanchored search: does the pattern match anywhere in `s`?
    * One Pike-VM pass, O(|prog| × |s|): the start state is re-injected at
    * every position, captures are not tracked.
    */
  def find(s: String): Boolean = {
    val n = s.length
    val m = prog.size
    // generation-stamped visited sets: no per-position clearing
    val seenCur = new Array[Int](m)
    val seenNext = new Array[Int](m)
    var gen = 0
    val cur = new Array[Int](m); var curLen = 0
    val next = new Array[Int](m); var nextLen = 0
    // dedup happens at pop time, so the same pc can sit in the stack
    // more than once: ≤ 2 pushes per drained instruction + the seed
    val stack = new Array[Int](2 * m + 4)
    var pos = 0
    var prevCp = -1
    while (true) {
      gen += 1
      val cp = if (pos < n) s.codePointAt(pos) else -1
      // ε-closure of (carried threads + fresh start), with assertion
      // context (prevCp, cp); a thread reaching MATCH ends the search.
      var matched = false
      curLen = 0
      var sp = 0
      def push(pc: Int): Unit = { stack(sp) = pc; sp += 1 }
      def drain(): Unit = while (sp > 0) {
        sp -= 1
        val pc = stack(sp)
        if (seenCur(pc) != gen) {
          seenCur(pc) = gen
          (prog.op(pc): @annotation.switch) match {
            case OpChar => cur(curLen) = pc; curLen += 1
            case OpMatch => matched = true
            case OpJmp => push(prog.a1(pc))
            case OpSplit => push(prog.a2(pc)); push(prog.a1(pc))
            case OpSave => push(pc + 1) // captures ignored in find
            case OpAssert =>
              if (evalAssert(prog.a1(pc), prevCp, cp)) push(pc + 1)
          }
        }
      }
      var i = 0
      while (i < nextLen) { push(next(i)); drain(); i += 1 }
      push(0); drain() // unanchored: a match may also start here
      if (matched) return true
      if (cp == -1) return false
      // consume cp
      nextLen = 0
      i = 0
      while (i < curLen) {
        val pc = cur(i)
        if (prog.cls(pc).contains(cp) && seenNext(pc + 1) != gen) {
          seenNext(pc + 1) = gen
          next(nextLen) = pc + 1; nextLen += 1
        }
        i += 1
      }
      prevCp = cp
      pos += Character.charCount(cp)
    }
    false // unreachable
  }

  /** Anchored whole-string match with captures: returns the capture
    * extents `[start0, end0, start1, end1, ...]` (char indices; -1 when a
    * group did not participate) of the highest-priority (leftmost-greedy)
    * match covering ALL of `s`, or null when the pattern does not match
    * the whole string. Used by `label_replace` (Prometheus anchors the
    * pattern to the full source value).
    */
  def matchFull(s: String): Array[Int] = {
    val n = s.length
    val m = prog.size
    val nSlots = 2 * (nGroups + 1)
    // priority-ordered thread lists; the first thread to reach MATCH at
    // end-of-input wins (leftmost-greedy via split ordering)
    var cur = new ArrayBuffer[Thread](8)
    var next = new ArrayBuffer[Thread](8)
    val seen = new Array[Int](m)
    var gen = 0
    var result: Array[Int] = null
    var pos = 0
    var prevCp = -1

    // ε-closure in priority order; SAVE stamps the CURRENT pos; an
    // OpMatch thread wins only when the lookahead cp is end-of-input.
    def close(list: ArrayBuffer[Thread], pc0: Int, caps0: Array[Int],
        cp: Int): Unit = {
      val stack = new ArrayBuffer[(Int, Array[Int])](8)
      stack += ((pc0, caps0))
      while (stack.nonEmpty && result == null) {
        val (pc, caps) = stack.remove(stack.length - 1)
        if (seen(pc) != gen) {
          seen(pc) = gen
          (prog.op(pc): @annotation.switch) match {
            case OpChar => list += new Thread(pc, caps)
            case OpMatch => if (cp == -1) result = caps
            case OpJmp => stack += ((prog.a1(pc), caps))
            case OpSplit =>
              // push y then x so the preferred branch pops first
              stack += ((prog.a2(pc), caps))
              stack += ((prog.a1(pc), caps))
            case OpSave =>
              val slot = prog.a1(pc)
              val c2 =
                if (slot < nSlots) { val c = caps.clone(); c(slot) = pos; c }
                else caps
              stack += ((pc + 1, c2))
            case OpAssert =>
              if (evalAssert(prog.a1(pc), prevCp, cp)) stack += ((pc + 1, caps))
          }
        }
      }
    }

    def finish(caps: Array[Int]): Array[Int] = {
      caps(0) = 0; caps(1) = n; caps
    }

    gen += 1
    val firstCp = if (n > 0) s.codePointAt(0) else -1
    close(cur, 0, Array.fill(nSlots)(-1), firstCp)
    if (result != null) return finish(result)
    while (pos < n) {
      val cp = s.codePointAt(pos)
      val nextPos = pos + Character.charCount(cp)
      val nextCp = if (nextPos < n) s.codePointAt(nextPos) else -1
      gen += 1
      next.clear()
      prevCp = cp
      pos = nextPos // SAVE slots stamp the post-consume position
      var i = 0
      while (i < cur.length && result == null) {
        val t = cur(i)
        if (prog.cls(t.pc).contains(cp)) close(next, t.pc + 1, t.caps, nextCp)
        i += 1
      }
      if (result != null) return finish(result)
      val tmp = cur; cur = next; next = tmp
      if (cur.isEmpty) return null
    }
    null
  }

  /** Anchored match + replacement expansion (`$1`, `${2}`, `${name}`,
    * backslash escapes — Java replacement-string rules). Null when the
    * pattern does not cover the whole of `s`.
    */
  def replaceFull(s: String, replacement: String): String = {
    val caps = matchFull(s)
    if (caps == null) return null
    val out = new java.lang.StringBuilder
    var i = 0
    val r = replacement
    while (i < r.length) {
      val c = r.charAt(i)
      if (c == '\\' && i + 1 < r.length) {
        out.append(r.charAt(i + 1)); i += 2
      } else if (c == '$' && i + 1 < r.length) {
        if (r.charAt(i + 1) == '{') {
          val end = r.indexOf('}', i + 2)
          if (end < 0) throw new IllegalArgumentException(
            s"unterminated group reference in replacement: $r")
          val name = r.substring(i + 2, end)
          val g =
            if (name.nonEmpty && name.forall(_.isDigit)) name.toInt
            else groupNames.getOrElse(name,
              throw new IllegalArgumentException(
                s"unknown group name in replacement: $name"))
          appendGroup(out, s, caps, g)
          i = end + 1
        } else {
          // longest numeric reference that names an existing group
          // (Java semantics): $12 with one group = group 1 + literal '2'
          var j = i + 1
          var g = -1
          var stop = false
          while (!stop && j < r.length && r.charAt(j).isDigit) {
            val cand = math.max(g, 0) * 10 + (r.charAt(j) - '0')
            if (cand <= nGroups) { g = cand; j += 1 } else stop = true
          }
          if (g < 0) throw new IllegalArgumentException(
            s"illegal group reference in replacement: $r")
          appendGroup(out, s, caps, g)
          i = j
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def appendGroup(out: java.lang.StringBuilder, s: String,
      caps: Array[Int], g: Int): Unit = {
    if (g > nGroups) throw new IllegalArgumentException(
      s"group reference $$$g exceeds group count $nGroups")
    val st = caps(2 * g); val en = caps(2 * g + 1)
    if (st >= 0 && en >= st) out.append(s, st, en)
  }
}

object LinearRegex {
  private final class Thread(val pc: Int, val caps: Array[Int])

  // instruction opcodes
  private final val OpChar = 0
  private final val OpSplit = 1
  private final val OpJmp = 2
  private final val OpMatch = 3
  private final val OpSave = 4
  private final val OpAssert = 5

  // assertion kinds
  private final val ABoi = 0  // \A and non-multiline ^
  private final val AEoi = 1  // \z
  private final val AEoz = 2  // \Z and non-multiline $ (before final term.)
  private final val ABolM = 3 // multiline ^
  private final val AEolM = 4 // multiline $
  private final val AWb = 5   // \b
  private final val ANwb = 6  // \B

  /** Compiled-program size cap: bounds both memory and the per-character
    * simulation cost (worst case size × |value| steps). Counted
    * repetitions expand by duplication, so `(a{1000}){1000}`-style blowups
    * hit this cap and reject instead of compiling.
    */
  val MaxProgramSize = 20000
  val MaxPatternLength = 4000

  final class Program(
      val op: Array[Int], val a1: Array[Int], val a2: Array[Int],
      val cls: Array[CharSet]) extends Serializable {
    def size: Int = op.length
  }

  /** A character class: sorted inclusive code-point ranges plus optional
    * named-category predicates; `ci` folds case at match time (probing the
    * upper/lower variants, Java CASE_INSENSITIVE ∪ UNICODE_CASE behavior);
    * negation applies AFTER case folding, matching Java.
    */
  final class CharSet(
      ranges: Array[Int], predIds: Array[Int], negated: Boolean,
      ci: Boolean) extends Serializable {
    private def base(cp: Int): Boolean = {
      var lo = 0; var hi = ranges.length / 2 - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (cp < ranges(2 * mid)) hi = mid - 1
        else if (cp > ranges(2 * mid + 1)) lo = mid + 1
        else return true
      }
      var i = 0
      while (i < predIds.length) {
        if (Predicates(predIds(i))(cp)) return true
        i += 1
      }
      false
    }
    def contains(cp: Int): Boolean = {
      val pos = base(cp) || (ci && {
        val lo = Character.toLowerCase(cp)
        val up = Character.toUpperCase(cp)
        (lo != cp && base(lo)) || (up != cp && base(up))
      })
      pos ^ negated
    }
  }

  // named predicate table (index = predId; append-only: ids are baked
  // into serialized CharSets)
  private val Predicates: Array[Int => Boolean] = Array(
    cp => Character.isLetter(cp),                        // 0  L / Alpha
    cp => Character.isUpperCase(cp),                     // 1  Lu / Upper
    cp => Character.isLowerCase(cp),                     // 2  Ll / Lower
    cp => Character.isDigit(cp),                         // 3  Nd / Digit
    cp => Character.getType(cp) match {                  // 4  N
      case Character.DECIMAL_DIGIT_NUMBER |
           Character.LETTER_NUMBER | Character.OTHER_NUMBER => true
      case _ => false
    },
    cp => Character.isLetterOrDigit(cp),                 // 5  Alnum
    cp => Character.isWhitespace(cp),                    // 6  Space
    cp => cp < 128 && cp > 32 &&                         // 7  Punct (ASCII)
      !Character.isLetterOrDigit(cp),
    cp => cp < 128                                       // 8  ASCII
  )
  private val PredByName: Map[String, Int] = Map(
    "L" -> 0, "Alpha" -> 0, "IsAlphabetic" -> 0,
    "Lu" -> 1, "Upper" -> 1, "Ll" -> 2, "Lower" -> 2,
    "Nd" -> 3, "Digit" -> 3, "N" -> 4, "Alnum" -> 5,
    "Space" -> 6, "IsWhite_Space" -> 6, "Punct" -> 7, "ASCII" -> 8)

  private def mkRanges(rs: (Int, Int)*): Array[Int] =
    rs.sortBy(_._1).toArray.flatMap { case (a, b) => Array(a, b) }

  // Java ASCII \s, \w, \d; dot's excluded line terminators
  private val WsRanges = mkRanges((0x9, 0xd), (0x20, 0x20))
  private val WordRanges =
    mkRanges(('0'.toInt, '9'.toInt), ('A'.toInt, 'Z'.toInt),
      ('_'.toInt, '_'.toInt), ('a'.toInt, 'z'.toInt))
  private val DigitRanges = mkRanges(('0'.toInt, '9'.toInt))
  private val LineTermRanges =
    mkRanges((0xa, 0xa), (0xd, 0xd), (0x85, 0x85), (0x2028, 0x2029))

  private def isWordCp(cp: Int): Boolean =
    cp >= 0 && ((cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= 'a' && cp <= 'z') || cp == '_')

  private def isLineTerm(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  private def evalAssert(kind: Int, prevCp: Int, nextCp: Int): Boolean =
    (kind: @annotation.switch) match {
      case ABoi => prevCp == -1
      case AEoi => nextCp == -1
      case AEoz =>
        // end of input, or before a final line terminator; the Pike VM
        // has one-cp lookahead, so "before the final \r\n pair" relaxes
        // to "before a terminator" — identical on catalog label values,
        // which never embed interior terminators
        nextCp == -1 || isLineTerm(nextCp)
      case ABolM => prevCp == -1 || isLineTerm(prevCp)
      case AEolM => nextCp == -1 || isLineTerm(nextCp)
      case AWb => isWordCp(prevCp) != isWordCp(nextCp)
      case ANwb => isWordCp(prevCp) == isWordCp(nextCp)
    }

  // ------------------------------------------------------------------
  // parsing → AST
  // ------------------------------------------------------------------

  private sealed trait Ast
  private case class ClsA(set: CharSet) extends Ast
  private case class CatA(xs: List[Ast]) extends Ast
  private case class AltA(xs: List[Ast]) extends Ast
  private case class RepA(x: Ast, min: Int, max: Int, isLazy: Boolean = false) extends Ast
  private case class GrpA(x: Ast, idx: Int) extends Ast // idx ≥ 1 capturing
  private case class AssertA(kind: Int) extends Ast
  private case object EmptyA extends Ast

  private final case class Flags(i: Boolean, s: Boolean, m: Boolean)

  private val Unsupported =
    "are unsupported (linear-time engine; the reference's regex crate " +
      "rejects them too)"

  private final class Parser(pat: String) {
    private var pos = 0
    private var groupCount = 0
    val names = scala.collection.mutable.Map[String, Int]()

    private def err(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"invalid regex near index $pos: $msg in `$pat`")
    private def peek: Int = if (pos < pat.length) pat.charAt(pos) else -1
    private def peek2: Int =
      if (pos + 1 < pat.length) pat.charAt(pos + 1) else -1
    private def next(): Char = {
      if (pos >= pat.length) err("unexpected end of pattern")
      val c = pat.charAt(pos); pos += 1; c
    }
    private def eat(c: Char): Unit =
      if (peek == c) pos += 1 else err(s"expected `$c`")

    def parse(): (Ast, Int) = {
      val a = alt(Flags(i = false, s = false, m = false))
      if (pos != pat.length) err("unmatched `)`")
      (a, groupCount)
    }

    private def alt(f0: Flags): Ast = {
      // inline flags set in one branch persist to the END of the
      // enclosing group, crossing `|` (Java/RE2: `a|(?i)b|c` matches C)
      var f = f0
      def branch(): Ast = { val (a, nf) = cat(f); f = nf; a }
      var branches = List(branch())
      while (peek == '|') { pos += 1; branches ::= branch() }
      if (branches.lengthCompare(1) == 0) branches.head
      else AltA(branches.reverse)
    }

    private def cat(f0: Flags): (Ast, Flags) = {
      var f = f0
      val xs = ArrayBuffer[Ast]()
      while (pos < pat.length && peek != '|' && peek != ')') {
        atom(f) match {
          case Left(newFlags) => f = newFlags // inline (?i) applies onward
          case Right(a) => xs += repeatSuffix(a)
        }
      }
      (if (xs.isEmpty) EmptyA else if (xs.length == 1) xs.head
      else CatA(xs.toList), f)
    }

    private def repeatSuffix(a: Ast): Ast = {
      var out = a
      var more = true
      while (more) {
        peek match {
          case '*' => pos += 1; out = RepA(out, 0, -1, lazyOrPossessive())
          case '+' => pos += 1; out = RepA(out, 1, -1, lazyOrPossessive())
          case '?' => pos += 1; out = RepA(out, 0, 1, lazyOrPossessive())
          case '{' if peek2 < '0' || peek2 > '9' =>
            err("malformed repetition (Java parity: `{` must start a " +
              "valid quantifier; escape it as `\\{` for a literal)")
          case '{' =>
            val save = pos
            pos += 1
            val n = number()
            val (lo, hi) =
              if (peek == ',') {
                pos += 1
                if (peek == '}') (n, -1)
                else if (peek >= '0' && peek <= '9') (n, number())
                else { pos = save; (-1, -1) } // not a quantifier: literal {
              } else (n, n)
            if (lo < 0) more = false
            else if (peek != '}') { pos = save; more = false }
            else {
              pos += 1
              if (hi >= 0 && hi < lo) err("bad repetition range")
              if (lo > 1000 || hi > 1000)
                err("counted repetition exceeds 1000 (size cap)")
              val lz = lazyOrPossessive()
              out = RepA(out, lo, hi, lz)
            }
          case _ => more = false
        }
      }
      out
    }

    /** Consume a lazy `?` (returns true) or reject a possessive `+`. */
    private def lazyOrPossessive(): Boolean = peek match {
      case '?' => pos += 1; true
      case '+' => err(s"possessive quantifiers $Unsupported")
      case _ => false
    }

    private def number(): Int = {
      val st = pos
      while (pos < pat.length && pat.charAt(pos).isDigit) pos += 1
      if (pos == st) err("expected number")
      val s = pat.substring(st, pos)
      if (s.length > 4) err("repetition count too large")
      s.toInt
    }

    /** One atom, or Left(flags) for an inline flag-setting group. */
    private def atom(f: Flags): Either[Flags, Ast] = next() match {
      case '(' => group(f)
      case '[' => Right(ClsA(charClass(f)))
      case '.' =>
        Right(ClsA(new CharSet(
          if (f.s) Array.empty[Int] else LineTermRanges,
          Array.empty, negated = true, ci = false)))
      case '^' => Right(AssertA(if (f.m) ABolM else ABoi))
      case '$' => Right(AssertA(if (f.m) AEolM else AEoz))
      case '\\' => Right(escape(f))
      case ')' => err("unmatched `)`")
      case '*' | '+' | '?' => err("dangling quantifier")
      case '{' => err("malformed repetition (Java parity: `{` must start " +
        "a valid quantifier; escape it as `\\{` for a literal)")
      case c =>
        val cp =
          if (Character.isHighSurrogate(c) && pos < pat.length &&
              Character.isLowSurrogate(pat.charAt(pos))) {
            val cp0 = Character.toCodePoint(c, pat.charAt(pos)); pos += 1; cp0
          } else c.toInt
        Right(lit(cp, f))
    }

    private def lit(cp: Int, f: Flags): Ast =
      ClsA(new CharSet(Array(cp, cp), Array.empty, negated = false, ci = f.i))

    private def groupName(): String = {
      val st = pos
      while (pos < pat.length && pat.charAt(pos) != '>') pos += 1
      if (pos == pat.length) err("unterminated group name")
      val name = pat.substring(st, pos); pos += 1
      name
    }

    private def group(f: Flags): Either[Flags, Ast] = {
      if (peek == '?') {
        pos += 1
        peek match {
          case ':' =>
            pos += 1
            val a = alt(f); eat(')'); Right(GrpA(a, 0))
          case '=' | '!' => err(s"lookarounds $Unsupported")
          case '>' => err("atomic groups are unsupported (linear-time engine)")
          case '<' =>
            pos += 1
            if (peek == '=' || peek == '!') err(s"lookbehinds $Unsupported")
            val name = groupName()
            groupCount += 1; val idx = groupCount
            names(name) = idx
            val a = alt(f); eat(')'); Right(GrpA(a, idx))
          case 'P' =>
            pos += 1
            if (peek == '=') err(s"backreferences $Unsupported")
            eat('<')
            val name = groupName()
            groupCount += 1; val idx = groupCount
            names(name) = idx
            val a = alt(f); eat(')'); Right(GrpA(a, idx))
          case _ =>
            // inline flags: (?ism) sets onward; (?ism:...) scopes
            var fi = f.i; var fs = f.s; var fm = f.m
            var on = true
            var done = false
            while (!done) peek match {
              case 'i' => pos += 1; fi = on
              case 's' => pos += 1; fs = on
              case 'm' => pos += 1; fm = on
              case 'x' | 'u' | 'U' | 'd' => pos += 1 // accepted, no-op
              case '-' => pos += 1; on = false
              case ':' | ')' => done = true
              case _ => err("unknown inline flag")
            }
            val nf = Flags(fi, fs, fm)
            if (peek == ':') {
              pos += 1; val a = alt(nf); eat(')'); Right(GrpA(a, 0))
            } else { eat(')'); Left(nf) }
        }
      } else {
        groupCount += 1; val idx = groupCount
        val a = alt(f); eat(')'); Right(GrpA(a, idx))
      }
    }

    private def hexEscape(): Int = {
      // pos sits just past 'x'
      if (peek == '{') {
        pos += 1
        val st = pos
        while (pos < pat.length && pat.charAt(pos) != '}') pos += 1
        if (pos == pat.length || pos == st) err("bad \\x{...}")
        val cp = Integer.parseInt(pat.substring(st, pos), 16); pos += 1
        cp
      } else {
        if (pos + 2 > pat.length) err("truncated \\xHH")
        val cp = Integer.parseInt(pat.substring(pos, pos + 2), 16)
        pos += 2; cp
      }
    }

    private def uniEscape(): Int = {
      if (pos + 4 > pat.length) err("truncated \\uHHHH")
      val cp = Integer.parseInt(pat.substring(pos, pos + 4), 16)
      pos += 4; cp
    }

    private def predEscape(): Int = {
      // pos sits just past 'p'/'P'; returns predicate id
      val name =
        if (peek == '{') {
          pos += 1
          val st = pos
          while (pos < pat.length && pat.charAt(pos) != '}') pos += 1
          if (pos == pat.length) err("unterminated \\p{...}")
          val n = pat.substring(st, pos); pos += 1; n
        } else next().toString
      PredByName.getOrElse(name, err(s"unsupported \\p category `$name`"))
    }

    private def escape(f: Flags): Ast = next() match {
      case 'd' => ClsA(new CharSet(DigitRanges, Array.empty, false, false))
      case 'D' => ClsA(new CharSet(DigitRanges, Array.empty, true, false))
      case 'w' => ClsA(new CharSet(WordRanges, Array.empty, false, false))
      case 'W' => ClsA(new CharSet(WordRanges, Array.empty, true, false))
      case 's' => ClsA(new CharSet(WsRanges, Array.empty, false, false))
      case 'S' => ClsA(new CharSet(WsRanges, Array.empty, true, false))
      case 'n' => lit('\n', f)
      case 't' => lit('\t', f)
      case 'r' => lit('\r', f)
      case 'f' => lit('\f', f)
      case 'a' => lit(0x7, f)
      case 'e' => lit(0x1b, f)
      case 'b' => AssertA(AWb)
      case 'B' => AssertA(ANwb)
      case 'A' => AssertA(ABoi)
      case 'z' => AssertA(AEoi)
      case 'Z' => AssertA(AEoz)
      case 'x' => lit(hexEscape(), f)
      case 'u' => lit(uniEscape(), f)
      case 'p' => ClsA(new CharSet(Array.empty, Array(predEscape()),
        negated = false, ci = false))
      case 'P' => ClsA(new CharSet(Array.empty, Array(predEscape()),
        negated = true, ci = false))
      case 'Q' =>
        val end = pat.indexOf("\\E", pos)
        val stop = if (end < 0) pat.length else end
        val chars = pat.substring(pos, stop)
        pos = if (end < 0) pat.length else end + 2
        if (chars.isEmpty) EmptyA
        else CatA(chars.codePoints().toArray.toList.map(lit(_, f)))
      case c if c.isDigit => err(s"backreferences $Unsupported")
      case 'k' => err(s"backreferences $Unsupported")
      case 'G' => err("\\G is unsupported")
      case c => lit(c.toInt, f) // punctuation escape
    }

    /** In-class escape: returns a literal code point ≥ 0, or -2 after
      * appending a set escape (\d, \w, \s, \p{...}) directly to the
      * class under construction.
      */
    private def classEscape(
        rs: ArrayBuffer[Int], preds: ArrayBuffer[Int]): Int = next() match {
      case 'd' => rs ++= DigitRanges; -2
      case 'w' => rs ++= WordRanges; -2
      case 's' => rs ++= WsRanges; -2
      case 'D' | 'W' | 'S' =>
        err("negated escape classes inside [...] are unsupported")
      case 'n' => '\n'.toInt
      case 't' => '\t'.toInt
      case 'r' => '\r'.toInt
      case 'f' => '\f'.toInt
      case 'a' => 0x7
      case 'e' => 0x1b
      case 'b' => 0x8 // backspace inside a class
      case 'x' => hexEscape()
      case 'u' => uniEscape()
      case 'p' => preds += predEscape(); -2
      case 'P' => err("negated \\P inside [...] is unsupported")
      case c if c.isDigit => err(s"backreferences $Unsupported")
      case c => c.toInt // punctuation escape
    }

    private def charClass(f: Flags): CharSet = {
      var negated = false
      if (peek == '^') { pos += 1; negated = true }
      val rs = ArrayBuffer[Int]()
      val preds = ArrayBuffer[Int]()
      var first = true
      def readOne(): Int = {
        if (peek == '\\') { pos += 1; classEscape(rs, preds) }
        else {
          val c = next()
          if (Character.isHighSurrogate(c) && pos < pat.length &&
              Character.isLowSurrogate(pat.charAt(pos))) {
            val cp = Character.toCodePoint(c, pat.charAt(pos)); pos += 1; cp
          } else c.toInt
        }
      }
      while (pos < pat.length && (peek != ']' || first)) {
        if (peek == '&' && peek2 == '&')
          err("class intersection `&&` is unsupported (reference parity)")
        val lo = readOne()
        first = false
        if (lo >= 0) {
          if (peek == '-' && peek2 != ']'.toInt && peek2 != -1) {
            pos += 1
            val hi = readOne()
            if (hi < 0) err("a set escape cannot end a class range")
            if (hi < lo) err("bad class range")
            rs += lo; rs += hi
          } else { rs += lo; rs += lo }
        }
      }
      if (pos >= pat.length) err("unterminated character class")
      eat(']')
      val pairs = rs.grouped(2).map(g => (g(0), g(1))).toArray.sortBy(_._1)
      new CharSet(pairs.flatMap { case (a, b) => Array(a, b) },
        preds.toArray, negated, f.i)
    }
  }

  // ------------------------------------------------------------------
  // AST → program
  // ------------------------------------------------------------------

  private final class Emitter {
    val op = ArrayBuffer[Int]()
    val a1 = ArrayBuffer[Int]()
    val a2 = ArrayBuffer[Int]()
    val cls = ArrayBuffer[CharSet]()
    private def emit(o: Int, x: Int = 0, c: CharSet = null): Int = {
      if (op.length >= MaxProgramSize)
        throw new IllegalArgumentException(
          s"regex compiles past the size cap ($MaxProgramSize states) — " +
            "simplify the pattern")
      op += o; a1 += x; a2 += 0; cls += c
      op.length - 1
    }

    def compile(a: Ast): Unit = { gen(a); emit(OpMatch) }

    private def gen(a: Ast): Unit = a match {
      case EmptyA =>
      case ClsA(cs) => emit(OpChar, c = cs)
      case AssertA(k) => emit(OpAssert, k)
      case CatA(xs) => xs.foreach(gen)
      case GrpA(x, 0) => gen(x)
      case GrpA(x, idx) =>
        emit(OpSave, 2 * idx)
        gen(x)
        emit(OpSave, 2 * idx + 1)
      case AltA(xs) =>
        val jumps = ArrayBuffer[Int]()
        var i = 0
        while (i < xs.length) {
          if (i == xs.length - 1) gen(xs(i))
          else {
            val sp = emit(OpSplit)
            a1(sp) = op.length
            gen(xs(i))
            jumps += emit(OpJmp)
            a2(sp) = op.length
          }
          i += 1
        }
        jumps.foreach(j => a1(j) = op.length)
      case RepA(x, 0, -1, lz) => // star; a1 = preferred branch
        val sp = emit(OpSplit)
        val bodyAt = op.length
        gen(x)
        emit(OpJmp, sp)
        val exitAt = op.length
        if (lz) { a1(sp) = exitAt; a2(sp) = bodyAt }
        else { a1(sp) = bodyAt; a2(sp) = exitAt }
      case RepA(x, 1, -1, lz) => // plus
        val st = op.length
        gen(x)
        val sp = emit(OpSplit)
        if (lz) { a1(sp) = op.length; a2(sp) = st }
        else { a1(sp) = st; a2(sp) = op.length }
      case RepA(x, 0, 1, lz) => // question
        val sp = emit(OpSplit)
        val bodyAt = op.length
        gen(x)
        if (lz) { a1(sp) = op.length; a2(sp) = bodyAt }
        else { a1(sp) = bodyAt; a2(sp) = op.length }
      case RepA(x, lo, -1, lz) =>
        var i = 0
        while (i < lo - 1) { gen(x); i += 1 }
        gen(RepA(x, 1, -1, lz))
      case RepA(x, lo, hi, lz) =>
        var i = 0
        while (i < lo) { gen(x); i += 1 }
        val exits = ArrayBuffer[Int]()
        var j = lo
        while (j < hi) {
          val sp = emit(OpSplit)
          if (lz) exits += sp else { a1(sp) = op.length; exits += sp }
          if (lz) a2(sp) = op.length
          gen(x)
          j += 1
        }
        if (lz) exits.foreach(sp => a1(sp) = op.length)
        else exits.foreach(sp => a2(sp) = op.length)
    }

    def program: Program =
      new Program(op.toArray, a1.toArray, a2.toArray, cls.toArray)
  }

  /** Compile; IllegalArgumentException on syntax errors and on the
    * constructs the linear-time engine (like the reference's regex crate)
    * does not support.
    */
  def compile(pattern: String): LinearRegex = {
    if (pattern == null) throw new IllegalArgumentException("null pattern")
    if (pattern.length > MaxPatternLength)
      throw new IllegalArgumentException(
        s"regex pattern longer than $MaxPatternLength chars")
    val p = new Parser(pattern)
    val (ast, nGroups) = p.parse()
    val em = new Emitter
    em.compile(ast)
    new LinearRegex(em.program, pattern, nGroups, p.names.toMap)
  }

  /** One-shot unanchored search (compiles per call — hot paths should
    * hold a compiled instance).
    */
  def find(pattern: String, s: String): Boolean = compile(pattern).find(s)
}

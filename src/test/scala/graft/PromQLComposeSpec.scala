package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LabelMatcher
import graft.promql.ExtendedPromQL
import graft.promql.ExtendedPromQL._
import graft.promql.SimplePromQL.PromQLError

/** PromQL operator precedence/associativity and operand composability.
  *
  * Prometheus grammar facts pinned here (promql/parser in the upstream
  * grammar): set operators are left-associative with `or` binding
  * loosest; comparisons are left-associative; aggregations, ranked
  * vectors, and binary results are first-class vector operands
  * (`sum(a) / sum(b)`, `sum(x) or vector(0)`, `abs(a - b)`). The
  * randomized differential at the end checks the evaluator's set
  * algebra against an in-memory reference fold with the same
  * precedence rules — left- vs right-associative `unless` chains
  * produce different sets, so associativity is semantics, not style.
  */
class PromQLComposeSpec extends SparkSpec {

  private val now = 1706745600000000L

  // ---------------------------------------------------------- parse pins

  test("set operators: or binds loosest, all left-associative") {
    ExtendedPromQL.parse("a and b or c", now) match {
      case BinSetQ("or", BinSetQ("and", _: SelectorQ, _: SelectorQ),
          _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("a or b and c", now) match {
      case BinSetQ("or", _: SelectorQ,
          BinSetQ("and", _: SelectorQ, _: SelectorQ)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("a unless b unless c", now) match {
      case BinSetQ("unless", BinSetQ("unless", _: SelectorQ, _: SelectorQ),
          _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("a or b or c", now) match {
      case BinSetQ("or", BinSetQ("or", _, _), _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    // parens override the default grouping
    ExtendedPromQL.parse("a unless (b unless c)", now) match {
      case BinSetQ("unless", _: SelectorQ, BinSetQ("unless", _, _)) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("comparison chains are left-associative") {
    ExtendedPromQL.parse("view > 1 < 2", now) match {
      case BinCmpQ("<", 2.0, false, false,
          BinCmpQ(">", 1.0, false, false, _: SelectorQ)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("view >= 1 == bool 0", now) match {
      case BinCmpQ("==", 0.0, false, true,
          BinCmpQ(">=", 1.0, false, false, _: SelectorQ)) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("aggregations compose as vector operands") {
    ExtendedPromQL.parse("sum(view) > 5", now) match {
      case BinCmpQ(">", 5.0, false, false,
          InstantAggQ("sum", _, _, _, _, _)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("sum(view) or vector(0)", now) match {
      case BinSetQ("or", InstantAggQ("sum", _, _, _, _, _),
          VectorLitQ(0.0)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("abs(a - b)", now) match {
      case MathFnQ("abs", Nil, BinVectorQ('-', _, _, _, _, _, _)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("sum(rate(a[5m]) / rate(b[5m]))", now) match {
      case InstantAggVecQ("sum", _, _, BinVectorQ('/',
          RangeFnQ("rate", _, _, _), RangeFnQ("rate", _, _, _),
          _, _, _, _)) =>
        ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("topk(2, view) * 10", now) match {
      case BinScalarQ('*', 10.0, false, TopKQ("topk", 2, _, _, _, _, _)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse(
      "sum by (user) (view) / sum by (user) (click)", now) match {
      case BinVectorQ('/', InstantAggQ("sum", Seq("user"), false, _, _, _),
          InstantAggQ("sum", Seq("user"), false, _, _, _), _, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("group_left(labels) copies labels from the one side") {
    import spark.implicits._
    ExtendedPromQL.parse("a * on(user) group_left(dc) b", now) match {
      case BinVectorQ('*', _, _, Seq("user"), false, Some("left"),
          Seq("dc")) => ()
      case other => fail(s"unexpected: $other")
    }
    // many side (left) keeps its full labels; `dc` rides over from the
    // one side; a same-named key on the many side is replaced
    val selL = Seq(
      ("a 1", Map("user" -> "1", "env" -> "prod")),
      ("a 2", Map("user" -> "2", "dc" -> "old")))
      .toDF("sensor_id", "labels")
    val selR = Seq(
      ("b 1", Map("user" -> "1", "dc" -> "x")),
      ("b 2", Map("user" -> "2", "dc" -> "y")))
      .toDF("sensor_id", "labels")
    val samples = Seq(
      ("a 1", 1L, 10.0), ("a 2", 1L, 4.0),
      ("b 1", 1L, 2.0), ("b 2", 1L, 5.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val q = BinVectorQ('*',
      SelectorQ(Seq(LabelMatcher.Eq(LabelMatcher.NameLabel, "a")), 0L, 10L),
      SelectorQ(Seq(LabelMatcher.Eq(LabelMatcher.NameLabel, "b")), 0L, 10L),
      Seq("user"), ignoring = false, Some("left"), Seq("dc"))
    val got = ExtendedPromQL.evalWith(q,
      ms => if (ms.contains(LabelMatcher.Eq(LabelMatcher.NameLabel, "a")))
        selL else selR,
      samples)
      .select(col("labels"), col("value"))
      .as[(Map[String, String], Double)].collect().toSet
    assert(got == Set(
      (Map("user" -> "1", "env" -> "prod", "dc" -> "x"), 20.0),
      (Map("user" -> "2", "dc" -> "y"), 20.0)))
  }

  test("topk/bottomk accept a without clause (grouped ranking)") {
    ExtendedPromQL.parse("topk without (env) (1, view)", now) match {
      case TopKQ("topk", 1, Seq("env"), true, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("bottomk(2, view) without (user)", now) match {
      case TopKQ("bottomk", 2, Seq("user"), true, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
    // without(user) collapses the fixture's only label: one global
    // group, whose top-1 is a's largest latest sample (user 3, 8.0)
    assert(runQuery("topk without (user) (1, a)") == Set(("a 3", 8.0)))
  }

  test("absurd durations are a parse error, not a wrapped window") {
    intercept[PromQLError] {
      ExtendedPromQL.parse("view[99999999999999999999ms]", now)
    }
    intercept[PromQLError] { // 1e10 years * 31536000000 ms/y overflows
      ExtendedPromQL.parse("view[9999999999y]", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("view offset 9999999999y", now)
    }
  }

  test("@ modifier binds without surrounding whitespace") {
    val t = 1700000000L
    for (q <- Seq(s"view @ $t", s"view @$t", s"view@$t")) {
      ExtendedPromQL.parse(q, now) match {
        case s: SelectorQ => assert(s.endUs == t * 1000000L, q)
        case other => fail(s"'$q' unexpected: $other")
      }
    }
    // an @ inside a quoted label value stays inert
    ExtendedPromQL.parse("""view{a="x@5"}""", now) match {
      case s: SelectorQ => assert(s.endUs == now)
      case other => fail(s"unexpected: $other")
    }
  }

  test("vector(0) does not widen the parent's scan window") {
    // the fallback literal consumes no samples; a [0, 0] literal window
    // previously made `x or vector(0)` report startUs = 0, turning the
    // caller's bounded scan into a full-history one
    val q = ExtendedPromQL.parse("view or vector(0)", now)
    assert(q.startUs == now - 3600L * 1000000L && q.endUs == now)
    val v = ExtendedPromQL.parse("vector(5)", now)
    assert(v.startUs > v.endUs) // inverted = neutral, selects nothing
    // the fallback still evaluates: empty left → the literal row
    assert(runQuery("nope or vector(0)",
      Map(("a", "1") -> 7.0)) == Set(("", 0.0)))
  }

  test("parser fuzz: random near-PromQL strings only ever throw " +
      "PromQLError") {
    // the gateway maps PromQLError to a 400; anything else escaping the
    // parser (NumberFormatException from a bare .toInt/.toLong,
    // StringIndexOutOfBounds from a substring, StackOverflowError from
    // runaway recursion) would surface as a 500 — this fuzz pins the
    // whole exception surface, the class the duration-overflow bug
    // (silent Long wrap / raw NFE) belonged to. Deep nesting and long
    // operator chains, hundreds to thousands of levels, are what
    // recursion overflows on.
    val rnd = new scala.util.Random(0xDEE9)
    val wrappers = Seq("(", "abs(", "sum(", "scalar(", "sort(", "-(",
      "rate(", "count_over_time(", "sum by (a) (", "max_over_time(")
    val ops = Seq(" + ", " - ", " * ", " / ", " ^ ", " % ", " atan2 ",
      " and ", " or ", " unless ", " > ", " == bool ", " / on(a) ")
    val deep = Seq(50, 300, 1000, 5000).flatMap { n =>
      val nest = Seq.fill(n)(wrappers(rnd.nextInt(wrappers.length)))
      val chain = Seq.fill(n)(ops(rnd.nextInt(ops.length)))
      Seq("(" * n + "x" + ")" * n,
        nest.mkString + "x[5m]" + ")" * n,
        nest.mkString + "x" + ")" * n,
        Seq.fill(n)("x").mkString(" + "),
        Seq.fill(n)("x").mkString(" ^ "),
        chain.map("x" + _).mkString + "x",
        chain.map("(x" + _).mkString + "x" + ")" * n)
    }
    var parsed = 0
    for (q <- PromQLCorpus.fuzzStrings(3000) ++ deep) {
      try { ExtendedPromQL.parse(q, now); parsed += 1 }
      catch {
        case _: PromQLError => () // the one legal failure mode
        case e: Throwable =>
          fail(s"'${q.take(80)}' (${q.length} chars) escaped the parser " +
            s"with ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(parsed > 0) // the generator does produce some valid queries
  }

  // ------------------------------------------------------- eval fixtures

  // three metrics a/b/c over a shared user-label universe; values are
  // distinct per (metric, user) so the contributing side is observable
  private val userValues: Map[(String, String), Double] = Map(
    ("a", "1") -> 2.0, ("a", "2") -> 4.0, ("a", "3") -> 8.0,
    ("b", "1") -> 3.0, ("b", "2") -> 9.0,
    ("c", "2") -> 5.0, ("c", "3") -> 7.0, ("c", "4") -> 11.0)

  private def fixture(present: Map[(String, String), Double])
      : (Seq[LabelMatcher] => DataFrame, DataFrame) = {
    import spark.implicits._
    val cat = present.keys.toSeq.sortBy(identity).map { case (m, u) =>
      (s"$m $u", m, Map("user" -> u))
    }.toDF("sensor_id", "metric", "labels")
    val samples = present.toSeq.sortBy(_._1).map { case ((m, u), v) =>
      (s"$m $u", 1000000L, v)
    }.toDF("sensor_id", "timestamp_us", "value")
    val selectFor = (ms: Seq[LabelMatcher]) => {
      val name = ms.collectFirst {
        case LabelMatcher.Eq(LabelMatcher.NameLabel, n) => n
      }
      name match {
        case Some(n) => cat.filter(col("metric") === n)
          .select("sensor_id", "labels")
        case None => cat.select("sensor_id", "labels")
      }
    }
    (selectFor, samples)
  }

  private def runQuery(q: String,
      present: Map[(String, String), Double] = userValues)
      : Set[(String, Double)] = {
    import spark.implicits._
    val (selectFor, samples) = fixture(present)
    val parsed = ExtendedPromQL.parse(q, 2000000L)
    val out = ExtendedPromQL.evalWith(parsed, selectFor, samples)
    // aggregations surface (group_labels, value) at top level; derive
    // the same canonical id the operand normalization mints so every
    // query shape compares uniformly
    val idCol =
      if (out.columns.contains("sensor_id")) col("sensor_id")
      else {
        val lb =
          if (out.columns.contains("labels")) col("labels")
          else col("group_labels")
        concat_ws(",", transform(array_sort(map_entries(lb)),
          e => concat(e.getField("key"), lit("="), e.getField("value"))))
      }
    out.select(idCol.cast("string"), col("value").cast("double"))
      .as[(String, Double)].collect().toSet
  }

  // ----------------------------------------------------------- eval pins

  test("unless chains evaluate left-associatively") {
    // (a unless b) unless c: a's users {1,2,3} minus b's {1,2} minus
    // c's {2,3,4} = {} — the right-associative reading would keep
    // {1, 2} (b unless c = {1}, a unless {1} = {2, 3} ... any nonempty
    // set), so an empty result pins the grouping
    assert(runQuery("a unless b unless c").isEmpty)
    // explicit parens select the right-associative set: b unless c =
    // user 1, a unless {1} = users 2 and 3
    assert(runQuery("a unless (b unless c)") ==
      Set(("a 2", 4.0), ("a 3", 8.0)))
    // or binds looser than and: a or (b and c) — b∧c is b's user 2,
    // whose label set {user=2} already exists on the left, so `or`
    // keeps a's row; a first-split reading ((a or b) and c) would
    // instead drop user 1 (absent from c)
    assert(runQuery("a or b and c") ==
      Set(("a 1", 2.0), ("a 2", 4.0), ("a 3", 8.0)))
  }

  test("aggregation ratio: sum(a) / sum(b)") {
    // sum(a) = 14, sum(b) = 12; empty group-label maps match
    assert(runQuery("sum(a) / sum(b)") == Set(("", 14.0 / 12.0)))
    // per-user grouping matches on the user label: 2/3 and 4/9
    assert(runQuery("sum by (user) (a) / sum by (user) (b)") ==
      Set(("user=1", 2.0 / 3.0), ("user=2", 4.0 / 9.0)))
  }

  test("aggregation comparison and or-fallback") {
    // sum(a) = 14 > 5 survives with its value
    assert(runQuery("sum(a) > 5") == Set(("", 14.0)))
    // filtered-out aggregate falls back to the vector(0) literal
    assert(runQuery("sum(a) > 100 or vector(0)") == Set(("", 0.0)))
    // surviving aggregate wins over the fallback (same empty label set)
    assert(runQuery("sum(a) > 5 or vector(0)") == Set(("", 14.0)))
  }

  test("math over a binary vector result: abs(a - b)") {
    // users 1 and 2 exist on both sides: |2-3| = 1, |4-9| = 5
    val got = runQuery("abs(a - b)")
    assert(got == Set(("user=1", 1.0), ("user=2", 5.0)))
  }

  test("aggregation over a binary vector result: sum(a * b)") {
    // per-user products 2*3=6, 4*9=36 — cross-series sum = 42
    assert(runQuery("sum(a * b)") == Set(("", 42.0)))
  }

  test("ranked vector as operand: topk(2, a) * 10") {
    // top-2 of a by latest value: users 3 (8.0) and 2 (4.0)
    assert(runQuery("topk(2, a) * 10") ==
      Set(("a 3", 80.0), ("a 2", 40.0)))
  }

  test("count aggregate normalizes to float as an operand") {
    // count(a) = 3 series; arithmetic over the long count works
    assert(runQuery("count(a) * 2") == Set(("", 6.0)))
  }

  test("aggregation inside a subquery: max_over_time(sum(a)[2s:1s])") {
    // steps at 0s/1s/2s; the fixture's samples sit at t=1s, so the 1h
    // lookback covers them from the 1s and 2s steps; sum(a) = 14 at
    // both → the outer max folds to 14 over the empty group-label
    // series
    ExtendedPromQL.parse("max_over_time(sum(a)[2s:1s])", now) match {
      case SubqueryOverTimeQ("max", None,
          InstantAggQ("sum", _, _, _, _, _), _, _, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
    assert(runQuery("max_over_time(sum(a)[2s:1s])") == Set(("", 14.0)))
    // grouped: per-user sums are single series; avg over steps is the
    // value itself
    assert(runQuery("avg_over_time(sum by (user) (a)[2s:1s])") ==
      Set(("user=1", 2.0), ("user=2", 4.0), ("user=3", 8.0)))
    // aggregation over a per-series range function inside the subquery
    assert(runQuery("max_over_time(sum(count_over_time(a[1s]))[2s:1s])") ==
      Set(("", 3.0)))
  }

  test("binary vector operands inside subqueries: the SLO burn-rate " +
      "shape evaluates") {
    // steps at 0s/1s/2s; samples at 1s ⇒ steps 1s and 2s carry the
    // vector {user=1: 2/3, user=2: 4/9} (user=3 has no b side); the
    // outer fold runs over those per-series step values
    assert(runQuery("max_over_time((a / b)[2s:1s])") ==
      Set(("user=1", 2.0 / 3.0), ("user=2", 4.0 / 9.0)))
    assert(runQuery("avg_over_time((a / b)[2s:1s])") ==
      Set(("user=1", 2.0 / 3.0), ("user=2", 4.0 / 9.0)))
    // aggregation over the binary vector per step: sum{2/3, 4/9} = 10/9
    assert(runQuery("max_over_time(sum(a / b)[2s:1s])") ==
      Set(("", 2.0 / 3.0 + 4.0 / 9.0)))
    // on()/group_left survive the subquery route
    assert(runQuery(
      "min_over_time((a * on(user) b)[2s:1s])") ==
      Set(("user=1", 6.0), ("user=2", 36.0)))
    // set operands: a and b keeps the left values where b exists
    assert(runQuery("avg_over_time((a and b)[2s:1s])") ==
      Set(("a 1", 2.0), ("a 2", 4.0)))
    assert(runQuery("avg_over_time((a unless b)[2s:1s])") ==
      Set(("a 3", 8.0)))
    // dynamic scalar operand: scalar(sum(b)) = 12 at each covered step
    assert(runQuery("max_over_time((a * scalar(sum(b)))[2s:1s])") ==
      Set(("a 1", 24.0), ("a 2", 48.0), ("a 3", 96.0)))
  }

  test("nested subqueries evaluate on a shared epoch-aligned grid") {
    // inner avg_over_time(a[2s:1s]) at covered steps is just the value
    // (one sample); the outer max over outer steps preserves it
    assert(runQuery("max_over_time(avg_over_time(a[2s:1s])[2s:1s])") ==
      Set(("a 1", 2.0), ("a 2", 4.0), ("a 3", 8.0)))
    // count_over_time counts COVERED inner steps per outer window:
    // outer steps 0/1/2s contribute inner grids {-2..0}/{-1..1}/{0..2};
    // data exists at inner steps 1s and 2s ⇒ per-series counts 1 and 2
    // at outer 1s and 2s; the outer max_over_time of the inner count
    assert(runQuery(
      "max_over_time(count_over_time(a[2s:1s])[2s:1s])") ==
      Set(("a 1", 2.0), ("a 2", 2.0), ("a 3", 2.0)))
    // nested + binary: the full composition
    assert(runQuery(
      "max_over_time(avg_over_time((a / b)[2s:1s])[2s:1s])") ==
      Set(("user=1", 2.0 / 3.0), ("user=2", 4.0 / 9.0)))
  }

  test("evalRange: per-step vectors anchored at start, aggregations too") {
    import spark.implicits._
    val (selectFor, samples) = fixture(userValues)
    // samples sit at t=1s; the 1h lookback covers them from every step
    // at or after 1s — and NOT from the step at 0
    val q = ExtendedPromQL.parse("a", 3000000L)
    val out = ExtendedPromQL
      .evalRange(q, 0L, 3000000L, 1000000L, selectFor, samples)
      .select(col("sensor_id"), col("t_us"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(out == (for {
      (u, v) <- Seq(("1", 2.0), ("2", 4.0), ("3", 8.0))
      t <- Seq(1000000L, 2000000L, 3000000L)
    } yield (s"a $u", t, v)).toSet)
    // a non-aligned start anchors the grid at start (Prometheus API
    // semantics), unlike subquery steps which align to epoch multiples
    val q2 = ExtendedPromQL.parse("sum(a)", 2500000L)
    val out2 = ExtendedPromQL
      .evalRange(q2, 500000L, 2500000L, 1000000L, selectFor, samples)
      .select(col("t_us"), col("value")).as[(Long, Double)].collect().toSet
    assert(out2 == Set((1500000L, 14.0), (2500000L, 14.0)))
    intercept[PromQLError] { // zero step
      ExtendedPromQL.evalRange(q, 0L, 3000000L, 0L, selectFor, samples)
    }
    // vector-vector operands evaluate per step (r14): the ratio panel
    val ratio = ExtendedPromQL
      .evalRange(ExtendedPromQL.parse("a / b", 3000000L),
        0L, 3000000L, 1000000L, selectFor, samples)
      .select(col("labels"), col("t_us"), col("value"))
      .as[(Map[String, String], Long, Double)].collect().toSet
    assert(ratio == (for {
      (u, v) <- Seq(("1", 2.0 / 3.0), ("2", 4.0 / 9.0))
      t <- Seq(1000000L, 2000000L, 3000000L)
    } yield (Map("user" -> u), t, v)).toSet)
  }

  test("evalRangeApi: whole-expression @ pins to a constant series; " +
      "sub-expression @ rejects") {
    import spark.implicits._
    val (selectFor, samples) = fixture(userValues)
    val samplesFor = (lo: Long, hi: Long) =>
      samples.filter(col("timestamp_us").between(lo, hi))
    // `a @ 3`: pinned at 3s — the 1h lookback window [3s-1h, 3s] covers
    // the t=1s fixture samples, so EVERY step carries the same value,
    // including the step at 0 (which unpinned evaluation would miss:
    // its window ends before the samples exist)
    val out = ExtendedPromQL
      .evalRangeApi("a @ 3", 0L, 3000000L, 1000000L, selectFor, samplesFor)
      .select(col("sensor_id"), col("t_us"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(out == (for {
      (u, v) <- Seq(("1", 2.0), ("2", 4.0), ("3", 8.0))
      t <- Seq(0L, 1000000L, 2000000L, 3000000L)
    } yield (s"a $u", t, v)).toSet)
    // `sum(a) @ end()`: anchor resolves to the range end; one instant
    // evaluation (14.0) replicated across the grid
    val out2 = ExtendedPromQL
      .evalRangeApi("sum(a) @ end()", 500000L, 2500000L, 1000000L,
        selectFor, samplesFor)
      .select(col("t_us"), col("value")).as[(Long, Double)].collect().toSet
    assert(out2 == Set((500000L, 14.0), (1500000L, 14.0),
      (2500000L, 14.0)))
    // `@ start()` pins BEFORE the samples exist: empty at every step —
    // NOT the drifting window the per-step shift would produce
    assert(ExtendedPromQL
      .evalRangeApi("a @ start()", 0L, 3000000L, 1000000L,
        selectFor, samplesFor).isEmpty)
    // @ on a sub-expression rejects cleanly (documented deviation)
    intercept[PromQLError] {
      ExtendedPromQL.evalRangeApi("abs(a @ 3)", 0L, 3000000L, 1000000L,
        selectFor, samplesFor)
    }
    intercept[PromQLError] {
      ExtendedPromQL.evalRangeApi("a @ 3 + 1", 0L, 3000000L, 1000000L,
        selectFor, samplesFor)
    }
    // the unpinned path through the same entry still anchors per step
    val plain = ExtendedPromQL
      .evalRangeApi("a", 0L, 3000000L, 1000000L, selectFor, samplesFor)
      .select(col("t_us")).distinct().as[Long].collect().toSet
    assert(plain == Set(1000000L, 2000000L, 3000000L))
  }

  test("evalRangeApi: whole-expression @ pins composite shapes too " +
      "(binary-vector operands, nested subqueries) — r15") {
    import spark.implicits._
    val (selectFor, samples) = fixture(userValues)
    val samplesFor = (lo: Long, hi: Long) =>
      samples.filter(col("timestamp_us").between(lo, hi))
    // `(sum(a)/sum(b)) @ 3`: rangeChecks admits the binary-vector shape
    // since r14, so the pinned path must evaluate it (through
    // perStepAny), not die with 'Unsupported subquery inner expression'
    val ratio = ExtendedPromQL
      .evalRangeApi("(sum(a)/sum(b)) @ 3", 0L, 3000000L, 1000000L,
        selectFor, samplesFor)
      .select(col("t_us"), col("value")).as[(Long, Double)].collect().toSet
    assert(ratio == Set(0L, 1000000L, 2000000L, 3000000L)
      .map(t => (t, 14.0 / 12.0)))
    // pinned subquery: inner grid ends at the PIN, every output step
    // replicates the one evaluation
    val sq = ExtendedPromQL
      .evalRangeApi("max_over_time(a[2s:1s]) @ 3", 0L, 3000000L, 1000000L,
        selectFor, samplesFor)
      .select(col("sensor_id"), col("t_us"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(sq == (for {
      (u, v) <- Seq(("1", 2.0), ("2", 4.0), ("3", 8.0))
      t <- Seq(0L, 1000000L, 2000000L, 3000000L)
    } yield (s"a $u", t, v)).toSet)
  }

  // ------------------------- randomized differential: instant vs per-step

  /** Asserts that `evalRange` at the one-step grid [t, t] equals
    * `evalWith` at t for each of `shapes`: an instant query is the
    * per-step evaluation at one step — same window, same kernels. Runs
    * over seeded series with timestamp ties, counter resets and a
    * one-sample series. Integer-valued samples keep every sum exact;
    * only the central-moment folds (stddev/stdvar, deriv's regression)
    * may differ in the last bits with the partial-aggregation order.
    */
  private def instantEqualsOneStep(shapes: Seq[String]): Unit = {
    import spark.implicits._
    val t = 3600L * 1000000L
    for (seed <- Seq(7, 11, 23)) {
      val rnd = new scala.util.Random(seed)
      // per (metric, user) series: zone follows the user's parity. m's
      // users 1-3 carry the fixed edge cases — one sample in the window,
      // a timestamp tie, a counter reset — and every other series draws
      // 2-8 samples on a 30 s grid around the window, ties allowed
      val series = for {
        metric <- Seq("m", "n"); user <- 1 to 5
        if metric == "m" || rnd.nextInt(4) > 0
      } yield {
        val id = s"$metric $user"
        val pts: Seq[(Long, Double)] = (metric, user) match {
          case ("m", 1) => Seq((t - 60000000L, 5.0))
          case ("m", 2) =>
            Seq((t - 300000000L, 3.0), (t - 120000000L, 4.0),
              (t - 120000000L, 9.0), (t, 10.0))
          case ("m", 3) =>
            Seq((t - 600000000L, 30.0), (t - 400000000L, 41.0),
              (t - 200000000L, 2.0), (t - 30000000L, 7.0))
          case _ =>
            var v = 1 + rnd.nextInt(10)
            Seq.fill(2 + rnd.nextInt(7)) {
              v = if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(3)
                else v + rnd.nextInt(6)
              (t - 30000000L * rnd.nextInt(30) + 90000000L, v.toDouble)
            }
        }
        (id, metric, Map("user" -> user.toString,
          "zone" -> (if (user % 2 == 0) "even" else "odd")), pts)
      }
      val cat = series.map { case (id, metric, labels, _) =>
        (id, metric, labels) }.toDF("sensor_id", "metric", "labels")
      val samples = series.flatMap { case (id, _, _, pts) =>
        pts.map { case (ts, v) => (id, ts, v) } }
        .toDF("sensor_id", "timestamp_us", "value")
      val selectFor = (ms: Seq[LabelMatcher]) => {
        val name = ms.collectFirst {
          case LabelMatcher.Eq(LabelMatcher.NameLabel, n) => n
        }.getOrElse(fail(s"no metric name in $ms"))
        cat.filter(col("metric") === name).select("sensor_id", "labels")
      }
      def rows(df: DataFrame): Seq[(Map[String, String], Double)] = {
        val labels =
          if (df.columns.contains("labels")) col("labels")
          else col("group_labels")
        df.select(labels, col("value").cast("double"))
          .as[(Map[String, String], Double)].collect().toSeq
          .sortBy(r => (r._1.toSeq.sorted.mkString(","), r._2))
      }
      for (shape <- shapes) {
        val q = ExtendedPromQL.parse(shape, t)
        val instant = rows(ExtendedPromQL.evalWith(q, selectFor, samples))
        val stepped = rows(ExtendedPromQL.evalRange(
          q, t, t, 1000000L, selectFor, samples))
        val clue = s"seed $seed, '$shape': instant $instant, step $stepped"
        assert(instant.nonEmpty, clue)
        assert(instant.map(_._1) == stepped.map(_._1), clue)
        instant.zip(stepped).foreach { case ((_, a), (_, b)) =>
          if (shape.startsWith("std") || shape.startsWith("deriv"))
            assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)), clue)
          else assert(a == b, clue)
        }
      }
    }
  }

  test("randomized differential: evalRange at one step equals evalWith " +
      "at that instant for every shape both paths evaluate") {
    instantEqualsOneStep(Seq("sum", "avg", "count", "min", "max", "last",
      "stddev", "stdvar", "present").map(op => s"${op}_over_time(m[10m])") ++
      Seq("quantile_over_time(0.3, m[10m])", "delta(m[10m])",
        "resets(m[10m])", "changes(m[10m])", "increase(m[10m])",
        "rate(m[10m])", "rate(m[10m]) * 60", "2 - max_over_time(m[10m])",
        "abs(delta(m[10m]))", "sqrt(increase(m[10m]))",
        "max_over_time(m[10m]) > 20", "changes(m[10m]) >= bool 2",
        "sum by (zone) (m)", "sum by (zone) (increase(m[10m]))",
        "count without (user) (m)", "quantile(0.5, m)",
        "quantile by (zone) (0.75, max_over_time(m[10m]))",
        "m / n", "m and n",
        "sum_over_time(m[10m]) / count_over_time(n[10m])"))
  }

  test("idelta, irate and deriv evaluate per step like the other range " +
      "functions") {
    // one window-function implementation serves both paths, so the
    // last-pair and regression functions are subquery and query_range
    // operands too
    instantEqualsOneStep(Seq("idelta(m[10m])", "irate(m[10m])",
      "deriv(m[10m])", "max_over_time(irate(m[10m])[20m:5m])"))
    // a last pair sharing one timestamp has no interval: no result (the
    // Prometheus zero-interval rule), where irate divided by zero
    import spark.implicits._
    val sel = Seq(("x 1", Map("user" -> "1")), ("x 2", Map("user" -> "2")))
      .toDF("sensor_id", "labels")
    val samples = Seq(("x 1", 1000000L, 1.0), ("x 1", 2000000L, 3.0),
      ("x 1", 2000000L, 4.0), ("x 2", 1000000L, 1.0), ("x 2", 2000000L, 3.0))
      .toDF("sensor_id", "timestamp_us", "value")
    for (fn <- Seq("idelta", "irate"))
      assert(ExtendedPromQL.evalWith(ExtendedPromQL.parse(s"$fn(x[1m])",
          2000000L), _ => sel, samples)
        .select("sensor_id").as[String].collect().toSeq == Seq("x 2"), fn)
  }

  // --------------------------------------- randomized differential: sets

  /** Reference evaluator for set-operator chains over user→value maps,
    * implementing the Prometheus precedence directly: maximal
    * `and`/`unless` runs reduce left-to-right first, `or` folds the
    * results left-to-right.
    */
  private def referenceSetChain(
      operands: Seq[Map[String, (String, Double)]],
      ops: Seq[String]): Map[String, (String, Double)] = {
    def tight(l: Map[String, (String, Double)], op: String,
        r: Map[String, (String, Double)]) = op match {
      case "and" => l.filter { case (k, _) => r.contains(k) }
      case "unless" => l.filter { case (k, _) => !r.contains(k) }
      case other => fail(s"not a tight op: $other")
    }
    // split the chain at `or` boundaries into and/unless runs
    val runs = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer(operands.head))
    val runOps = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[String])
    ops.zip(operands.tail).foreach { case (op, operand) =>
      if (op == "or") {
        runs += scala.collection.mutable.ArrayBuffer(operand)
        runOps += scala.collection.mutable.ArrayBuffer.empty[String]
      } else {
        runs.last += operand
        runOps.last += op
      }
    }
    val reduced = runs.zip(runOps).map { case (rs, os) =>
      os.zip(rs.tail).foldLeft(rs.head) { case (acc, (op, r)) =>
        tight(acc, op, r)
      }
    }
    reduced.reduceLeft((l, r) =>
      l ++ r.filter { case (k, _) => !l.contains(k) })
  }

  test("randomized differential: arithmetic chains match a precedence " +
      "climber") {
    // the engine splits text at the last operator of the lowest tier
    // present (first for right-assoc ^); the reference here is an
    // INDEPENDENT formulation — standard precedence climbing over the
    // token chain — so agreement pins tiering, associativity, sign
    // context ("m * -3"), scientific notation ("5e-1"), and the atan2
    // word operator at once. One single-series metric keeps the value
    // observable; chains whose climb would apply an operator to two
    // scalars are skipped (the engine rejects scalar-scalar arithmetic
    // by design), as are zero divisors and non-finite results.
    val rnd = new scala.util.Random(0xBEEF)
    val scalarLits = Seq("3" -> 3.0, "0.5" -> 0.5, "-2" -> -2.0,
      "1.5" -> 1.5, "5e-1" -> 0.5, "2e1" -> 20.0, "7" -> 7.0)
    val opChars = Seq('+', '-', '*', '/', '%', '^', 'A')
    val present = Map(("a", "1") -> 7.0)
    def prec(op: Char): Int = op match {
      case '+' | '-' => 1
      case '*' | '/' | '%' | 'A' => 2
      case '^' => 3
    }
    // returns (value, containsMetric), or None when the chain is one
    // the engine rejects or a degenerate float case
    def reference(vals: Vector[(Double, Boolean)], chOps: Vector[Char])
        : Option[Double] = {
      var ok = true
      def apply(op: Char, l: (Double, Boolean), r: (Double, Boolean))
          : (Double, Boolean) = {
        if (!l._2 && !r._2) ok = false // scalar-scalar: engine rejects
        val v = op match {
          case '+' => l._1 + r._1
          case '-' => l._1 - r._1
          case '*' => l._1 * r._1
          case '/' =>
            if (math.abs(r._1) < 1e-9) { ok = false; 0.0 } else l._1 / r._1
          case '%' =>
            if (math.abs(r._1) < 1e-9) { ok = false; 0.0 } else l._1 % r._1
          case '^' => math.pow(l._1, r._1)
          case 'A' => math.atan2(l._1, r._1)
        }
        (v, l._2 || r._2)
      }
      var i = 0
      def climb(minPrec: Int): (Double, Boolean) = {
        var lhs = vals(i)
        i += 1
        while (i - 1 < chOps.length && prec(chOps(i - 1)) >= minPrec) {
          val op = chOps(i - 1)
          val p = prec(op)
          val rhs = climb(if (op == '^') p else p + 1)
          lhs = apply(op, lhs, rhs)
        }
        lhs
      }
      val (v, _) = climb(1)
      if (ok && java.lang.Double.isFinite(v)) Some(v) else None
    }
    var done = 0
    var attempts = 0
    while (done < 20 && attempts < 500) {
      attempts += 1
      val n = 2 + rnd.nextInt(3)
      val operands = Vector.fill(n)(rnd.nextInt(scalarLits.length + 1))
      if (operands.contains(scalarLits.length)) { // at least one metric
        val chOps = Vector.fill(n - 1)(opChars(rnd.nextInt(opChars.length)))
        val vals = operands.map(ix =>
          if (ix == scalarLits.length) (7.0, true)
          else (scalarLits(ix)._2, false))
        reference(vals, chOps) match {
          case Some(expect) =>
            val rendered = operands.map(ix =>
              if (ix == scalarLits.length) "a" else scalarLits(ix)._1)
            val query = rendered.head + chOps.zip(rendered.tail).map {
              case ('A', t) => s" atan2 $t"
              case (op, t) => s" $op $t"
            }.mkString
            val got = runQuery(query, present).map(_._2)
            assert(got.size == 1, s"'$query' — got $got")
            // + - * / % are correctly rounded (bit-exact across call
            // sites); pow/atan2 are libm, only FAITHFULLY rounded — the
            // JIT's intrinsic and non-intrinsic paths observably differ
            // by 1 ULP on the same JVM (seen: 7 * 20^(-2^7)), so chains
            // containing them compare within a tight relative band. A
            // wrong split/association changes the value by orders of
            // magnitude, so the band loses no discriminating power.
            val v = got.head
            if (chOps.exists(c => c == '^' || c == 'A'))
              assert(math.abs(v - expect) <=
                math.abs(expect) * 1e-12 + java.lang.Double.MIN_VALUE,
                s"'$query' — got $v, want $expect")
            else
              assert(v == expect, s"'$query' — got $v, want $expect")
            done += 1
          case None => ()
        }
      }
    }
    assert(done == 20, s"only $done valid chains in $attempts attempts")
  }

  test("randomized differential: set-op chains match the reference fold") {
    val rnd = new scala.util.Random(0xC0FFEE)
    val users = Seq("1", "2", "3", "4")
    val names = Seq("a", "b", "c")
    for (trial <- 0 until 12) {
      // random presence per (metric, user), random 3-4 operand chain
      val present = (for {
        n <- names; u <- users if rnd.nextBoolean()
      } yield (n, u) -> (rnd.nextInt(90) + 10).toDouble).toMap
      val nOps = 2 + rnd.nextInt(2)
      val chainNames = Seq.fill(nOps + 1)(names(rnd.nextInt(names.length)))
      val chainOps = Seq.fill(nOps)(
        Seq("and", "or", "unless")(rnd.nextInt(3)))
      val query = chainNames.head + chainOps.zip(chainNames.tail)
        .map { case (op, n) => s" $op $n" }.mkString
      val vecs = chainNames.map(n => users.flatMap(u =>
        present.get((n, u)).map(v => u -> (s"$n $u", v))).toMap)
      val expect = referenceSetChain(vecs, chainOps)
        .values.toSet
      val got = runQuery(query, present)
      assert(got == expect,
        s"trial $trial: '$query' over $present — got $got, want $expect")
    }
  }
}

package graft

import graft.operators.LabelMatcher
import graft.promql.SimplePromQL
import graft.promql.SimplePromQL.{ParsedQuery, PromQLError}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference's PromQL accept/reject matrix
  * (reference: src/ingestors/http/simple_promql.rs:326-453,
  * tests/simple_promql.rs:102-755).
  */
class PromQLSpec extends AnyFunSuite {

  private val now = 1706745600000000L // 2024-02-01T00:00:00Z in µs

  private def parse(q: String): ParsedQuery = SimplePromQL.parse(q, now)
  private def rejected(q: String): String =
    intercept[PromQLError](parse(q)).message

  test("bare metric name: instant query with 1h lookback") {
    val p = parse("cpu_usage")
    assert(p.matchers == Seq(LabelMatcher.Eq("__name__", "cpu_usage")))
    assert(p.endUs == now)
    assert(p.startUs == now - 3600L * 1000000L)
  }

  test("vector selector with matchers") {
    val p = parse("""cpu{host="a", env!="dev", region=~"eu.*", dc!~"x"}""")
    assert(p.matchers == Seq(
      LabelMatcher.Eq("__name__", "cpu"),
      LabelMatcher.Eq("host", "a"),
      LabelMatcher.NotEq("env", "dev"),
      LabelMatcher.Re("region", "eu.*"),
      LabelMatcher.NotRe("dc", "x")))
  }

  test("matrix selector sets range window") {
    val p = parse("cpu[5m]")
    assert(p.startUs == now - 5L * 60L * 1000000L)
    val p2 = parse("cpu[1h30m]")
    assert(p2.startUs == now - 90L * 60L * 1000000L)
  }

  test("selector without metric name") {
    val p = parse("""{job="node"}""")
    assert(p.matchers == Seq(LabelMatcher.Eq("job", "node")))
  }

  test("parens unwrap recursively") {
    val p = parse("""((cpu{host="a"}))""")
    assert(p.matchers.head == LabelMatcher.Eq("__name__", "cpu"))
  }

  test("aggregations rejected") {
    assert(rejected("sum(cpu)").contains("Aggregation expressions"))
    assert(rejected("avg(cpu)").contains("Aggregation expressions"))
    assert(rejected("count(cpu)").contains("Aggregation expressions"))
    assert(rejected("sum by (host) (cpu)").contains("Aggregation expressions"))
  }

  test("function calls rejected") {
    assert(rejected("rate(cpu[5m])").contains("Function calls"))
    assert(rejected("increase(cpu[1h])").contains("Function calls"))
  }

  test("binary operations rejected") {
    assert(rejected("cpu + mem").contains("Binary operations"))
    assert(rejected("cpu / 100").contains("Binary operations"))
    assert(rejected("cpu and mem").contains("Binary operations"))
  }

  test("unary operations rejected") {
    assert(rejected("-cpu").contains("Unary operations"))
  }

  test("literals rejected") {
    assert(rejected("42").contains("Literal values"))
    assert(rejected("\"hello\"").contains("Literal values"))
  }

  test("subqueries rejected") {
    assert(rejected("cpu[5m:1m]").contains("Subqueries"))
  }

  test("trailing content rejected") {
    assert(rejected("cpu garbage").contains("trailing content") ||
      rejected("cpu garbage").nonEmpty)
  }

  test("empty matcher set rejected") {
    assert(rejected("{}").contains("at least one matcher"))
  }

  test("durations parse") {
    assert(SimplePromQL.parseDurationMs("90s") == 90000L)
    assert(SimplePromQL.parseDurationMs("1h30m") == 5400000L)
    assert(SimplePromQL.parseDurationMs("2d") == 172800000L)
    intercept[PromQLError](SimplePromQL.parseDurationMs("5x"))
  }

  /** Replays `promql_parse_corpus.tsv`, written by [[PromQLCorpus]] in
    * its four modes (extended `parse` and `anchored`, restricted `simple`,
    * catalog `selector`): every query the PromQL specs, GatewaySpec and
    * the registry's 42 PromQL queries parse, the `/series?selector=`
    * values of ArrowCatalogSpec and GatewaySpec, perfbench's templates and
    * the parser fuzz's 3,000 strings, each with its result or message.
    * The `parse` answers were recorded from the string-slicing parser of
    * commit f265c4a, the `simple` and `selector` ones from the
    * character-level selector parser of 018a99d.
    */
  test("golden parse corpus: every input keeps its query or its message") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/promql_parse_corpus.tsv"), "UTF-8")
    val cases = try PromQLCorpus.cases(src.getLines()) finally src.close()
    assert(cases.length > 3000)
    assert(cases.map(_._1).toSet == Set("parse", "anchored", "simple", "selector"))
    val diffs = cases.flatMap { case (mode, q, want) =>
      val got = PromQLCorpus.result(mode, q)
      if (got == want) None
      else Some(s"$mode '$q'\n  want $want\n  got  $got")
    }
    assert(diffs.isEmpty, s"${diffs.length} of ${cases.length} differ:\n" +
      diffs.take(40).mkString("\n"))
  }
}

class ExtendedPromQLSpec extends SparkSpec {
  import org.apache.spark.sql.functions.{col, element_at}
  import graft.promql.ExtendedPromQL
  import graft.promql.ExtendedPromQL._
  import graft.promql.SimplePromQL.PromQLError
  import graft.operators.LabelMatcher

  private val now = 1706745600000000L

  test("a `[` inside a label value is not a range bracket") {
    val e = intercept[PromQLError](
      ExtendedPromQL.parse("""rate(x{a="["})""", now))
    assert(e.getMessage.contains("rate expects a range selector"),
      e.getMessage)
    ExtendedPromQL.parse("""topk(3, x{a="["})""", now) match {
      case TopKQ("topk", 3, Seq(), false, ms, _, e) =>
        assert(ms.contains(LabelMatcher.Eq("a", "[")), ms)
        assert(e == now)
      case other => fail(s"unexpected: $other")
    }
  }

  test("parses over_time functions with range") {
    ExtendedPromQL.parse("sum_over_time(view[31d])", now) match {
      case OverTimeQ("sum", ms, s, e) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
        assert(e == now && s == now - 31L * 86400 * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("sum_over_time(view)", now) // needs range
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("median_over_time(view[5m])", now)
    }
  }

  test("parses instant aggregations with by/without clauses") {
    ExtendedPromQL.parse("sum by (user) (view)", now) match {
      case InstantAggQ("sum", Seq("user"), false, ms, s, e) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
        assert(e == now && s == now - 3600L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("""avg(view{user="7"}) without (user)""", now) match {
      case InstantAggQ("avg", Seq("user"), true, ms, _, _) =>
        assert(ms.contains(LabelMatcher.Eq("user", "7")))
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("sum(view[5m])", now) // range in instant agg
    }
    // structural detection: a regex matcher carrying parens must not
    // sneak a range selector past the guard (it used to silently
    // evaluate as an aggregation over last-in-window values)
    val e1 = intercept[PromQLError] {
      ExtendedPromQL.parse("""sum(view{user=~"(7|8)"}[5m])""", now)
    }
    assert(e1.message.contains("sum_over_time"))
    // ...while the same selector WITHOUT the range stays a plain agg
    ExtendedPromQL.parse("""sum(view{user=~"(7|8)"})""", now) match {
      case InstantAggQ("sum", _, _, ms, _, _) =>
        assert(ms.contains(LabelMatcher.Re("user", "(7|8)")))
      case other => fail(s"unexpected: $other")
    }
    // a selector-shaped inner with a syntax error reports the SELECTOR
    // error, not a generic bad-operand message
    val e2 = intercept[PromQLError] {
      ExtendedPromQL.parse("""sum(view{user=~"(7|8)"[5m])""", now)
    }
    assert(!e2.message.contains("operand"), e2.message)
    intercept[PromQLError] {
      ExtendedPromQL.parse("sum by (user) (view) extra", now)
    }
    // group(): 1 per group regardless of values
    ExtendedPromQL.parse("group by (user) (view)", now) match {
      case InstantAggQ("group", Seq("user"), false, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("plain selectors pass through with reference semantics") {
    ExtendedPromQL.parse("""view{user="7"}[5m]""", now) match {
      case SelectorQ(ms, s, e) =>
        assert(ms.size == 2 && e == now && s == now - 300L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    // rejections still apply to non-aggregate junk
    intercept[PromQLError] { ExtendedPromQL.parse("1 + 2", now) }
    intercept[PromQLError] {
      ExtendedPromQL.parse("no_such_fn(view[5m], 0.5, 0.5)", now)
    }
  }

  test("holt_winters: parse validation and the Prometheus fold") {
    ExtendedPromQL.parse("holt_winters(view[5m], 0.5, 0.3)", now) match {
      case HoltWintersQ(sf, tf, ms, s, e) =>
        assert(sf == 0.5 && tf == 0.3)
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
        assert(e == now && s == now - 300L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    // factors must sit strictly inside (0, 1); range selector required
    intercept[PromQLError] {
      ExtendedPromQL.parse("holt_winters(view[5m], 0.0, 0.5)", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("holt_winters(view[5m], 0.5, 1.0)", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("holt_winters(view, 0.5, 0.5)", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("holt_winters(view[5m], 0.5)", now)
    }
    // the Prometheus 3 rename parses to the identical query
    assert(
      ExtendedPromQL.parse(
        "double_exponential_smoothing(view[5m], 0.5, 0.3)", now) ==
        ExtendedPromQL.parse("holt_winters(view[5m], 0.5, 0.3)", now))
    // the fold, hand-computed: xs=[10,12,14] sf=tf=0.5 tracks the linear
    // trend exactly (result 14); xs=[10,12,11] lands at 12.5
    import org.apache.spark.sql.functions.{col, lit, map}
    import spark.implicits._
    def run(xs: Seq[Double], q: String): Seq[(String, Double)] = {
      val samples = xs.zipWithIndex
        .map { case (v, i) => ("view 7", now - 200000000L + i * 1000000L, v) }
        .toDF("sensor_id", "timestamp_us", "value")
      val selected = Seq(("view 7")).toDF("sensor_id")
        .withColumn("labels", map(lit("user"), lit("7")))
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("sensor_id", "value").as[(String, Double)].collect().toSeq
    }
    assert(run(Seq(10, 12, 14), "holt_winters(view[5m], 0.5, 0.5)") ==
      Seq(("view 7", 14.0)))
    assert(run(Seq(10, 12, 11), "holt_winters(view[5m], 0.5, 0.5)") ==
      Seq(("view 7", 12.5)))
    // singleton series yield nothing (needs two samples to seed a trend)
    assert(run(Seq(10), "holt_winters(view[5m], 0.5, 0.5)").isEmpty)
  }

  test("mod, pow, atan2 operators and mad_over_time") {
    import org.apache.spark.sql.functions.{lit, map}
    import spark.implicits._
    def run(xs: Seq[Double], q: String): Seq[Double] = {
      val samples = xs.zipWithIndex
        .map { case (v, i) => ("view 7", now - 200000000L + i * 1000000L, v) }
        .toDF("sensor_id", "timestamp_us", "value")
      val selected = Seq("view 7").toDF("sensor_id")
        .withColumn("labels", map(lit("user"), lit("7")))
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("value").as[Double].collect().toSeq
    }
    // scalar arithmetic: % is float mod (sign follows dividend), ^ is pow
    assert(run(Seq(10), "view % 3") == Seq(1.0))
    assert(run(Seq(-10), "view % 3") == Seq(-1.0))
    assert(run(Seq(10), "view ^ 2") == Seq(100.0))
    assert(run(Seq(10), "view atan2 2") == Seq(math.atan2(10.0, 2.0)))
    assert(run(Seq(10), "2 atan2 view") == Seq(math.atan2(2.0, 10.0)))
    // word-boundary: a metric NAMED atan2_total is still a selector
    ExtendedPromQL.parse("atan2_total", now) match {
      case SelectorQ(ms, _, _) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "atan2_total")))
      case other => fail(s"unexpected: $other")
    }
    // vec-vec form parses to the binary-vector query with the 'A' tag
    ExtendedPromQL.parse("view atan2 click", now) match {
      case BinVectorQ('A', _, _, Nil, false, None, Nil) => ()
      case other => fail(s"unexpected: $other")
    }
    // precedence and associativity: lowest tier splits last, so
    // chains group left and * binds tighter than +
    assert(run(Seq(10), "view * 2 + 1") == Seq(21.0))
    assert(run(Seq(10), "view - 1 - 2") == Seq(7.0))
    assert(run(Seq(10), "1 + view * 2") == Seq(21.0))
    // a sign after an operator is part of the scalar, not a split point
    assert(run(Seq(10), "view + -3") == Seq(7.0))
    assert(run(Seq(10), "view * -2") == Seq(-20.0))
    // mad_over_time: median 12, deviations [2, 0, 14] -> median 2
    assert(run(Seq(10, 12, 26), "mad_over_time(view[5m])") == Seq(2.0))
    // linear interpolation on even counts: median(10,12,20,26)=16,
    // deviations [6,4,4,10] -> median (4+6)/2 = 5
    assert(run(Seq(10, 12, 20, 26), "mad_over_time(view[5m])") == Seq(5.0))
    intercept[PromQLError] {
      ExtendedPromQL.parse("mad_over_time(view)", now)
    }
  }

  test("topk by (label): per-group ranking") {
    import org.apache.spark.sql.functions.{lit, map}
    import spark.implicits._
    val samples = Seq(
      ("view a1", now - 1000000L, 10.0), ("view a2", now - 1000000L, 30.0),
      ("view b1", now - 1000000L, 20.0), ("view b2", now - 1000000L, 5.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val selected = Seq(("view a1", "a"), ("view a2", "a"),
      ("view b1", "b"), ("view b2", "b")).toDF("sensor_id", "g")
      .withColumn("labels", map(lit("grp"), $"g")).select("sensor_id", "labels")
    val out = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("topk by (grp) (1, view)", now),
      _ => selected, samples)
      .select("sensor_id", "value").as[(String, Double)].collect().toSet
    // per-group winners, not the global top-2
    assert(out == Set(("view a2", 30.0), ("view b1", 20.0)))
    // clause after the body parses to the same query
    assert(ExtendedPromQL.parse("topk by (grp) (1, view)", now) ==
      ExtendedPromQL.parse("topk(1, view) by (grp)", now))
  }

  test("sort_by_label: lexicographic label order, missing labels empty") {
    import org.apache.spark.sql.functions.{lit, map}
    import spark.implicits._
    val samples = Seq(
      ("view 2", now - 1000000L, 1.0), ("view 10", now - 1000000L, 2.0),
      ("view x", now - 1000000L, 3.0)) // no user label
      .toDF("sensor_id", "timestamp_us", "value")
    val selected = Seq(("view 2", "2"), ("view 10", "10")).toDF("sensor_id", "u")
      .withColumn("labels", map(lit("user"), $"u"))
      .select("sensor_id", "labels")
      .union(Seq("view x").toDF("sensor_id")
        .withColumn("labels", map().cast("map<string,string>"))
        .select("sensor_id", "labels"))
    def run(q: String): Seq[String] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .orderBy("rank").select("sensor_id").as[String].collect().toSeq
    // lexicographic: "10" < "2"; the label-less series sorts first ("")
    assert(run("""sort_by_label(view, "user")""") ==
      Seq("view x", "view 10", "view 2"))
    assert(run("""sort_by_label_desc(view, "user")""") ==
      Seq("view 2", "view 10", "view x"))
    intercept[PromQLError] {
      ExtendedPromQL.parse("sort_by_label(view, user)", now)
    }
  }

  test("limitk/limit_ratio: deterministic, complementary partitions") {
    import org.apache.spark.sql.functions.{lit, map}
    import spark.implicits._
    val samples = (1 to 40).map(i =>
      (s"view $i", now - 1000000L, i.toDouble))
      .toDF("sensor_id", "timestamp_us", "value")
    val selected = (1 to 40).map(_.toString).toDF("u")
      .withColumn("sensor_id",
        org.apache.spark.sql.functions.concat(lit("view "), $"u"))
      .withColumn("labels", map(lit("user"), $"u"))
      .select("sensor_id", "labels")
    def run(q: String): Set[String] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("sensor_id").as[String].collect().toSet
    val k = run("limitk(7, view)")
    assert(k.size == 7 && k == run("limitk(7, view)")) // stable
    val a = run("limit_ratio(0.4, view)")
    val b = run("limit_ratio(-0.6, view)")
    // the Prometheus 3 contract: r and r-1 partition the vector
    assert((a & b).isEmpty && (a | b).size == 40)
    assert(run("limit_ratio(1.0, view)").size == 40)
    intercept[PromQLError] {
      ExtendedPromQL.parse("limit_ratio(1.5, view)", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("limitk(0, view)", now)
    }
  }

  test("quantile(): cross-series aggregation with by-grouping") {
    import org.apache.spark.sql.functions.{lit, map}
    import spark.implicits._
    // three series with latest values 10, 20, 40 -> quantile 0.5 = 20,
    // 0.75 interpolates between 20 and 40 at 30
    val samples = Seq(
      ("view 1", now - 1000000L, 10.0),
      ("view 2", now - 1000000L, 20.0),
      ("view 3", now - 1000000L, 40.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val selected = Seq("1", "2", "3").toDF("u")
      .withColumn("sensor_id",
        org.apache.spark.sql.functions.concat(lit("view "), $"u"))
      .withColumn("labels", map(lit("user"), $"u"))
      .select("sensor_id", "labels")
    def run(q: String): Seq[Double] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("value").as[Double].collect().toSeq.sorted
    assert(run("quantile(0.5, view)") == Seq(20.0))
    assert(run("quantile(0.75, view)") == Seq(30.0))
    // by (user): singleton groups return their own value
    assert(run("quantile by (user) (0.5, view)") == Seq(10.0, 20.0, 40.0))
    intercept[PromQLError] {
      ExtendedPromQL.parse("quantile(1.5, view)", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("quantile(0.5, view[5m])", now)
    }
  }

  test("timestamp() and the time-of-day functions") {
    import org.apache.spark.sql.functions.{col, lit, map}
    import spark.implicits._
    // now = 2024-02-01 00:00 UTC; the sample sits at 2024-01-31
    // 23:00:00.123456 UTC (inside the 1h lookback) — a Wednesday
    val ts = now - 3600000000L + 123456L
    val samples = Seq(("view 7", ts, 42.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val selected = Seq("view 7").toDF("sensor_id")
      .withColumn("labels", map(lit("user"), lit("7")))
    def run(q: String): Double =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("value").as[Double].head()
    // timestamp(): float seconds, µs precision survives
    assert(run("timestamp(view)") == ts / 1e6)
    // the fields truncate toward zero (Prometheus int64 cast): the
    // .123456 fraction doesn't bump the hour
    assert(run("hour(timestamp(view))") == 23.0)
    assert(run("minute(timestamp(view))") == 0.0)
    assert(run("day_of_week(timestamp(view))") == 3.0) // Wednesday, Sunday=0
    assert(run("day_of_month(timestamp(view))") == 31.0)
    assert(run("days_in_month(timestamp(view))") == 31.0)
    assert(run("month(timestamp(view))") == 1.0)
    assert(run("year(timestamp(view))") == 2024.0)
    intercept[PromQLError] {
      ExtendedPromQL.parse("timestamp(view[5m])", now) // instant only
    }
  }

  test("sort / sort_desc rank the instant vector by value") {
    import org.apache.spark.sql.functions.{col, concat, lit, map}
    import spark.implicits._
    val samples = Seq(
      ("view 1", now - 1000000L, 5.0),
      ("view 2", now - 1000000L, 9.0),
      ("view 3", now - 1000000L, 5.0), // tie with view 1 -> id order
      ("view 4", now - 1000000L, 1.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val selected = Seq("view 1", "view 2", "view 3", "view 4")
      .toDF("sensor_id")
      .withColumn("labels", map(lit("user"),
        org.apache.spark.sql.functions.substring(col("sensor_id"), 6, 2)))
    def run(q: String) =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("rank", "sensor_id").as[(Int, String)].collect().toSeq
        .sortBy(_._1)
    assert(run("sort(view)") == Seq(
      (1, "view 4"), (2, "view 1"), (3, "view 3"), (4, "view 2")))
    assert(run("sort_desc(view)") == Seq(
      (1, "view 2"), (2, "view 1"), (3, "view 3"), (4, "view 4")))
    // composes over per-series functions too
    intercept[PromQLError] { ExtendedPromQL.parse("sort(1)", now) }
  }

  test("offset modifier shifts the evaluation window") {
    ExtendedPromQL.parse("view[5m] offset 1h", now) match {
      case SelectorQ(_, s, e) =>
        assert(e == now - 3600L * 1000000L)
        assert(s == now - (3600L + 300L) * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("sum_over_time(view[5m] offset 30m)", now) match {
      case OverTimeQ("sum", _, s, e) =>
        assert(e == now - 1800L * 1000000L)
        assert(s == now - (1800L + 300L) * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    // an `offset` inside a quoted label value is not a modifier
    ExtendedPromQL.parse("""view{note="x offset 5m"}""", now) match {
      case SelectorQ(ms, _, e) =>
        assert(e == now)
        assert(ms.contains(LabelMatcher.Eq("note", "x offset 5m")))
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("view offset banana", now)
    }
  }

  test("@ modifier pins the evaluation time absolutely") {
    // 1706659200 s = 2024-01-31T00:00:00Z; instant lookback from there
    ExtendedPromQL.parse("view @ 1706659200", now) match {
      case SelectorQ(_, s, e) =>
        assert(e == 1706659200000000L)
        assert(s == 1706659200000000L - 3600L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    // composes under functions and with offset (offset shifts relative
    // to the pinned time)
    ExtendedPromQL.parse(
      "sum_over_time(view[5m] offset 10m @ 1706659200)", now) match {
      case OverTimeQ("sum", _, s, e) =>
        assert(e == 1706659200000000L - 600L * 1000000L)
        assert(s == e - 300L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    // an @ inside a quoted label value is not a modifier
    ExtendedPromQL.parse("""view{note="a @ 5"}""", now) match {
      case SelectorQ(ms, _, e) =>
        assert(e == now)
        assert(ms.contains(LabelMatcher.Eq("note", "a @ 5")))
      case other => fail(s"unexpected: $other")
    }
    // a time whose microseconds overflow a Long rejects, as Prometheus
    // does ("timestamp out of bounds for @ modifier"), instead of
    // saturating to Long.MaxValue
    assert(intercept[PromQLError] {
      ExtendedPromQL.parse("view @ 99999999999999999999", now)
    }.message.contains("out of bounds for @ modifier"))
  }

  test("@ start()/end() anchors resolve against the provided range") {
    val startUs = 1706572800000000L // 2024-01-30T00:00:00Z
    val endUs = 1706659200000000L // 2024-01-31T00:00:00Z
    ExtendedPromQL.parse(
      "view @ end()", now, Some(startUs), Some(endUs)) match {
      case SelectorQ(_, s, e) =>
        assert(e == endUs && s == endUs - 3600L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("max_over_time(view[5m] @ start())",
      now, Some(startUs), Some(endUs)) match {
      case OverTimeQ("max", _, s, e) =>
        assert(e == startUs && s == startUs - 300L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    // without range params both anchors pin to the evaluation time
    ExtendedPromQL.parse("view @ start()", now, None, None) match {
      case SelectorQ(_, _, e) => assert(e == now)
      case other => fail(s"unexpected: $other")
    }
    // an anchor inside a quoted label value is untouched
    ExtendedPromQL.parse("""view{note="x @ end()"}""",
      now, Some(startUs), Some(endUs)) match {
      case SelectorQ(ms, _, e) =>
        assert(e == now)
        assert(ms.contains(LabelMatcher.Eq("note", "x @ end()")))
      case other => fail(s"unexpected: $other")
    }
    // microsecond precision survives the textual rewrite
    ExtendedPromQL.parse(
      "view @ end()", now, None, Some(1706659200123456L)) match {
      case SelectorQ(_, _, e) => assert(e == 1706659200123456L)
      case other => fail(s"unexpected: $other")
    }
  }

  test("scalar()/vector(): parse shapes and rejections") {
    ExtendedPromQL.parse("vector(42)", now) match {
      case VectorLitQ(v) => assert(v == 42.0)
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("scalar(count(view))", now) match {
      case ScalarQ(InstantAggQ("count", _, _, _, _, _)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("view * scalar(count(view))", now) match {
      case BinDynScalarQ('*', ScalarQ(_), false, SelectorQ(_, _, _)) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("scalar(sum(click)) + view", now) match {
      case BinDynScalarQ('+', ScalarQ(_), true, _) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("view or vector(0)", now) match {
      case BinSetQ("or", SelectorQ(_, _, _), VectorLitQ(v)) =>
        assert(v == 0.0)
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError](ExtendedPromQL.parse("vector(view)", now))
    intercept[PromQLError](
      ExtendedPromQL.parse("scalar(scalar(view))", now))
  }

  test("evaluator: scalar() constant, vector() literal, or-fallback") {
    import spark.implicits._
    val selected = Seq(
      ("a 1", Map("user" -> "1")),
      ("a 2", Map("user" -> "2"))).toDF("sensor_id", "labels")
    val samples = Seq(
      ("a 1", 1000000L, 5.0), ("a 1", 2000000L, 1.0), // latest = 1.0
      ("a 2", 1500000L, 4.0)).toDF("sensor_id", "timestamp_us", "value")
    // literal vector standalone: one unlabeled series
    val vlit = ExtendedPromQL.evalWith(VectorLitQ(7.5), _ => selected, samples)
      .select("value").as[Double].collect().toSeq
    assert(vlit == Seq(7.5))
    // dynamic scalar: count(instant vector) = 2 series, value doubles
    val dyn = BinDynScalarQ('*',
      ScalarQ(InstantAggQ("count", Nil, false, Nil, 0L, 3000000L)),
      scalarOnLeft = false, SelectorQ(Nil, 0L, 3000000L))
    val out = ExtendedPromQL.evalWith(dyn, _ => selected, samples)
      .select("sensor_id", "value").as[(String, Double)].collect().toMap
    assert(out == Map("a 1" -> 2.0, "a 2" -> 8.0))
    // scalar() of a multi-element vector is NaN (Prometheus semantics)
    val nan = ExtendedPromQL.evalWith(
      ScalarQ(SelectorQ(Nil, 0L, 3000000L)), _ => selected, samples)
      .select("value").as[Double].collect()
    assert(nan.length == 1 && nan(0).isNaN)
    // the canonical `expr or vector(0)` fallback on an empty left side
    val fb = ExtendedPromQL.evalWith(
      BinSetQ("or",
        SelectorQ(Seq(LabelMatcher.Eq("x", "nope")), 0L, 3000000L),
        VectorLitQ(0.0)),
      ms => if (ms.isEmpty) selected else selected.limit(0),
      samples)
      .select("value").as[Double].collect().toSeq
    assert(fb == Seq(0.0))
  }

  test("parses range functions (rate/increase/delta)") {
    ExtendedPromQL.parse("rate(view[5m])", now) match {
      case RangeFnQ("rate", ms, s, e) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
        assert(e == now && s == now - 300L * 1000000L)
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("rate(view)", now) // needs range
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("increase(view[5m]) extra", now)
    }
  }

  test("quantile_over_time parses two-arg form and evaluates exactly") {
    import spark.implicits._
    ExtendedPromQL.parse("quantile_over_time(0.5, view[5m])", now) match {
      case QuantileOverTimeQ(phi, ms, _, e) =>
        assert(phi == 0.5 && e == now)
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("quantile_over_time(1.5, view[5m])", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("quantile_over_time(view[5m])", now)
    }
    val selected = Seq(("a 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    val samples = Seq(("a 1", 1L, 1.0), ("a 1", 2L, 2.0), ("a 1", 3L, 10.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val v = ExtendedPromQL.evalWith(
      QuantileOverTimeQ(0.5, Nil, 0L, 10L), _ => selected, samples)
      .select("value").as[Double].collect().head
    assert(v == 2.0) // exact median
  }

  test("stddev/stdvar are population statistics (Prometheus semantics)") {
    import spark.implicits._
    val selected = Seq(("a 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    val samples = Seq(("a 1", 1L, 2.0), ("a 1", 2L, 4.0), ("a 1", 3L, 6.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val v = ExtendedPromQL.evalWith(
      OverTimeQ("stdvar", Nil, 0L, 10L), _ => selected, samples)
      .select("value").as[Double].collect().head
    assert(math.abs(v - 8.0 / 3.0) < 1e-12) // population variance
    val sd = ExtendedPromQL.evalWith(
      OverTimeQ("stddev", Nil, 0L, 10L), _ => selected, samples)
      .select("value").as[Double].collect().head
    assert(math.abs(sd - math.sqrt(8.0 / 3.0)) < 1e-12)
  }

  test("evaluator: rate/increase handle counter resets, delta is last-first") {
    import spark.implicits._
    val selected = Seq(("c 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    // counter: 1 -> 4 -> reset to 2 -> 5; increases 3 + 2 + 3 = 8
    val samples = Seq(
      ("c 1", 1000000L, 1.0), ("c 1", 2000000L, 4.0),
      ("c 1", 3000000L, 2.0), ("c 1", 4000000L, 5.0))
      .toDF("sensor_id", "timestamp_us", "value")
    def evalOne(op: String): Double =
      ExtendedPromQL.evalWith(RangeFnQ(op, Nil, 0L, 10000000L),
        _ => selected, samples).select("value").as[Double].collect().head
    assert(evalOne("increase") == 8.0)
    assert(evalOne("rate") == 8.0 / 10.0) // 10-second range
    assert(evalOne("delta") == 4.0) // 5.0 - 1.0
    // a single-sample series yields no result (PromQL needs two points)
    val one = Seq(("c 1", 1000000L, 1.0))
      .toDF("sensor_id", "timestamp_us", "value")
    assert(ExtendedPromQL.evalWith(RangeFnQ("rate", Nil, 0L, 10000000L),
      _ => selected, one).count() == 0)
    assert(ExtendedPromQL.evalWith(RangeFnQ("delta", Nil, 0L, 10000000L),
      _ => selected, one).count() == 0)
  }

  test("evaluator: rate/increase keep sub-cent counter deltas (f64 sum)") {
    import spark.implicits._
    val selected = Seq(("c 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    // counter stepping by 0.004 per scrape: any per-sample quantization
    // (e.g. DECIMAL(18,2)) would round each delta to 0 and report
    // increase = 0 — a 100% error
    val samples = (0 to 5).map(i => ("c 1", i * 1000000L, i * 0.004))
      .toDF("sensor_id", "timestamp_us", "value")
    val inc = ExtendedPromQL.evalWith(RangeFnQ("increase", Nil, 0L, 10000000L),
      _ => selected, samples).select("value").as[Double].collect().head
    assert(math.abs(inc - 0.02) < 1e-12)
    // and huge deltas don't overflow to null / drop out of the sum
    val big = Seq(("c 1", 1000000L, 0.0), ("c 1", 2000000L, 4e16))
      .toDF("sensor_id", "timestamp_us", "value")
    val incBig = ExtendedPromQL.evalWith(RangeFnQ("increase", Nil, 0L, 10000000L),
      _ => selected, big).select("value").as[Double].collect().head
    assert(incBig == 4e16)
  }

  test("evaluator: over_time per series and instant agg across series") {
    import spark.implicits._
    val selected = Seq(
      ("a 1", Map("user" -> "1")),
      ("a 2", Map("user" -> "2"))).toDF("sensor_id", "labels")
    val samples = Seq(
      ("a 1", 1000000L, 1.0), ("a 1", 2000000L, 2.0),
      ("a 2", 1500000L, 10.0), ("a 2", 9999999999L, 99.0) // out of window
    ).toDF("sensor_id", "timestamp_us", "value")
    val ot = ExtendedPromQL.evalWith(
      OverTimeQ("sum", Nil, 0L, 3000000L), _ => selected, samples)
      .select("sensor_id", "value").as[(String, Double)].collect().toMap
    assert(ot == Map("a 1" -> 3.0, "a 2" -> 10.0))

    // instant: last sample per series in window, summed over all (empty by)
    val inst = ExtendedPromQL.evalWith(
      InstantAggQ("sum", Nil, false, Nil, 0L, 3000000L), _ => selected, samples)
      .select("value").as[Double].collect()
    assert(inst.toSeq == Seq(12.0)) // 2.0 (last of a1) + 10.0 (last of a2)

    // grouped: by (user) keeps each series separate here
    val byUser = ExtendedPromQL.evalWith(
      InstantAggQ("max", Seq("user"), false, Nil, 0L, 3000000L),
      _ => selected, samples)
      .select(element_at(col("group_labels"), "user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(byUser == Map("1" -> 2.0, "2" -> 10.0))
  }

  test("subquery parse: [range:step] forms, alignment, rejections") {
    ExtendedPromQL.parse("max_over_time(view[1h:15m])", now) match {
      case SubqueryOverTimeQ("max", None, _: SelectorQ, r, st, e, sh, sp) =>
        assert(r == 3600000000L && st == 900000000L && e == now)
        assert(sh == 0L && sp == 3600000000L) // selector lookback
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("sum_over_time(rate(view[5m])[1h:5m])", now) match {
      case SubqueryOverTimeQ("sum", None, RangeFnQ("rate", _, _, _),
          _, _, _, sh, sp) =>
        assert(sh == 0L && sp == 300000000L) // inner range, not lookback
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse(
      "quantile_over_time(0.5, view[30m:5m])", now) match {
      case SubqueryOverTimeQ("quantile", Some(phi), _, _, _, _, _, _) =>
        assert(phi == 0.5)
      case other => fail(s"unexpected: $other")
    }
    // an inner offset shifts every step window uniformly
    ExtendedPromQL.parse("max_over_time(view offset 1h[1h:15m])", now) match {
      case SubqueryOverTimeQ("max", None, _, _, _, _, sh, sp) =>
        assert(sh == 3600000000L && sp == 3600000000L)
      case other => fail(s"unexpected: $other")
    }
    // cross-series aggregations ARE subquery operands (evaluated per
    // step; PromQLComposeSpec pins the semantics) — and since r14,
    // binary vector operands parse too (evaluated via perStepAny)
    ExtendedPromQL.parse("max_over_time(sum(view)[1h:5m])", now) match {
      case SubqueryOverTimeQ("max", None,
          InstantAggQ("sum", _, _, _, _, _), _, _, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("max_over_time((view / click)[1h:5m])", now) match {
      case SubqueryOverTimeQ("max", None, _: BinVectorQ, _, _, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
    // a bare subquery is still not a selector (reference parity)
    intercept[PromQLError] { ExtendedPromQL.parse("view[1h:5m]", now) }
    intercept[PromQLError] { // zero step
      ExtendedPromQL.parse("max_over_time(view[1h:0s])", now)
    }
  }

  test("subquery eval: per-step last sample, alignment, inner rate") {
    import spark.implicits._
    val selected = Seq(("v 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    // two samples: the step windows (1h lookback, 15m steps over 1h)
    // see no data at now-1h, value 1 at the middle steps, value 5 once
    // the later sample enters the lookback
    val samples = Seq(
      ("v 1", now - 3500000000L, 1.0),
      ("v 1", now - 1000000000L, 5.0))
      .toDF("sensor_id", "timestamp_us", "value")
    def run(q: String): Map[String, Double] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("sensor_id", "value").as[(String, Double)].collect().toMap
    assert(run("max_over_time(view[1h:15m])") == Map("v 1" -> 5.0))
    assert(run("min_over_time(view[1h:15m])") == Map("v 1" -> 1.0))
    // 5 aligned steps; the earliest window holds no sample -> 4 points
    assert(run("count_over_time(view[1h:15m])") == Map("v 1" -> 4.0))
    assert(run("avg_over_time(view[1h:15m])") == Map("v 1" -> 3.0))
    assert(run("last_over_time(view[1h:15m])") == Map("v 1" -> 5.0))
    assert(run("quantile_over_time(0.5, view[1h:15m])") == Map("v 1" -> 3.0))
    // scalar arithmetic applies per step value, before the outer fold
    assert(run("sum_over_time(view * 2[1h:15m])") == Map("v 1" -> 24.0))
    // comparison filtering drops step points below the threshold
    assert(run("count_over_time(view > 2[1h:15m])") == Map("v 1" -> 2.0))
    // unaligned range start: first step rounds UP to the next multiple
    // of step (Prometheus alignment) -> 4 steps, all holding the sample
    val aligned = Seq(("v 1", now - 2700000000L, 7.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val n = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("count_over_time(view[50m:15m])", now),
      _ => selected, aligned)
      .select("value").as[Double].collect().head
    assert(n == 4.0)
  }

  test("subquery eval: inner rate per step window") {
    import spark.implicits._
    val selected = Seq(("c 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    // counter +1 every 5s: rate over any [t-10s, t] window with 3
    // samples is 0.2/s; the earliest step window holds one sample only
    val samples = (0 to 6).map(i =>
      ("c 1", now - 30000000L + i * 5000000L, i.toDouble))
      .toDF("sensor_id", "timestamp_us", "value")
    val q = ExtendedPromQL.parse("max_over_time(rate(view[10s])[30s:10s])", now)
    val got = ExtendedPromQL.evalWith(q, _ => selected, samples)
      .select("value").as[Double].collect().head
    assert(math.abs(got - 0.2) < 1e-12)
    val cnt = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("count_over_time(rate(view[10s])[30s:10s])", now),
      _ => selected, samples).select("value").as[Double].collect().head
    assert(cnt == 3.0) // 4 steps, first has a single sample -> no rate
  }

  test("parses topk/bottomk and binary expressions") {
    ExtendedPromQL.parse("topk(3, view)", now) match {
      case TopKQ("topk", 3, Nil, false, ms, _, e) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
        assert(e == now)
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] { ExtendedPromQL.parse("topk(0, view)", now) }
    intercept[PromQLError] { ExtendedPromQL.parse("topk(banana, view)", now) }
    intercept[PromQLError] { ExtendedPromQL.parse("topk(3, view[5m])", now) }
    ExtendedPromQL.parse("rate(a[5m]) / rate(b[5m])", now) match {
      case BinVectorQ('/', RangeFnQ("rate", lm, _, _),
          RangeFnQ("rate", rm, _, _), Nil, false, None, Nil) =>
        assert(lm == Seq(LabelMatcher.Eq("__name__", "a")))
        assert(rm == Seq(LabelMatcher.Eq("__name__", "b")))
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("rate(a[5m]) / on(user) rate(b[5m])", now) match {
      case BinVectorQ('/', _, _, Seq("user"), false, None, Nil) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("a * ignoring(env, zone) b", now) match {
      case BinVectorQ('*', _, _, Seq("env", "zone"), true, None, Nil) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("""count_values("v", view)""", now) match {
      case CountValuesQ("v", ms, _, _) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("count_values(view)", now)
    }
    ExtendedPromQL.parse("absent(view)", now) match {
      case AbsentQ(ms, _, _) =>
        assert(ms == Seq(LabelMatcher.Eq("__name__", "view")))
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("view * 2", now) match {
      case BinScalarQ('*', 2.0, false, _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("-2 + view", now) match {
      case BinScalarQ('+', -2.0, true, _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    // operator chars inside label values / ranges are not operators
    ExtendedPromQL.parse("""view{note="a+b"}""", now) match {
      case SelectorQ(ms, _, _) =>
        assert(ms.contains(LabelMatcher.Eq("note", "a+b")))
      case other => fail(s"unexpected: $other")
    }
    // aggregations ARE matchable operands (the canonical PromQL ratio):
    // both sides evaluate to group-labeled vectors and match one-to-one
    ExtendedPromQL.parse("sum(view) / sum(click)", now) match {
      case BinVectorQ('/', InstantAggQ("sum", _, _, _, _, _),
          InstantAggQ("sum", _, _, _, _, _), _, _, _, _) => ()
      case other => fail(s"unexpected: $other")
    }
    // the genuinely non-vector operand still rejects
    intercept[PromQLError] {
      ExtendedPromQL.parse("view and scalar(click)", now)
    }
  }

  test("evaluator: topk ranks latest samples, binary ops match on labels") {
    import spark.implicits._
    val selected = Seq(
      ("a 1", Map("user" -> "1")),
      ("a 2", Map("user" -> "2")),
      ("a 3", Map("user" -> "3"))).toDF("sensor_id", "labels")
    val samples = Seq(
      ("a 1", 1000000L, 5.0), ("a 1", 2000000L, 1.0), // latest = 1.0
      ("a 2", 1000000L, 7.0), // latest = 7.0
      ("a 3", 1500000L, 4.0) // latest = 4.0
    ).toDF("sensor_id", "timestamp_us", "value")
    val top2 = ExtendedPromQL.evalWith(
      TopKQ("topk", 2, Nil, false, Nil, 0L, 3000000L), _ => selected, samples)
      .select("rank", "sensor_id", "value")
      .as[(Int, String, Double)].collect().toSeq
    assert(top2 == Seq((1, "a 2", 7.0), (2, "a 3", 4.0)))
    val bottom1 = ExtendedPromQL.evalWith(
      TopKQ("bottomk", 1, Nil, false, Nil, 0L, 3000000L), _ => selected, samples)
      .select("rank", "sensor_id", "value")
      .as[(Int, String, Double)].collect().toSeq
    assert(bottom1 == Seq((1, "a 1", 1.0)))

    // scalar op on an instant vector
    val scaled = ExtendedPromQL.evalWith(
      BinScalarQ('*', 10.0, scalarOnLeft = false,
        SelectorQ(Nil, 0L, 3000000L)), _ => selected, samples)
      .select("sensor_id", "value").as[(String, Double)].collect().toMap
    assert(scaled == Map("a 1" -> 10.0, "a 2" -> 70.0, "a 3" -> 40.0))

    // vector/vector: one-to-one on the full label set; unmatched series
    // (user 3 only on the left) drop out, Prometheus-style
    val selB = Seq(
      ("b 1", Map("user" -> "1")),
      ("b 2", Map("user" -> "2"))).toDF("sensor_id", "labels")
    val samplesB = Seq(
      ("b 1", 1000000L, 2.0), ("b 2", 1000000L, 4.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val q = BinVectorQ('/',
      SelectorQ(Nil, 0L, 3000000L), SelectorQ(Seq(LabelMatcher.Eq("x", "y")),
        0L, 3000000L))
    val ratio = ExtendedPromQL.evalWith(q,
      ms => if (ms.isEmpty) selected else selB,
      samples.unionByName(samplesB))
      .select(element_at(col("labels"), "user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(ratio == Map("1" -> 0.5, "2" -> 1.75))
  }

  test("evaluator: on()/ignoring() matching, count_values, absent") {
    import spark.implicits._
    // left carries an extra label; full-set matching would find nothing,
    // on(user) matches, ignoring(env) matches too
    val selL = Seq(
      ("a 1", Map("user" -> "1", "env" -> "prod")),
      ("a 2", Map("user" -> "2", "env" -> "dev"))).toDF("sensor_id", "labels")
    val selR = Seq(
      ("b 1", Map("user" -> "1")),
      ("b 2", Map("user" -> "2"))).toDF("sensor_id", "labels")
    val samples = Seq(
      ("a 1", 1L, 4.0), ("a 2", 1L, 9.0),
      ("b 1", 1L, 2.0), ("b 2", 1L, 4.0))
      .toDF("sensor_id", "timestamp_us", "value")
    def run(q: Query): Map[String, Double] =
      ExtendedPromQL.evalWith(q,
        ms => if (ms.isEmpty) selL else selR, samples)
        .select(element_at(col("labels"), "user"), col("value"))
        .as[(String, Double)].collect().toMap
    val l = SelectorQ(Nil, 0L, 10L)
    val r = SelectorQ(Seq(LabelMatcher.Eq("x", "y")), 0L, 10L)
    assert(run(BinVectorQ('/', l, r)) == Map.empty) // full-set: no match
    assert(run(BinVectorQ('/', l, r, Seq("user"), false)) ==
      Map("1" -> 2.0, "2" -> 2.25))
    assert(run(BinVectorQ('/', l, r, Seq("env"), true)) ==
      Map("1" -> 2.0, "2" -> 2.25))
    // output labels are the MATCHING labels only
    val outLabels = ExtendedPromQL.evalWith(
      BinVectorQ('/', l, r, Seq("user"), false),
      ms => if (ms.isEmpty) selL else selR, samples)
      .select(col("labels")).as[Map[String, String]].collect().toSet
    assert(outLabels == Set(Map("user" -> "1"), Map("user" -> "2")))

    // group_left: many-to-one — left keeps its FULL labels (env), right
    // is unique per match key
    ExtendedPromQL.parse(
      "a / on(user) group_left b", now) match {
      case BinVectorQ('/', _, _, Seq("user"), false, Some("left"), Nil) => ()
      case other => fail(s"unexpected: $other")
    }
    val gl = ExtendedPromQL.evalWith(
      BinVectorQ('/', l, r, Seq("user"), false, Some("left")),
      ms => if (ms.isEmpty) selL else selR, samples)
      .select(col("labels"), col("value"))
      .as[(Map[String, String], Double)].collect().toSet
    assert(gl == Set(
      (Map("user" -> "1", "env" -> "prod"), 2.0),
      (Map("user" -> "2", "env" -> "dev"), 2.25)))

    // comparison filters: drop failing series, or 0/1 with `bool`
    ExtendedPromQL.parse("view > 5", now) match {
      case BinCmpQ(">", 5.0, false, false, _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("view >= bool 5", now) match {
      case BinCmpQ(">=", 5.0, false, true, _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] { ExtendedPromQL.parse("a > b", now) }
    val cmpKeep = ExtendedPromQL.evalWith(
      BinCmpQ(">", 5.0, scalarOnLeft = false, bool = false,
        SelectorQ(Nil, 0L, 10L)), _ => selL, samples)
      .select(element_at(col("labels"), "user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(cmpKeep == Map("2" -> 9.0)) // 4.0 filtered out
    val cmpBool = ExtendedPromQL.evalWith(
      BinCmpQ(">", 5.0, scalarOnLeft = false, bool = true,
        SelectorQ(Nil, 0L, 10L)), _ => selL, samples)
      .select(element_at(col("labels"), "user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(cmpBool == Map("1" -> 0.0, "2" -> 1.0))

    // set operators: and = semi, unless = anti, or = union-preferring-left
    ExtendedPromQL.parse("a and b", now) match {
      case BinSetQ("and", _: SelectorQ, _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    // word boundaries: names containing the word are not operators
    ExtendedPromQL.parse("band_width", now) match {
      case _: SelectorQ => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse("foo_and_bar", now) match {
      case _: SelectorQ => ()
      case other => fail(s"unexpected: $other")
    }
    def runSet(op: String): Set[(String, Double)] =
      ExtendedPromQL.evalWith(
        BinSetQ(op, SelectorQ(Nil, 0L, 10L),
          SelectorQ(Seq(LabelMatcher.Eq("x", "y")), 0L, 10L)),
        ms => if (ms.isEmpty) selL else selR, samples)
        .select(element_at(col("labels"), "user"), col("value"))
        .as[(String, Double)].collect().toSet
    // full label sets differ (left carries env), so nothing matches:
    // `and` drops everything, `unless` keeps the left side whole
    assert(runSet("and") == Set.empty)
    assert(runSet("unless") == Set(("1", 4.0), ("2", 9.0)))
    assert(runSet("or") ==
      Set(("1", 4.0), ("2", 9.0), ("1", 2.0), ("2", 4.0)))

    // count_values: frequency of distinct latest values
    val cv = ExtendedPromQL.evalWith(
      CountValuesQ("v", Nil, 0L, 10L),
      _ => selL.unionByName(selR), samples)
      .select(element_at(col("group_labels"), "v"), col("value"))
      .as[(String, Long)].collect().toMap
    assert(cv == Map("4.0" -> 2L, "9.0" -> 1L, "2.0" -> 1L))

    // absent: empty when series exist, one row of 1.0 when none do
    assert(ExtendedPromQL.evalWith(AbsentQ(Nil, 0L, 10L), _ => selL, samples)
      .count() == 0)
    val none = samples.filter(col("timestamp_us") > 100L)
    val ab = ExtendedPromQL.evalWith(AbsentQ(Nil, 0L, 10L), _ => selL, none)
      .select("value").as[Double].collect().toSeq
    assert(ab == Seq(1.0))
  }

  test("label_replace and label_join rewrite instant-vector labels") {
    import spark.implicits._
    ExtendedPromQL.parse(
      """label_replace(view{user="7"}, "grp", "$1", "user", "([0-9]).*")""",
      now) match {
      case LabelReplaceQ("grp", "$1", "user", "([0-9]).*", _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    ExtendedPromQL.parse(
      """label_join(view, "uid", "-", "user", "env")""", now) match {
      case LabelJoinQ("uid", "-", Seq("user", "env"), _: SelectorQ) => ()
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("""label_replace(view, "a", "b")""", now)
    }
    val sel = Seq(
      ("a 42", Map("user" -> "42")),
      ("a x", Map("user" -> "x"))). // regex won't match -> unchanged
      toDF("sensor_id", "labels")
    val samples = Seq(("a 42", 1L, 1.0), ("a x", 1L, 2.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val lr = ExtendedPromQL.evalWith(
      LabelReplaceQ("grp", "$1", "user", "([0-9]).*",
        SelectorQ(Nil, 0L, 10L)), _ => sel, samples)
      .select(col("sensor_id"), col("labels"))
      .as[(String, Map[String, String])].collect().toMap
    assert(lr("a 42") == Map("user" -> "42", "grp" -> "4"))
    assert(lr("a x") == Map("user" -> "x")) // no full match: untouched
    val lj = ExtendedPromQL.evalWith(
      LabelJoinQ("uid", "-", Seq("user", "missing"),
        SelectorQ(Nil, 0L, 10L)), _ => sel, samples)
      .select(col("sensor_id"), col("labels"))
      .as[(String, Map[String, String])].collect().toMap
    assert(lj("a 42") == Map("user" -> "42", "uid" -> "42-"))
  }

  test("histogram_quantile: bucket interpolation, +Inf, empty groups") {
    import spark.implicits._
    ExtendedPromQL.parse("histogram_quantile(0.9, m_bucket)", now) match {
      case HistogramQuantileQ(phi, ms, _, _) =>
        assert(phi == 0.9)
        assert(ms == Seq(LabelMatcher.Eq("__name__", "m_bucket")))
      case other => fail(s"unexpected: $other")
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("histogram_quantile(2, m_bucket)", now)
    }
    intercept[PromQLError] {
      ExtendedPromQL.parse("histogram_quantile(0.5, m_bucket[5m])", now)
    }
    // cumulative buckets: 10 obs <= 1, 30 <= 2, 40 total
    val sel = Seq(
      ("b 1 1", Map("user" -> "1", "le" -> "1")),
      ("b 1 2", Map("user" -> "1", "le" -> "2")),
      ("b 1 inf", Map("user" -> "1", "le" -> "+Inf")),
      ("z 2", Map("user" -> "2", "le" -> "+Inf")) // only +Inf: no finite le
    ).toDF("sensor_id", "labels")
    val samples = Seq(
      ("b 1 1", 1L, 10.0), ("b 1 2", 1L, 30.0), ("b 1 inf", 1L, 40.0),
      ("z 2", 1L, 0.0)) // zero total drops out
      .toDF("sensor_id", "timestamp_us", "value")
    val got = ExtendedPromQL.evalWith(
      HistogramQuantileQ(0.5, Nil, 0L, 10L), _ => sel, samples)
      .select(element_at(col("group_labels"), "user"), col("value"))
      .as[(String, Double)].collect().toMap
    // rank = 0.5*40 = 20; covering bucket (1,2]: 1 + 1*(20-10)/(30-10) = 1.5
    assert(got == Map("1" -> 1.5))
    // phi high enough to land in +Inf -> highest finite le
    val inf = ExtendedPromQL.evalWith(
      HistogramQuantileQ(0.99, Nil, 0L, 10L), _ => sel, samples)
      .select(element_at(col("group_labels"), "user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(inf == Map("1" -> 2.0)) // 0.99*40=39.6 > 30 -> +Inf bucket
  }

  test("math functions: per-value semantics, domains, nesting") {
    import spark.implicits._
    val selected = Seq(
      ("m 1", Map("user" -> "1")), ("m 2", Map("user" -> "2")),
      ("m 3", Map("user" -> "3"))).toDF("sensor_id", "labels")
    def samplesOf(vs: (String, Double)*) =
      vs.map { case (sid, v) => (sid, now - 1000L, v) }
        .toDF("sensor_id", "timestamp_us", "value")
    def run(q: String, vs: (String, Double)*): Map[String, Double] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now),
        _ => selected, samplesOf(vs: _*))
        .select("sensor_id", "value").as[(String, Double)].collect().toMap
    assert(run("abs(m)", "m 1" -> -2.5, "m 2" -> 3.0) ==
      Map("m 1" -> 2.5, "m 2" -> 3.0))
    assert(run("ceil(m)", "m 1" -> 1.2, "m 2" -> -1.2) ==
      Map("m 1" -> 2.0, "m 2" -> -1.0))
    assert(run("floor(m)", "m 1" -> 1.8, "m 2" -> -1.2) ==
      Map("m 1" -> 1.0, "m 2" -> -2.0))
    assert(run("sgn(m)", "m 1" -> -7.0, "m 2" -> 0.0, "m 3" -> 2.0) ==
      Map("m 1" -> -1.0, "m 2" -> 0.0, "m 3" -> 1.0))
    // Prometheus ties-up rounding: 2.5 -> 3, -2.5 -> -2; step rounding
    assert(run("round(m)", "m 1" -> 2.5, "m 2" -> -2.5) ==
      Map("m 1" -> 3.0, "m 2" -> -2.0))
    assert(run("round(m, 0.5)", "m 1" -> 1.26) == Map("m 1" -> 1.5))
    // log domains: -Inf at zero, NaN below
    val ln = run("ln(m)", "m 1" -> math.E, "m 2" -> 0.0, "m 3" -> -1.0)
    assert(ln("m 1") == 1.0 && ln("m 2").isNegInfinity && ln("m 3").isNaN)
    assert(run("sqrt(m)", "m 1" -> 9.0, "m 2" -> -1.0)("m 2").isNaN)
    assert(run("clamp(m, 2, 4)",
      "m 1" -> 1.0, "m 2" -> 3.0, "m 3" -> 9.0) ==
      Map("m 1" -> 2.0, "m 2" -> 3.0, "m 3" -> 4.0))
    assert(run("clamp(m, 4, 2)", "m 1" -> 3.0)("m 1").isNaN) // min > max
    assert(run("clamp_min(m, 2)", "m 1" -> 1.0) == Map("m 1" -> 2.0))
    assert(run("clamp_max(m, 2)", "m 1" -> 3.0) == Map("m 1" -> 2.0))
    // nests inside binaries and subqueries; composes with functions
    assert(run("abs(m) * 2", "m 1" -> -2.0) == Map("m 1" -> 4.0))
    assert(run("max_over_time(abs(m)[1h:15m])", "m 1" -> -2.0) ==
      Map("m 1" -> 2.0))
    assert(run("clamp_max(last_over_time(m[1h]), 1)", "m 1" -> 5.0) ==
      Map("m 1" -> 1.0))
    // trigonometry family (Prometheus 2.31): values + domain NaNs
    assert(run("sin(m)", "m 1" -> 0.0) == Map("m 1" -> 0.0))
    assert(run("cos(m)", "m 1" -> 0.0) == Map("m 1" -> 1.0))
    assert(run("tanh(m)", "m 1" -> 0.0, "m 2" -> 1e6) ==
      Map("m 1" -> 0.0, "m 2" -> 1.0))
    assert(run("sinh(m)", "m 1" -> 0.0) == Map("m 1" -> 0.0))
    assert(run("cosh(m)", "m 1" -> 0.0) == Map("m 1" -> 1.0))
    assert(run("atan(m)", "m 1" -> 0.0) == Map("m 1" -> 0.0))
    assert(run("asin(m)", "m 1" -> 1.0, "m 2" -> 2.0)("m 1")
      == math.Pi / 2)
    assert(run("asin(m)", "m 1" -> 2.0)("m 1").isNaN) // outside [-1,1]
    assert(run("acos(m)", "m 1" -> 1.0) == Map("m 1" -> 0.0))
    assert(run("deg(m)", "m 1" -> math.Pi) == Map("m 1" -> 180.0))
    assert(run("rad(m)", "m 1" -> 180.0) == Map("m 1" -> math.Pi))
    assert(run("deg(rad(m))", "m 1" -> 45.0) == Map("m 1" -> 45.0))
    // arity and domain rejections
    intercept[PromQLError] { ExtendedPromQL.parse("clamp(m, 1)", now) }
    intercept[PromQLError] { ExtendedPromQL.parse("round(m, 0)", now) }
    intercept[PromQLError] { ExtendedPromQL.parse("abs(m, 1)", now) }
    intercept[PromQLError] { ExtendedPromQL.parse("clamp_min(m, x)", now) }
    intercept[PromQLError] { ExtendedPromQL.parse("sin(m, 1)", now) }
  }

  test("resets/changes/idelta/irate/deriv/predict_linear") {
    import spark.implicits._
    val selected = Seq(("v 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    // counter with one reset and one flat pair, 10 s apart:
    // t-40s: 1, t-30s: 3, t-20s: 3, t-10s: 1 (reset), t: 4
    val samples = Seq(
      ("v 1", now - 40000000L, 1.0), ("v 1", now - 30000000L, 3.0),
      ("v 1", now - 20000000L, 3.0), ("v 1", now - 10000000L, 1.0),
      ("v 1", now, 4.0)).toDF("sensor_id", "timestamp_us", "value")
    def run(q: String): Seq[Double] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("value").as[Double].collect().toSeq
    assert(run("resets(view[1m])") == Seq(1.0))  // 3 -> 1
    assert(run("changes(view[1m])") == Seq(3.0)) // 1->3, 3->1, 1->4
    assert(run("idelta(view[1m])") == Seq(3.0))  // last pair 1 -> 4
    assert(run("irate(view[1m])") == Seq(0.3))   // 3 / 10 s
    // irate across a reset divides the NEW value by the gap
    val resetTail = Seq(
      ("v 1", now - 10000000L, 9.0), ("v 1", now, 2.0))
      .toDF("sensor_id", "timestamp_us", "value")
    assert(ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("irate(view[1m])", now), _ => selected, resetTail)
      .select("value").as[Double].head() == 0.2)
    // perfectly linear series: slope 0.5/s, prediction exact
    val linear = Seq.tabulate(5)(i =>
      ("v 1", now - (40 - 10 * i) * 1000000L, i * 5.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val d = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("deriv(view[1m])", now), _ => selected, linear)
      .select("value").as[Double].head()
    assert(math.abs(d - 0.5) < 1e-9)
    val p = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("predict_linear(view[1m], 60)", now),
      _ => selected, linear)
      .select("value").as[Double].head()
    assert(math.abs(p - (20.0 + 0.5 * 60)) < 1e-9)
    // singleton series yield nothing for the pairwise/regression family
    val one = Seq(("v 1", now, 5.0)).toDF("sensor_id", "timestamp_us", "value")
    for (q <- Seq("idelta(view[1m])", "irate(view[1m])", "deriv(view[1m])",
      "predict_linear(view[1m], 60)"))
      assert(ExtendedPromQL.evalWith(
        ExtendedPromQL.parse(q, now), _ => selected, one).count() == 0, q)
    // but resets/changes count zero pairs as zero
    assert(ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("resets(view[1m])", now), _ => selected, one)
      .select("value").as[Double].collect().toSeq == Seq(0.0))
    // subquery composition for the pairwise counters
    assert(ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("max_over_time(changes(view[40s])[1m:20s])", now),
      _ => selected, samples).select("value").as[Double].head() >= 1.0)
  }

  test("present_over_time and absent_over_time") {
    import spark.implicits._
    val selected = Seq(("v 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    val samples = Seq(("v 1", now - 1000L, 5.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val present = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("present_over_time(view[1h])", now),
      _ => selected, samples)
      .select("sensor_id", "value").as[(String, Double)].collect().toMap
    assert(present == Map("v 1" -> 1.0))
    // data in the window -> absent_over_time yields nothing
    assert(ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("absent_over_time(view[1h])", now),
      _ => selected, samples).count() == 0)
    // window ending before every sample -> one absent row, value 1
    val early = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse(s"absent_over_time(view[1h] @ ${(now / 1e6).toLong - 7200})", now),
      _ => selected, samples)
      .select("value").as[Double].collect().toSeq
    assert(early == Seq(1.0))
    // composes: inner of a subquery fold
    val sub = ExtendedPromQL.evalWith(
      ExtendedPromQL.parse("sum_over_time(present_over_time(view[30m])[1h:15m])", now),
      _ => selected, samples)
      .select("value").as[Double].collect().toSeq
    assert(sub.nonEmpty && sub.head >= 1.0)
  }

  test("aggregation over function results: sum(rate(...)), by clauses") {
    import spark.implicits._
    ExtendedPromQL.parse("sum(rate(view[5m]))", now) match {
      case InstantAggVecQ("sum", Nil, false, RangeFnQ("rate", _, _, _)) =>
      case other => fail(s"unexpected: $other")
    }
    // plain selectors keep the classic node (and its eval path)
    ExtendedPromQL.parse("sum by (user) (view)", now) match {
      case _: InstantAggQ =>
      case other => fail(s"unexpected: $other")
    }
    // bare range selector still directs to the _over_time family
    intercept[PromQLError] { ExtendedPromQL.parse("sum(view[5m])", now) }
    val selected = Seq(
      ("v 1", Map("user" -> "1", "dc" -> "a")),
      ("v 2", Map("user" -> "2", "dc" -> "a")),
      ("v 3", Map("user" -> "3", "dc" -> "b")))
      .toDF("sensor_id", "labels")
    // counters: per-series increase over [0, now] = 2, 4, 10
    val samples = Seq(
      ("v 1", now - 2000L, 1.0), ("v 1", now - 1000L, 3.0),
      ("v 2", now - 2000L, 0.0), ("v 2", now - 1000L, 4.0),
      ("v 3", now - 2000L, 5.0), ("v 3", now - 1000L, 15.0))
      .toDF("sensor_id", "timestamp_us", "value")
    def run(q: String): Map[Map[String, String], Double] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now), _ => selected, samples)
        .select("group_labels", "value")
        .as[(Map[String, String], Double)].collect().toMap
    assert(run("sum(increase(view[1h]))") == Map(Map.empty -> 16.0))
    assert(run("sum by (dc) (increase(view[1h]))") ==
      Map(Map("dc" -> "a") -> 6.0, Map("dc" -> "b") -> 10.0))
    assert(run("count without (user) (increase(view[1h]))") ==
      Map(Map("dc" -> "a") -> 2.0, Map("dc" -> "b") -> 1.0))
    assert(run("max(abs(view * -1))") == Map(Map.empty -> 15.0))
  }

  test("Prometheus-3 delta: every documented absence rejects with its " +
    "reason; the absence map drives /docs/promql_delta") {
    // one rejection per documented absence — the verdict's checkable
    // form of the claim "complete for the data model"
    ExtendedPromQL.UnsupportedFns.foreach { case (fn, why) =>
      val e = intercept[SimplePromQL.PromQLError](
        ExtendedPromQL.parse(s"$fn(view)", now))
      assert(e.getMessage.contains(fn) && e.getMessage.contains(
        why.take(30)), s"$fn: ${e.getMessage}")
    }
    // the native-histogram family and info() are the delta's core
    assert(ExtendedPromQL.UnsupportedFns.keySet == Set(
      "histogram_count", "histogram_sum", "histogram_avg",
      "histogram_fraction", "histogram_stddev", "histogram_stdvar",
      "info", "ts_of_last_over_time", "ts_of_max_over_time",
      "ts_of_min_over_time"))
    // a metric whose NAME collides with an absent function still
    // selects (rejection requires call syntax)
    ExtendedPromQL.parse("info", now) match {
      case q: ExtendedPromQL.SelectorQ => ()
      case other => fail(s"bare name parsed as $other")
    }
  }

  test("time(), pi(), day_of_year evaluate (Prometheus 3 parity)") {
    import spark.implicits._
    val selected = Seq(("m 1", Map("user" -> "1")))
      .toDF("sensor_id", "labels")
    def run(q: String, v: Double): Map[String, Double] =
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(q, now),
        _ => selected,
        Seq(("m 1", now - 1000L, v))
          .toDF("sensor_id", "timestamp_us", "value"))
        .select("sensor_id", "value").as[(String, Double)].collect().toMap
    // time() - value: scalar-vector arithmetic on the evaluation time
    val nowSecs = now / 1e6
    assert(run("time() - m", 600.0) == Map("m 1" -> (nowSecs - 600.0)))
    // pi() composes as a scalar
    assert(run("m * pi()", 2.0) == Map("m 1" -> 2.0 * math.Pi))
    // boundary: uptime() must NOT be rewritten into up<time-literal>
    intercept[SimplePromQL.PromQLError](
      ExtendedPromQL.parse("uptime()", now))
    // time() inside a quoted label value is untouched
    ExtendedPromQL.parse("""view{note="time()"}""", now) match {
      case q: ExtendedPromQL.SelectorQ =>
        assert(q.matchers.exists(_.value == "time()"))
      case other => fail(s"parsed as $other")
    }
    // day_of_year over epoch-seconds values: 2024-02-01 is day 32
    assert(run("day_of_year(m)", nowSecs) == Map("m 1" -> 32.0))
    // leap-year tail: 2024-12-31 is day 366
    assert(run("day_of_year(m)", 1735603200.0) == Map("m 1" -> 366.0))
  }
}

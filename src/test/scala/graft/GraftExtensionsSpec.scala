package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{DivModLike, Expression, In,
  Literal, Pmod}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  ShuffleQueryStageExec}
import org.apache.spark.sql.functions._

import graft.plans.ParamLiteral

/** The engine extensions [[GraftExtensions]] registers: its SQL functions,
  * driven through SQL, and the literal-hoisting physical rule, checked
  * against interpreted evaluation.
  */
class GraftExtensionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("every registered SQL function resolves with its arity and " +
    "reports its usage on a wrong arity or a non-literal parameter") {
    // one well-typed argument list per registered function
    val calls = Map(
      "sensor_uuid" -> Seq("'m'", "'Float'", "CAST(NULL AS STRING)",
        "CAST(NULL AS MAP<STRING,STRING>)"),
      "vec_dot" -> Seq("array(1D, 2D)", "array(3D, 4D)"),
      "vec_q8" -> Seq("array(1D, 2D)"),
      "vec_dot8" -> Seq("X'0102'", "X'0304'"),
      "text_shingles" -> Seq("'abc def'", "2"),
      "gear_chunks" -> Seq("'abc def'", "4"),
      "bpe_split" -> Seq("'word'"),
      "char_stats" -> Seq("'text'"),
      "unicode_normalize" -> Seq("'text'", "'NFC'"),
      "winnow_fps" -> Seq("'abc def ghi'", "3", "2"))
    assert(GraftExtensions.functions.map(_.name).toSet == calls.keySet)
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    GraftExtensions.functions.foreach { f =>
      val args = calls(f.name)
      assert(args.length == f.arity, f.name)
      val ok = spark.sql(s"SELECT ${f.name}(${args.mkString(", ")}) AS r")
      assert(ok.queryExecution.analyzed.resolved, f.name)
      assert(ok.collect().length == 1, f.name)
      val wrong = failure(s"SELECT ${f.name}(${(args :+ "1").mkString(", ")})")
      assert(wrong.contains(s"${f.usage} takes ${f.arity} argument"), wrong)
      f.literals.foreach { i =>
        val column = args.updated(i, s"CAST(id AS ${
          if (args(i).startsWith("'")) "STRING" else "INT"})")
        val msg = failure(
          s"SELECT ${f.name}(${column.mkString(", ")}) FROM range(1)")
        assert(msg.contains(s"${f.name} ${
          f.literals.map(f.params).mkString(" and ")} must be"), msg)
      }
    }
  }

  // --- ParameterizeLiterals: filters, projections and generators whose
  // literals the rule hoists give what interpreted evaluation of the same
  // frame gives, and a new value compiles no new class
  private val day = java.sql.Date.valueOf("2024-02-28")
  private val instant = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")

  /** Two partitions of every edge the rule meets: longs near both ends,
    * ints, doubles with NaN, ±Inf and -0.0, dates, timestamps, strings.
    */
  private def frame(): DataFrame = spark.range(0, 48, 1, 2).select(
    col("id"),
    when(col("id") % 7 === 0, lit(Long.MinValue))
      .when(col("id") % 7 === 1, lit(Long.MaxValue))
      .otherwise(col("id") * 37 - 600).as("l"),
    (col("id") % 11 - 5).cast("int").as("i"),
    when(col("id") % 6 === 0, lit(Double.NaN))
      .when(col("id") % 6 === 1, lit(Double.PositiveInfinity))
      .when(col("id") % 6 === 2, lit(Double.NegativeInfinity))
      .when(col("id") % 6 === 3, lit(-0.0))
      .otherwise(col("id") / 8.0).as("d"),
    date_add(lit(day), (col("id") % 9).cast("int")).as("dt"),
    timestamp_micros(lit(instant.getTime * 1000L) + col("id") * 3600000000L)
      .as("ts"),
    concat(lit("s"), (col("id") % 13).cast("string")).as("s"))

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def interpreted[A](f: => A): A = withConf(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)

  /** The executed plan's expressions, adaptive stages included. */
  private def planExpressions(df: DataFrame): Seq[Expression] = {
    df.collect()
    collect(df.queryExecution.executedPlan)(p => p.expressions).flatten
  }

  private def params(df: DataFrame): Int = planExpressions(df)
    .map(_.collect { case _: ParamLiteral => 1 }.sum).sum

  /** Rows rendered as text, so -0.0, NaN and the row order all count. */
  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first): _*)
      .collect().toSeq.map(_.toString)

  /** The query's rows with whole-stage codegen and the hoisted literals
    * equal its interpreted rows; returns how many literals were hoisted.
    */
  private def agrees(name: String)(q: DataFrame => DataFrame): Int = {
    val compiled = q(frame())
    val got = rows(compiled)
    val want = interpreted(rows(q(frame())))
    assert(got == want, name)
    params(compiled)
  }

  test("hoisted literals in filters, projections and generators give the " +
    "interpreted rows: long and int ends, NaN, ±Inf, -0.0, date, timestamp") {
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "long ends" -> (_.filter(col("l") > Long.MinValue &&
        col("l") < Long.MaxValue && col("l") =!= -600L)),
      "long ends projected" -> (_.select(col("id"),
        greatest(col("l"), lit(Long.MinValue + 1)).as("a"),
        least(col("l"), lit(Long.MaxValue - 1)).as("b"),
        (col("l") === Long.MinValue).as("c"))),
      "int" -> (_.filter(col("i") =!= 3 && col("i") >= Int.MinValue)
        .select(col("id"), (col("i") * 3 + 7).as("a"),
          (col("i") < Int.MaxValue).as("b"))),
      "doubles" -> (_.select(col("id"), (col("d") + Double.NaN).as("a"),
        (col("d") * Double.PositiveInfinity).as("b"),
        (col("d") === -0.0).as("c"), lit(-0.0).as("z"),
        greatest(col("d"), lit(Double.NegativeInfinity)).as("e"),
        (col("d") < Double.PositiveInfinity).as("f"),
        (col("d") === Double.NaN).as("g"))),
      "double filter" -> (_.filter(col("d") =!= Double.NaN &&
        col("d") > Double.NegativeInfinity && col("d") >= -0.0)),
      "date" -> (_.filter(col("dt") >= lit(day)).select(col("id"),
        date_add(col("dt"), 3).as("a"), (col("dt") === lit(day)).as("b"))),
      "timestamp" -> (_.filter(col("ts") < lit(instant) ||
        col("ts") > lit(new java.sql.Timestamp(instant.getTime + 7200000L)))
        .select(col("id"), (col("ts") >= lit(instant)).as("a"))),
      "sequence" -> (_.filter(col("l").between(-600L, 1200L)).select(
        col("id"), explode(sequence(col("l"), col("l") + 30L, lit(7L)))
          .as("t"))),
      "sequence with a literal start" -> (_.select(col("id"),
        posexplode(sequence(lit(-6), col("i"), lit(3))))),
      "divisors" -> (_.filter(!isnan(col("d"))).select(col("id"),
        pmod(col("l"), lit(7L)).as("a"), (col("l") % 1000L).as("b"),
        (col("i") / 3).as("c"), (col("d") / 8.0).as("e"),
        pmod(col("i") - 40, lit(6)).as("f"),
        expr("l div 86400").as("g"), (col("id") + 13L).as("h"))),
      "regexp_replace position" -> (_.select(col("id"),
        expr("regexp_replace(s, '[0-9]', 'x', 1)").as("a"),
        expr("regexp_replace(s, 's', 'y', 2)").as("b"))),
      "round scale" -> (_.filter(!isnan(col("d"))).select(col("id"),
        round(col("d") * 1.37, 2).as("a"), bround(col("d"), 1).as("b"))),
      "substring" -> (_.select(col("id"), substring(col("s"), 2, 3).as("a"),
        expr("substring(s, -2, 1)").as("b"))))
    val hoisted = cases.map { case (name, q) => name -> agrees(name)(q) }
    hoisted.foreach { case (name, n) => assert(n > 0, s"$name hoisted none") }
    // a divisor stays in the code, where the JIT divides by a constant:
    // the case's six and the frame's own
    val divisors = planExpressions(cases.toMap.apply("divisors")(frame()))
      .flatMap(_.collect { case d @ (_: DivModLike | _: Pmod) => d.children(1) })
    assert(divisors.length > 6 && divisors.forall(_.isInstanceOf[Literal]),
      divisors)
  }

  test("isin over 1 to 12 values runs as a value set and gives the " +
    "interpreted rows, nulls, NaN and -0.0 included") {
    (1 to 12).foreach { n =>
      val longs = (0 until n).map(k => (k * 111L - 600L): Any)
      val strings = (0 until n).map(k => s"s${k * 2}": Any)
      val doubles = (Seq[Any](Double.NaN, -0.0, Double.PositiveInfinity) ++
        (0 until n).map(k => k / 8.0)).take(n)
      Seq[(String, String, Seq[Any])](("l", "long", longs),
        ("s", "string", strings), ("d", "double", doubles),
        ("i", "int", (0 until n).map(k => (k - 5): Any)),
        ("dt", "date", (0 until n).map(k => java.sql.Date.valueOf(
          day.toLocalDate.plusDays(k.toLong)): Any)))
        .foreach { case (c, kind, values) =>
          agrees(s"$kind isin $n")(_.filter(col(c).isin(values: _*)))
          agrees(s"$kind isin $n or null")(_.select(col("id"),
            col(c).isin(values :+ null: _*).as("m")))
          val ins = planExpressions(frame().filter(col(c).isin(values: _*)))
            .flatMap(_.collect { case i: In => i })
          assert(ins.isEmpty, s"$kind isin $n kept an In: $ins")
        }
    }
  }

  test("plans differing only in a hoisted value are not sameResult, so " +
    "ReuseExchange keeps both; a new value compiles no new class") {
    def q(k: Long): DataFrame =
      spark.range(0, 100, 1, 4).filter(col("id") > k)
        .groupBy((col("id") % 3).as("g")).count()
    // the adaptive stage cache keys a shuffle stage by its plan after the
    // rule, as ReuseExchange keys an exchange
    def stage(k: Long): SparkPlan = {
      val df = q(k)
      df.collect()
      val stages = collect(df.queryExecution.executedPlan) {
        case s: ShuffleQueryStageExec => s.plan
      }
      assert(stages.length == 1)
      stages.head
    }
    val (a, a2, b) = (stage(10), stage(10), stage(20))
    assert(a.exists(_.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))))
    assert(a.sameResult(a2))
    assert(!a.sameResult(b))
    // both sides of the union plan the same exchange shape over different
    // values: a merged exchange would answer 10's counts twice
    val union = q(10).withColumn("k", lit(10)).unionByName(
      q(20).withColumn("k", lit(20)))
    assert(rows(union) == interpreted(rows(q(10).withColumn("k", lit(10))
      .unionByName(q(20).withColumn("k", lit(20))))))
    val compiles = () =>
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        .getCount
    def read(lo: Long, ids: Seq[Long]): Seq[String] = rows(
      spark.range(0, 1000, 1, 1).filter(col("id").between(lo, lo + 400L) &&
        (col("id") % 50).isin(ids: _*))
        .select(col("id"), (col("id") * 2.5 + lo).as("v"),
          explode(sequence(lit(lo), col("id"), lit(97L))).as("t")))
    read(3L, Seq(1L, 2L))
    val before = compiles()
    val got = read(17L, Seq(4L, 5L, 6L, 7L))
    assert(compiles() == before, "a new value compiled a new class")
    assert(got == interpreted(read(17L, Seq(4L, 5L, 6L, 7L))))
  }
}

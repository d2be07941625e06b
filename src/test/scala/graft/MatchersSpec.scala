package graft

import graft.operators.{LabelMatcher, Matchers}
import graft.operators.LabelMatcher._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the reference's matcher truth table, incl. absent-label semantics
  * (reference: src/ingestors/http/crud.rs:145-182,
  * tests/query_sensors_by_labels.rs:84-925): `!=` and `!~` match sensors
  * lacking the label; `=` and `=~` do not; empty matcher set matches none.
  * Checked on BOTH the Column compiler (Spark) and the in-process evaluator.
  */
class MatchersSpec extends SparkSpec {

  // catalog: one sensor with {env: prod}, one with {env: dev}, one with no labels
  private lazy val catalog = {
    val schema = StructType(Seq(
      StructField("uuid", StringType),
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("labels", MapType(StringType, StringType))))
    val rows = Seq(
      Row("u1", "temp", "Float", Map("env" -> "prod")),
      Row("u2", "temp", "Float", Map("env" -> "dev")),
      Row("u3", "hum", "Integer", null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
  }

  private def selected(ms: Seq[LabelMatcher]): Set[String] =
    catalog.filter(Matchers.predicate(ms))
      .collect().map(_.getString(0)).toSet

  private def evalSel(ms: Seq[LabelMatcher]): Set[String] = Set(
    ("u1", "temp", Map("env" -> "prod")),
    ("u2", "temp", Map("env" -> "dev")),
    ("u3", "hum", Map.empty[String, String]))
    .filter { case (_, n, l) => Matchers.matches(n, l, ms) }.map(_._1)

  private def check(ms: Seq[LabelMatcher], expect: Set[String]): Unit = {
    assert(selected(ms) == expect, s"Column path for $ms")
    assert(evalSel(ms) == expect, s"in-process path for $ms")
  }

  test("equality matcher does not match absent label") {
    check(Seq(Eq("env", "prod")), Set("u1"))
  }

  test("not-equal matcher matches absent label") {
    check(Seq(NotEq("env", "prod")), Set("u2", "u3"))
  }

  test("regex matcher does not match absent label") {
    check(Seq(Re("env", "pro")), Set("u1")) // unanchored substring search
  }

  test("not-regex matcher matches absent label") {
    check(Seq(NotRe("env", "pro")), Set("u2", "u3"))
  }

  test("__name__ matchers address the sensor name") {
    check(Seq(Eq("__name__", "temp")), Set("u1", "u2"))
    check(Seq(Re("__name__", "^h")), Set("u3"))
    check(Seq(NotEq("__name__", "temp")), Set("u3"))
  }

  test("matchers AND-combine") {
    check(Seq(Eq("__name__", "temp"), NotEq("env", "prod")), Set("u2"))
  }

  test("empty matcher set selects nothing") {
    check(Nil, Set.empty)
  }

  test("regex is case-sensitive and unanchored") {
    check(Seq(Re("env", "PROD")), Set.empty)
    check(Seq(Re("env", "ro")), Set("u1"))
  }

  test("numeric-only filter keeps Integer/Numeric/Float") {
    val got = Matchers.sensorsByLabels(
      catalog.withColumn("labels", org.apache.spark.sql.functions.col("labels")),
      Seq(NotEq("nope", "x")), numericOnly = true)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("u1", "u2", "u3")) // all are numeric types here
  }

  test("randomized differential: matches/selectRows == predicate/" +
      "sensorsByLabels over seeded random catalogs") {
    import org.apache.spark.sql.functions.col
    val keys = Seq("env", "dc", "host", "absent", "__name__")
    val values = Seq("prod", "dev", "", "eu-1", "us-1", "a|b", "Ünï")
    val patterns = Seq("", ".*", "x*", "^$", "^p", "d$", "^prod$", "prod|dev",
      "^(eu|us)-1$", "a\\|b", ".", "(?i)ünï", "^$|dev")
    val types = Seq("Float", "Integer", "Numeric", "String", "Boolean")
    val schema = StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("type", StringType), StructField("unit",
        StructType(Seq(StructField("name", StringType),
          StructField("description", StringType)))),
      StructField("labels", MapType(StringType, StringType))))
    for (seed <- Seq(1L, 2L, 3L)) {
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
      val rows = (0 until 80).map { i =>
        // null maps, absent keys, and null values (read as absent)
        val labels: Map[String, String] =
          if (rnd.nextInt(5) == 0) null
          else Seq("env", "dc", "host").filter(_ => rnd.nextBoolean())
            .map(k => k -> (if (rnd.nextInt(12) == 0) null else pick(values)))
            .toMap
        Row(f"u$i%03d", pick(Seq("cpu", "mem", "prod", "dev", "Ünï")),
          pick(types), null, labels)
      }
      val sets: Seq[Seq[LabelMatcher]] = Nil +: (0 until 150).map { _ =>
        (0 until 1 + rnd.nextInt(3)).map { _ =>
          val k = pick(keys)
          rnd.nextInt(4) match {
            case 0 => Eq(k, pick(values ++ Seq("cpu", "mem")))
            case 1 => NotEq(k, pick(values ++ Seq("cpu", "mem")))
            case 2 => Re(k, pick(patterns))
            case _ => NotRe(k, pick(patterns))
          }
        }
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      // every set's Column predicate in one job
      val byColumn = df.select(col("uuid") +: sets.zipWithIndex.map {
          case (ms, i) => Matchers.predicate(ms).as(s"m$i") }: _*)
        .collect().map(r => r.getString(0) -> r).toMap
      sets.zipWithIndex.foreach { case (ms, i) =>
        val want = rows.map(_.getString(0)).filter(u => byColumn(u).getBoolean(i + 1))
        rows.foreach { r =>
          assert(Matchers.matches(r.getString(1), r.getAs[Map[String, String]](4), ms) ==
            byColumn(r.getString(0)).getBoolean(i + 1), s"seed $seed $ms on $r")
        }
        assert(Matchers.selectRows(rows, ms).map(_.getString(0)) == want,
          s"seed $seed $ms")
      }
      // numericOnly through the DataFrame operator itself, sampled
      sets.take(12).foreach { ms =>
        assert(Matchers.selectRows(rows, ms, numericOnly = true)
            .map(_.getString(0)) ==
          Matchers.sensorsByLabels(df, ms, numericOnly = true)
            .collect().map(_.getString(0)).toSeq, s"seed $seed numericOnly $ms")
      }
    }
  }

  test("compiled compiles each regex once, failing before any row") {
    intercept[IllegalArgumentException](
      Matchers.compiled(Seq(Re("env", "(a)\\1"))))
    intercept[IllegalArgumentException](
      Matchers.selectRows(Nil, Seq(NotRe("env", "(?=a)b"))))
  }
}

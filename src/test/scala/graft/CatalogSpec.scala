package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.catalog.Catalog

/** The catalog layer's driver-side answers against its Spark operators. */
class CatalogSpec extends SparkSpec {

  test("randomized differential: metricsFilter == filterMetrics, " +
      "non-ASCII names included") {
    // names whose case folding differs between naive and locale-aware
    // lower-casing: dotted İ, final sigma, ß, titlecase ǅ, ligatures, and
    // capitals newer than the JDK's Unicode tables (U+A7C0, U+2C2F), which
    // Spark's ICU-based `lower` folds and String.toLowerCase does not
    val names = Seq("cpu", "CPU_Load", "İstanbul", "ISTANBUL", "ΣΊΣΥΦΟΣ",
      "Straße", "STRASSE", "ǅemal", "ﬁle", "Ünïcode", "ÄÖÜ", "mixed Σ end",
      "κόσμος", "\uA7C0ld", "x\u2C2F", "")
    val needles = Seq("", "i", "İ", "i̇", "σ", "ς", "Σ", "ss", "ß", "ǆ",
      "ǅ", "fi", "ﬁ", "ä", "Ä", "cpu", "ö", "load", "zz", "\uA7C1l",
      "\u2C5F")
    val regexes = Seq("^c", "(?i)cpu", "Σ$", "ß|ss", "^$", ".", "ö")
    val types = Seq("Float", "Integer", "String")
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("type", StringType)))
    val rnd = new scala.util.Random(11)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    val rows = names.flatMap(n =>
      types.filter(t => t == "Float" || rnd.nextBoolean()).map(t => Row(n, t)))
    val metrics = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val cases = needles.map(n => (Some(n), None, None)) ++
      (0 until 40).map(_ => (
        Option.when(rnd.nextBoolean())(pick(needles)),
        Option.when(rnd.nextInt(3) == 0)(pick(regexes)),
        Option.when(rnd.nextInt(3) == 0)(pick(types.map(_.toLowerCase) :+ "nope"))))
    cases.foreach { case (sub, re, t) =>
      val want = Catalog.filterMetrics(metrics, sub, re, t)
        .select(col("name"), col("type")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val keep = Catalog.metricsFilter(sub, re, t)
      val got = rows.map(r => (r.getString(0), r.getString(1)))
        .filter { case (n, ty) => keep(n, ty) }.toSet
      assert(got == want, s"name_contains=$sub name_regex=$re type=$t")
    }
  }

  test("metricsFilter rejects an unsupported regex before any row") {
    intercept[IllegalArgumentException](
      Catalog.metricsFilter(nameRegex = Some("(?<=a)b")))
  }

  test("labelNames: sorted keys plus __name__ whenever a row exists") {
    assert(Catalog.labelNames(Nil) == Nil)
    val rows = Seq(Row("u1", "a", "Float", null, null),
      Row("u2", "b", "Float", null, Map("z" -> "1", "dc" -> "eu")),
      Row("u3", "c", "Float", null, Map("dc" -> "us")))
    assert(Catalog.labelNames(rows.take(1)) == Seq("__name__"))
    assert(Catalog.labelNames(rows) == Seq("__name__", "dc", "z"))
  }
}

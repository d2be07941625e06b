package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.SensorType

/** Prometheus-style label matchers (`=`, `!=`, `=~`, `!~`), AND-combined.
  *
  * Semantics (reference: src/storage/query.rs:12-35, truth table enforced
  * in-process at src/ingestors/http/crud.rs:145-182):
  *  - `=` / `=~` do NOT match a sensor lacking the label;
  *  - `!=` / `!~` DO match a sensor lacking the label;
  *  - `__name__` addresses the sensor name (always present);
  *  - an empty matcher set selects nothing
  *    (reference: src/storage/sqlite/storage.rs:437-440).
  *
  * Regexes are unanchored-search (`find()` semantics), the same tested
  * surface as the reference's Rust-regex SQLite path
  * (reference: tests/query_sensors_by_labels.rs:812-884), and run on
  * [[graft.functions.LinearRegex]] — a linear-time Thompson-NFA engine,
  * NOT Java's backtracking `java.util.regex` — so a hostile pattern
  * (`(a+)+b` against a long label value) cannot pin executor CPU. This
  * matches the reference's robustness class: its Rust regex crate is
  * linear-time by construction (src/storage/sqlite/storage.rs:46-48).
  * Constructs neither engine supports (backrefs, lookarounds) reject at
  * query build with IllegalArgumentException → HTTP 400.
  */
sealed trait LabelMatcher {
  def key: String
  def value: String
}
object LabelMatcher {
  final case class Eq(key: String, value: String) extends LabelMatcher
  final case class NotEq(key: String, value: String) extends LabelMatcher
  final case class Re(key: String, value: String) extends LabelMatcher
  final case class NotRe(key: String, value: String) extends LabelMatcher

  val NameLabel = "__name__"

  def eq_(k: String, v: String): LabelMatcher = Eq(k, v)
  def neq(k: String, v: String): LabelMatcher = NotEq(k, v)
  def regex(k: String, v: String): LabelMatcher = Re(k, v)
  def notRegex(k: String, v: String): LabelMatcher = NotRe(k, v)
}

object Matchers {
  import LabelMatcher._

  /** Linear-time unanchored regex search as a Column (codegen'd
    * Expression over the compiled NFA). Pattern errors throw HERE, at
    * query build on the driver — the gateway maps them to 400.
    */
  def linearRlike(v: Column, pattern: String): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.LinearRegexMatchExpression(
        org.apache.spark.sql.GraftSqlShim.expression(v), pattern))

  /** Compile one matcher into a Column predicate over a sensors DataFrame
    * with `name: String` and `labels: Map[String, String]` columns.
    */
  def matcherPredicate(m: LabelMatcher): Column = {
    val isName = m.key == NameLabel
    val v: Column = if (isName) col("name") else col("labels").getItem(m.key)
    m match {
      case Eq(_, x)    => coalesce(v === x, lit(false))
      case NotEq(_, x) => coalesce(v =!= x, lit(true))
      case Re(_, p)    => coalesce(linearRlike(v, p), lit(false))
      case NotRe(_, p) => coalesce(!linearRlike(v, p), lit(true))
    }
  }

  /** AND of all matchers; empty matcher set selects nothing. */
  def predicate(ms: Seq[LabelMatcher]): Column =
    if (ms.isEmpty) lit(false)
    else ms.map(matcherPredicate).reduce(_ && _)

  /** Sensor-catalog selection by matchers, optionally restricted to numeric
    * types (Prometheus compatibility,
    * reference: src/storage/sqlite/matchers.rs:48-50). Result ordered by
    * sensor uuid (reference: src/storage/sqlite/matchers.rs:161).
    */
  def sensorsByLabels(
      sensors: DataFrame,
      ms: Seq[LabelMatcher],
      numericOnly: Boolean = false): DataFrame = {
    val base = sensors.filter(predicate(ms))
    val typed =
      if (numericOnly)
        base.filter(col("type").isin(SensorType.numericTypes.map(_.displayName): _*))
      else base
    typed.orderBy("uuid")
  }

  /** Plain-Scala evaluation of the same truth table, for edge-side checks
    * (reference: src/ingestors/http/crud.rs:145-182). Same linear-time
    * engine as the Column path.
    */
  def matches(
      name: String,
      labels: Map[String, String],
      ms: Seq[LabelMatcher]): Boolean =
    compiled(ms)(name, labels)

  /** The matcher set as a driver-side predicate over a series' name and
    * labels (either may be null, like a catalog row's): each regex is
    * compiled once here, so a pattern error throws before any row is
    * tested, and testing a whole catalog compiles nothing more.
    */
  def compiled(
      ms: Seq[LabelMatcher]): (String, scala.collection.Map[String, String]) => Boolean = {
    val tests = ms.map { m =>
      val test: Option[String] => Boolean = m match {
        case Eq(_, x)    => _.contains(x)
        case NotEq(_, x) => v => !v.contains(x)
        case Re(_, p)    =>
          val re = graft.functions.LinearRegex.compile(p)
          _.exists(re.find)
        case NotRe(_, p) =>
          val re = graft.functions.LinearRegex.compile(p)
          v => !v.exists(re.find)
      }
      (m.key, test)
    }
    if (tests.isEmpty) (_, _) => false
    else (name, labels) => tests.forall { case (key, test) =>
      test(
        if (key == NameLabel) Option(name)
        else if (labels == null) None
        else labels.get(key).flatMap(Option(_)))
    }
  }

  /** [[sensorsByLabels]] over catalog rows already on the driver
    * ([[graft.model.Schemas.sensors]] layout): the rows that match, in
    * their given order — uuid order for a store snapshot's rows.
    */
  def selectRows(
      rows: Seq[Row],
      ms: Seq[LabelMatcher],
      numericOnly: Boolean = false): IndexedSeq[Row] = {
    val m = compiled(ms)
    rows.iterator.filter(r =>
      (!numericOnly || NumericTypeNames.contains(r.getString(2))) &&
        m(r.getString(1), r.getMap[String, String](4))).toIndexedSeq
  }

  private val NumericTypeNames = SensorType.numericTypes.map(_.displayName).toSet

  /** The name of each series in `rows` (catalog rows, as for
    * [[selectRows]]) as a column looked up by `sensor_id`: the matched
    * rows travel inside the plan, so a sample read keyed on them needs no
    * catalog join. One hash lookup per sample; null for other ids.
    */
  def seriesName(rows: Seq[Row]): Column = bySensorId(rows)(_.getString(1))

  /** [[seriesName]] for the name of each series' unit. */
  def seriesUnit(rows: Seq[Row]): Column =
    bySensorId(rows)(r => Option(r.getStruct(3)).map(_.getString(0)).orNull)

  /** [[seriesName]] for each series' labels. */
  def seriesLabels(rows: Seq[Row]): Column =
    bySensorId(rows)(r => Option(r.getMap[String, String](4)).map(_.toMap).orNull)

  /** [[seriesLabels]] from a `sensor_id → labels` map. */
  def labelsById(byId: Map[String, Map[String, String]]): Column =
    lookup(byId)

  private def bySensorId[T: TypeTag](rows: Seq[Row])(f: Row => T): Column =
    lookup(rows.map(r => r.getString(0) -> f(r)).toMap)

  private def lookup[T: TypeTag](byId: Map[String, T]): Column =
    udf((id: String) => byId.getOrElse(id, null.asInstanceOf[T]))
      .apply(col("sensor_id"))
}

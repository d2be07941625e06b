package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.SensorType
import graft.operators.{LabelMatcher, Matchers}
import graft.promql.SimplePromQL

/** Catalog endpoints' query layer: metric filters (P2/P3), PromQL-style
  * series selectors, and the DCAT JSON document shapes served by
  * `/metrics` and `/series` (reference: src/ingestors/http/crud.rs).
  * The DCAT assembly is a Column expression over the catalog DataFrame —
  * serialization stays distributed until the HTTP edge collects.
  */
object Catalog {

  /** `/metrics` query-param filters: substring (case-insensitive), regex,
    * sensor type (reference: src/ingestors/http/crud.rs:204-257).
    */
  def filterMetrics(
      metrics: DataFrame, // from SensorOps.metricsSummary
      nameSubstring: Option[String] = None,
      nameRegex: Option[String] = None,
      sensorType: Option[String] = None): DataFrame = {
    var df = metrics
    nameSubstring.foreach(s =>
      df = df.filter(lower(col("name")).contains(s.toLowerCase)))
    nameRegex.foreach(re =>
      df = df.filter(Matchers.linearRlike(col("name"), re)))
    sensorType.flatMap(SensorType.fromString).foreach(t =>
      df = df.filter(col("type") === t.displayName))
    df
  }

  /** [[filterMetrics]] as a predicate over a summary row's name and type,
    * for summary rows already on the driver. The substring test folds the
    * name's case with Spark's own `lower` (evaluated here, no job), so
    * non-ASCII names fold exactly as in the plan; a bad regex throws here.
    */
  def metricsFilter(
      nameSubstring: Option[String] = None,
      nameRegex: Option[String] = None,
      sensorType: Option[String] = None): (String, String) => Boolean = {
    val needle = nameSubstring.map(_.toLowerCase)
    val re = nameRegex.map(graft.functions.LinearRegex.compile)
    val typeName = sensorType.flatMap(SensorType.fromString).map(_.displayName)
    (name, t) =>
      needle.forall(n => name != null && sparkLower(name).contains(n)) &&
        re.forall(r => name != null && r.find(name)) &&
        typeName.forall(_ == t)
  }

  private def sparkLower(s: String): String =
    org.apache.spark.sql.catalyst.expressions.Lower(
      org.apache.spark.sql.catalyst.expressions.Literal(s)).eval().toString

  /** Label names of catalog rows ([[graft.model.Schemas.sensors]]
    * layout), sorted, with `__name__` whenever there is a row: the
    * `/api/v1/labels` answer.
    */
  def labelNames(rows: Seq[Row]): Seq[String] =
    if (rows.isEmpty) Nil
    else (LabelMatcher.NameLabel +: rows.flatMap(r =>
      Option(r.getMap[String, String](4)).toSeq.flatMap(_.keys))).distinct.sorted

  /** Parse a `/series?selector=` value: either `{label="v",...}` (`{}`
    * matches every series) or `metric{label="v"}` — the metric name is
    * ignored for series filtering (reference:
    * src/ingestors/http/crud.rs:98-144).
    */
  def parseSelector(selector: String): Seq[LabelMatcher] =
    (if (selector.trim.startsWith("{")) SimplePromQL.parseBlock(selector, nowUs = 0L)
     else SimplePromQL.parse(selector, nowUs = 0L)).matchers
      .filter(_.key != LabelMatcher.NameLabel)

  /** Prometheus-style series id: `name{k="v",...}`
    * (reference: src/ingestors/http/crud.rs:405-414).
    */
  def prometheusId: Column = {
    val labelsStr = array_join(
      transform(map_entries(coalesce(col("labels"),
        map().cast("map<string,string>"))),
        e => concat(e.getField("key"), lit("=\""), e.getField("value"),
          lit("\""))), ",")
    when(size(map_entries(coalesce(col("labels"),
      map().cast("map<string,string>")))) === 0, col("name"))
      .otherwise(concat(col("name"), lit("{"), labelsStr, lit("}")))
  }

  /** One DCAT dataset JSON document per sensor (the `/series` catalog
    * entries; reference: src/ingestors/http/crud.rs:381-460). Keywords are
    * sensor/IoT/time-series + lowercase type + label keys; three format
    * distributions per series.
    */
  def seriesDatasets(sensors: DataFrame): DataFrame = {
    val labelsMap = coalesce(col("labels"), map().cast("map<string,string>"))
    val dist = (fmt: String, media: String, desc: String) => struct(
      lit("dcat:Distribution").as("@type"),
      concat(lit("/series/"), col("uuid"), lit(s"?format=$fmt"))
        .as("dcat:downloadURL"),
      lit(media).as("dcat:mediaType"),
      lit(desc).as("dct:format"))
    sensors.select(col("uuid"), to_json(struct(
      lit("dcat:Dataset").as("@type"),
      prometheusId.as("@id"),
      col("uuid").as("dct:identifier"),
      col("name").as("dct:title"),
      concat(lit("Sensor data from "), col("name"), lit(" ("), col("type"),
        lit(")")).as("dct:description"),
      concat(array(lit("sensor"), lit("IoT"), lit("time-series"),
        lower(col("type"))), map_keys(labelsMap)).as("dcat:keyword"),
      lit("JSON").as("dct:format"),
      lit("application/json").as("dcat:mediaType"),
      col("type").as("sensor:type"),
      col("unit").getField("name").as("sensor:unit"),
      map_entries(labelsMap).as("sensor:labels"),
      array(
        dist("senml", "application/senml+json", "SenML JSON"),
        dist("csv", "text/csv", "CSV"),
        dist("jsonl", "application/x-ndjson", "JSON Lines"))
        .as("dcat:distribution"))).as("dataset"))
  }

  /** One DCAT dataset per metric (the `/metrics` catalog entries;
    * reference: src/ingestors/http/crud.rs:259-323), beside the metric's
    * name and type, which the `/metrics` filters read.
    */
  def metricsDatasets(metrics: DataFrame): DataFrame =
    metrics.select(col("name"), col("type"), to_json(struct(
      lit("dcat:Dataset").as("@type"),
      col("name").as("@id"),
      concat(lit("metric:"), col("name")).as("dct:identifier"),
      col("name").as("dct:title"),
      concat(lit("Aggregated metric '"), col("name"), lit("' containing "),
        col("series_count"), lit(" time series with dimensions: "),
        when(size(col("label_keys")) === 0, lit("none"))
          .otherwise(array_join(col("label_keys"), ", ")))
        .as("dct:description"),
      concat(array(lit("metric"), lit("aggregated"), lit("time-series"),
        lower(col("type"))), col("label_keys")).as("dcat:keyword"),
      lit("DCAT").as("dct:format"),
      lit("application/json").as("dcat:mediaType"),
      col("type").as("sensor:type"),
      col("series_count").as("sensor:seriesCount"),
      col("label_keys").as("sensor:labelDimensions"),
      col("unit").as("sensor:unit"))).as("dataset"))

  /** Assemble the full catalog document at the edge (driver-side wrap of a
    * collected dataset column — the only non-distributed step).
    */
  def catalogDocument(
      datasets: Seq[String], id: String, title: String,
      description: String): String = {
    val ctx = """{"dcat":"http://www.w3.org/ns/dcat#",""" +
      """"dct":"http://purl.org/dc/terms/",""" +
      """"foaf":"http://xmlns.com/foaf/0.1/"}"""
    s"""{"@context":$ctx,"@type":"dcat:Catalog","@id":"$id",""" +
      s""""dct:title":"$title","dct:description":"$description",""" +
      s""""dcat:dataset":[${datasets.mkString(",")}]}"""
  }
}

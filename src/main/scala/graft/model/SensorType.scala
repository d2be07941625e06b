package graft.model

import org.apache.spark.sql.types._

/** The reference's 8 sensor value types with stable u8 discriminants
  * (reference: src/datamodel/sensor_type.rs:12-21) and their Spark
  * column types (SURVEY.md §1.2).
  */
sealed abstract class SensorType(
    val id: Int,
    val displayName: String,
    val sparkType: DataType) extends Serializable

object SensorType {
  case object Integer  extends SensorType(1, "Integer", LongType)
  case object Numeric  extends SensorType(20, "Numeric", DecimalType(38, 18))
  case object Float    extends SensorType(30, "Float", DoubleType)
  case object Str      extends SensorType(40, "String", StringType)
  case object Boolean  extends SensorType(50, "Boolean", BooleanType)
  case object Location extends SensorType(60, "Location",
    StructType(Seq(
      StructField("latitude", DoubleType), StructField("longitude", DoubleType))))
  case object Json     extends SensorType(70, "JSON", StringType)
  case object Blob     extends SensorType(80, "Blob", BinaryType)

  val all: Seq[SensorType] =
    Seq(Integer, Numeric, Float, Str, Boolean, Location, Json, Blob)

  /** Case-insensitive parse (reference: src/datamodel/sensor_type.rs:50-68). */
  def fromString(s: String): Option[SensorType] = s.toLowerCase match {
    case "integer"  => Some(Integer)
    case "numeric"  => Some(Numeric)
    case "float"    => Some(Float)
    case "string"   => Some(Str)
    case "boolean"  => Some(Boolean)
    case "location" => Some(Location)
    case "json"     => Some(Json)
    case "blob"     => Some(Blob)
    case _          => None
  }

  /** Numeric types accepted by Prometheus-compatible paths
    * (reference: src/storage/sqlite/matchers.rs:48-50).
    */
  val numericTypes: Seq[SensorType] = Seq(Integer, Numeric, Float)
}

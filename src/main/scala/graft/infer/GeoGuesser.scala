package graft.infer

import graft.infer.TypeInference.ColumnType
import graft.infer.TypeInference.ColumnType._

/** Latitude/longitude column detection for CSV import
  * (reference: src/infer/geo_guesser.rs:16-133 — dead code there, but part
  * of the documented inference surface). Scores are pinned to the
  * reference's test vectors (geo_guesser.rs:140-187): name match +100 /
  * -200; Float column all-in-range +99 / -101; Numeric +98 / -102; other
  * column types -103.
  */
object GeoGuesser {

  sealed trait GeoType
  case object Latitude extends GeoType
  case object Longitude extends GeoType

  private val prefix =
    """(gps_?(loc_?|location_?|position_?|)|geo_?(loc_?|location_?|position_?|)|position_?|pos_?|coord_?|coordinates_?|)"""
  private val LatRe = s"""(?i)^$prefix(lat|latitude)$$""".r
  private val LonRe = s"""(?i)^$prefix(lng|lon|long|longitude)$$""".r

  /** Score one column as a latitude/longitude candidate. `values` are the
    * raw sampled strings; the column type comes from the inference lattice.
    */
  def latLongGuesser(
      mode: GeoType,
      columnName: String,
      colType: ColumnType,
      values: Seq[String]): Int = {
    val re = mode match {
      case Latitude => LatRe
      case Longitude => LonRe
    }
    val nameScore = if (re.matches(columnName)) 100 else -200
    val bound = mode match {
      case Latitude => 90.0
      case Longitude => 180.0
    }
    val typeScore = colType match {
      case FloatC | IntegerC =>
        // the reference's Float branch sees integers too (its Float column
        // absorbs Integer samples); range-check the parsed doubles
        val ok = values.forall { s =>
          scala.util.Try(s.trim.toDouble).toOption
            .exists(d => d >= -bound && d <= bound)
        }
        if (ok) 99 else -101
      case NumericC =>
        val ok = values.forall { s =>
          scala.util.Try(BigDecimal(s.trim)).toOption
            .exists(d => d >= -bound && d <= bound)
        }
        if (ok) 98 else -102
      case _ => -103
    }
    nameScore + typeScore
  }

  /** Best (lat, lon) column pair: both must have a positive best score and
    * the two scores must be identical, else no automatic guess
    * (reference: src/infer/geo_guesser.rs:96-133).
    */
  def likelyGeoColumns(
      columnNames: Seq[String],
      columns: Seq[Seq[String]],
      trim: Boolean = true,
      numeric: Boolean = false): Option[(String, String)] = {
    val types = columns.map(TypeInference.inferColumnType(_, trim, numeric))
    def best(mode: GeoType): Option[(String, Int)] =
      columnNames.lazyZip(types).lazyZip(columns)
        .map((n, t, vs) => n -> latLongGuesser(mode, n, t, vs))
        .filter(_._2 > 0)
        .maxByOption(_._2)
    for {
      (lat, sLat) <- best(Latitude)
      (lon, sLon) <- best(Longitude)
      if sLat == sLon
    } yield (lat, lon)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geo math as pure `Column` expression builders — everything compiles to
  * built-in Catalyst expression trees (codegen'd, pushdown-friendly); no UDFs.
  *
  * Semantics follow the reference (`/root/reference/yat_geo_db/geometry.py`):
  *  - great-circle distance in miles, haversine with the
  *    `2R*arctan2(sqrt(a), sqrt(1-a))` form (geometry.py:7-34), R = 3958.756 mi
  *    (geometry.py:4);
  *  - lat/lng deltas from miles (geometry.py:37-75);
  *  - ellipse pre-filter (geo_manager.py:197-199) and bbox containment
  *    (geo_manager.py:201-215).
  */
object GeoFunctions {

  /** Earth radius in miles — reference geometry.py:4. */
  val EarthRadiusMiles: Double = 3958.756

  /** x*x written as multiplication, not pow(x, 2): java.lang.Math.pow and
    * the oracle's libm pow may differ in the last ulp; x*x is IEEE-exact
    * and bit-identical everywhere. */
  private def sq(c: Column): Column = c * c

  /** Great-circle distance in miles (haversine, atan2 form).
    * Reference: geometry.py:7-34 (`2R*arctan(sqrt(a)/sqrt(1-a))` == atan2).
    */
  def haversineMiles(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLng = radians(lng2 - lng1) / 2
    val a = sq(sin(dLat)) +
      cos(radians(lat1)) * cos(radians(lat2)) * sq(sin(dLng))
    lit(2 * EarthRadiusMiles) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** Degrees of longitude spanned by `miles` at latitude `lat` —
    * geometry.py:56-75. */
  def longitudeDeltaFromMiles(lat: Column, miles: Column): Column =
    miles / (lit(EarthRadiusMiles) * cos(radians(lat))) * lit(180.0 / math.Pi)

  /** Cheap bounding-ellipse membership pre-filter — geo_manager.py:197-199.
    * `((Δlat/latδ)² + (Δlng/lngδ)²) < 1`. Approximate by design (the
    * reference trades accuracy for speed; exact haversine only runs on
    * survivors for enrichment).
    */
  def ellipseContains(centerLat: Column, centerLng: Column,
                      lat: Column, lng: Column,
                      latDelta: Column, lngDelta: Column): Column =
    (sq((lat - centerLat) / latDelta) + sq((lng - centerLng) / lngDelta)) < 1

  /** Bbox containment of a point — geo_manager.py:201-215.
    * Null coordinates make the predicate null → filtered out, matching the
    * reference's exception→False behavior. */
  def bboxContains(llLat: Column, urLat: Column, llLng: Column, urLng: Column,
                   lat: Column, lng: Column): Column =
    lat.between(llLat, urLat) && lng.between(llLng, urLng)

  /** Bits per dimension of the Z-order (Morton) key. */
  val ZOrderBits = 16

  /** Z-order key of a lat/lng point: each coordinate quantized to
    * ZOrderBits levels, bits interleaved (lat odd positions, lng even).
    * Sorting the table by this key gives every file a TIGHT range in BOTH
    * dimensions — parquet min/max on plain (latitude, longitude) columns
    * then prunes radius queries in 2-D, where the lat-band layout prunes
    * only latitude. Pure integer/bit expression tree (codegen'd,
    * oracle-replicable); NULL coordinates yield a NULL key (sorted last —
    * their own file region). */
  def zorderKey(lat: Column, lng: Column): Column = {
    val max = (1 << ZOrderBits) - 1
    val qlat = least(floor((lat + 90.0) / 180.0 * max), lit(max.toLong)).cast("long")
    val qlng = least(floor((lng + 180.0) / 360.0 * max), lit(max.toLong)).cast("long")
    (0 until ZOrderBits).map { b =>
      (shiftright(qlat, b) % 2L) * (1L << (2 * b + 1)) +
        (shiftright(qlng, b) % 2L) * (1L << (2 * b))
    }.reduce(_ + _)
  }
}

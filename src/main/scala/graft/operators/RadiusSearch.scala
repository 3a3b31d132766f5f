package graft.operators

import graft.functions.GeoFunctions._
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Radius search — reference geo_manager.py:237-348.
  *
  * Semantics: resolve the probe shape, derive lat/lng deltas for the radius
  * at the probe latitude (geo_manager.py:333-334), then scan shapes:
  * aggregates match when their bbox CONTAINS the probe point, points match
  * the cheap bounding-ellipse test (radius_match dispatch,
  * geo_manager.py:184-215); exact haversine is computed only for enrichment
  * (full_results=True path, geo_manager.py:300-323), never in the filter.
  *
  * Spark shape: single-row probe broadcast → one narrow filter stage over
  * the shape scan (no shuffle); the ellipse predicate is a plain column
  * conjunction, so at scale it rides on Parquet min/max pruning when shapes
  * are written lat-band-partitioned (SURVEY.md §7.4).
  */
object RadiusSearch {

  /** Matching shapes with enrichment distance, deterministic order.
    * `filters` is the reference's conjunctive-equality filter dict
    * (radius_search(filters=...), geo_manager.py:241/279 →
    * apply_shape_filters, geo_manager.py:45-58): every (column, value)
    * must match; a NULL column rejects (get_key misses → None != value). */
  def radiusSearch(spark: SparkSession, dir: String, probeId: Long,
                   radiusMiles: Double, countryExact: Boolean,
                   filters: Seq[(String, Any)] = Nil): DataFrame = {
    val shp = GeoShapes.shapes(spark, dir)
    val probe = shp.filter(col("id") === probeId)
      .select(col("latitude").as("p_lat"), col("longitude").as("p_lng"),
        col("country").as("p_country"))
    // Loop-invariant delta: pure literal for latitude (geo_manager.py:333),
    // probe-dependent for longitude (geo_manager.py:334).
    val latD = lit(radiusMiles / EarthRadiusMiles * (180.0 / math.Pi))
    val lngD = longitudeDeltaFromMiles(col("p_lat"), lit(radiusMiles))
    val matches = when(col("is_aggregate"),
      bboxContains(col("ll_latitude"), col("ur_latitude"),
        col("ll_longitude"), col("ur_longitude"), col("p_lat"), col("p_lng")))
      .otherwise(ellipseContains(col("p_lat"), col("p_lng"),
        col("latitude"), col("longitude"), latD, lngD))
    val countryOk: Column =
      if (countryExact) col("country") === col("p_country") else lit(true)
    val filterOk = filters.map { case (k, v) => col(k) === lit(v) }
      .foldLeft(lit(true))(_ && _)
    shp.crossJoin(broadcast(probe))
      .filter(matches && countryOk && filterOk)
      .select(col("id"), col("geo_type"), col("is_aggregate"), col("country"),
        round(haversineMiles(col("p_lat"), col("p_lng"),
          col("latitude"), col("longitude")), 4).as("distance_miles"))
      .orderBy(col("id"))
  }

  /** radius_search(full_results=True) — the reference's enriched result rows
    * (geo_manager.py:300-323): each matching shape carries the
    * get_shape_pair_distance struct {distance, normalized_distance,
    * aggregate} against the PROBE shape (orig = probe, dest = match,
    * geo_manager.py:368-426). Normalization is the same area rule as
    * `pairDistances`: one aggregate side → its area, both → mean (the
    * intended semantics of the dead both-aggregate branch at
    * geo_manager.py:417-426 — unreachable in the reference because the
    * orig-aggregate branch shadows it); ANY aggregate side with area < 10
    * → raw distance (the reference's guard is per side, not on the mean).
    *
    * Same single narrow filter stage as `radiusSearch` — the enrichment is
    * three more projected expressions over the broadcast probe row, so the
    * 100 TB plan is unchanged (scan + broadcast, no extra shuffle). */
  def radiusSearchFull(spark: SparkSession, dir: String, probeId: Long,
                       radiusMiles: Double, countryExact: Boolean): DataFrame = {
    val shp = GeoShapes.shapes(spark, dir)
    val probe = shp.filter(col("id") === probeId)
      .select(col("latitude").as("p_lat"), col("longitude").as("p_lng"),
        col("country").as("p_country"), col("is_aggregate").as("p_agg"),
        col("area").as("p_area"))
    val latD = lit(radiusMiles / EarthRadiusMiles * (180.0 / math.Pi))
    val lngD = longitudeDeltaFromMiles(col("p_lat"), lit(radiusMiles))
    val matches = when(col("is_aggregate"),
      bboxContains(col("ll_latitude"), col("ur_latitude"),
        col("ll_longitude"), col("ur_longitude"), col("p_lat"), col("p_lng")))
      .otherwise(ellipseContains(col("p_lat"), col("p_lng"),
        col("latitude"), col("longitude"), latD, lngD))
    val countryOk: Column =
      if (countryExact) col("country") === col("p_country") else lit(true)
    val dist = round(haversineMiles(col("p_lat"), col("p_lng"),
      col("latitude"), col("longitude")), 4)
    val effArea = when(col("p_agg") && col("is_aggregate"),
      (col("p_area") + col("area")) / 2.0)
      .when(col("p_agg"), col("p_area"))
      .when(col("is_aggregate"), col("area"))
    // Per-side <10 guard (see pairDistances): any aggregate side with
    // area < 10 → raw distance, even when the mean clears the bar.
    val minArea = when(col("p_agg") && col("is_aggregate"),
      least(col("p_area"), col("area")))
      .when(col("p_agg"), col("p_area"))
      .when(col("is_aggregate"), col("area"))
    val norm = when(minArea.isNotNull && minArea >= 10.0,
      round(col("distance_miles") / log(greatest(effArea, lit(1.0))), 4))
      .otherwise(col("distance_miles"))
    shp.crossJoin(broadcast(probe))
      .filter(matches && countryOk)
      .withColumn("distance_miles", dist)
      .select(col("id"), col("reference_code"), col("geo_type"),
        col("is_aggregate"), col("country"), col("distance_miles"),
        norm.as("normalized_distance"),
        (col("p_agg") || col("is_aggregate")).as("aggregate_shape"))
      .orderBy(col("id"))
  }

  def radiusSearchFullOracle(probeId: Long, radiusMiles: Double, countryExact: Boolean): String = {
    val latD = s"(${radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)})"
    val lngD = OracleSql.lngDelta("p.p_lat", radiusMiles)
    val ellipse = OracleSql.ellipseContains("p.p_lat", "p.p_lng",
      "s.latitude", "s.longitude", latD, lngD)
    val country = if (countryExact) "AND s.country = p.p_country" else ""
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |probe AS (SELECT latitude AS p_lat, longitude AS p_lng, country AS p_country,
       |                 is_aggregate AS p_agg, area AS p_area
       |          FROM shapes WHERE id = $probeId),
       |m AS (SELECT s.id, s.reference_code, s.geo_type, s.is_aggregate, s.country,
       |             round(${OracleSql.haversineMiles("p.p_lat", "p.p_lng", "s.latitude", "s.longitude")}, 4) AS distance_miles,
       |             CASE WHEN p.p_agg AND s.is_aggregate THEN (p.p_area + s.area) / 2.0
       |                  WHEN p.p_agg THEN p.p_area
       |                  WHEN s.is_aggregate THEN s.area END AS eff_area,
       |             CASE WHEN p.p_agg AND s.is_aggregate THEN least(p.p_area, s.area)
       |                  WHEN p.p_agg THEN p.p_area
       |                  WHEN s.is_aggregate THEN s.area END AS min_area,
       |             (p.p_agg OR s.is_aggregate) AS aggregate_shape
       |      FROM shapes s CROSS JOIN probe p
       |      WHERE (CASE WHEN s.is_aggregate
       |                  THEN p.p_lat BETWEEN s.ll_latitude AND s.ur_latitude
       |                   AND p.p_lng BETWEEN s.ll_longitude AND s.ur_longitude
       |                  ELSE $ellipse END)
       |        $country)
       |SELECT id, reference_code, geo_type, is_aggregate, country, distance_miles,
       |       CASE WHEN min_area IS NOT NULL AND min_area >= 10.0
       |            THEN round(distance_miles / ln(greatest(eff_area, 1.0)), 4)
       |            ELSE distance_miles END AS normalized_distance,
       |       aggregate_shape
       |FROM m
       |ORDER BY id""".stripMargin
  }

  /** radius_lat_lng_search (geo_manager.py:350-366): probe is a raw lat/lng
    * point (no shape resolve), aggregates are EXCLUDED, matches use the
    * ellipse test only. Pure narrow filter over the scan — with lat-band
    * layout (GeoIngest.materialize) the literal deltas prune files. */
  def radiusLatLngSearch(spark: SparkSession, dir: String, lat: Double,
                         lng: Double, radiusMiles: Double): DataFrame = {
    val latD = radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)
    val lngD = radiusMiles / (EarthRadiusMiles * math.cos(math.toRadians(lat))) * (180.0 / math.Pi)
    GeoShapes.shapes(spark, dir)
      .filter(!col("is_aggregate") &&
        ellipseContains(lit(lat), lit(lng), col("latitude"), col("longitude"),
          lit(latD), lit(lngD)))
      .select(col("id"), col("reference_code"), col("latitude"), col("longitude"),
        round(haversineMiles(lit(lat), lit(lng), col("latitude"), col("longitude")), 4)
          .as("distance_miles"))
      .orderBy(col("id"))
  }

  /** The serving twin of [[radiusLatLngSearch]]: reads the LAT-BAND
    * materialized shape cache (GeoIngest.materialize — the layout every
    * SCALE.md geo row is designed around) with a literal band-range
    * partition filter derived from the probe latitude ± latD. Soundness:
    * the ellipse test implies |latitude − lat| < latD, and the reader uses
    * the WRITER's exact band function (top-clamped floor, no lower clamp —
    * GeoIngest.withLatBand), which is monotone over ALL real latitudes; so
    * the band range [bandOf(lat−latD), bandOf(lat+latD)] covers every row
    * the ellipse can accept, including out-of-range corrupt coordinates
    * that band negative or pile into the top band. Nulls band to −1 and
    * are rejected by the ellipse if scanned. Pruning can never drop a true
    * match — no valid-latitude precondition needed. The scan shows
    * PartitionFilters on lat_band (plan-spec-pinned: 16 of 33 band
    * directories at the gate probe) — file-level pruning AT PLAN TIME,
    * which the inline form cannot have because its coordinates are
    * derived expressions. Identical output; one oracle gates both. */
  def radiusLatLngSearchIndexed(spark: SparkSession, dir: String, lat: Double,
                                lng: Double, radiusMiles: Double,
                                latBands: Int = 32): DataFrame = {
    val latD = radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)
    val lngD = radiusMiles / (EarthRadiusMiles * math.cos(math.toRadians(lat))) * (180.0 / math.Pi)
    val path = graft.Materialize.ensure(spark, "graft_shapes_latband", dir, 1) {
      p => graft.sources.GeoIngest.materialize(GeoShapes.shapes(spark, dir), p, latBands)
    }
    def bandOf(l: Double): Long =
      math.min(math.floor((l + 90.0) / (180.0 / latBands)).toLong, latBands - 1L)
    val lo = bandOf(lat - latD)
    val hi = bandOf(lat + latD)
    graft.Tables.parquet(spark, path)
      .filter(col("lat_band") >= lo && col("lat_band") <= hi)
      .filter(!col("is_aggregate") &&
        ellipseContains(lit(lat), lit(lng), col("latitude"), col("longitude"),
          lit(latD), lit(lngD)))
      .select(col("id"), col("reference_code"), col("latitude"), col("longitude"),
        round(haversineMiles(lit(lat), lit(lng), col("latitude"), col("longitude")), 4)
          .as("distance_miles"))
      .orderBy(col("id"))
  }

  /** radius_search_lat_lng(full_results=True) WITHOUT a reference_code —
    * the reference's raw-point enrichment branch (geo_manager.py:305-321):
    * every result carries {distance, normalized_distance, aggregate} with
    * normalized == raw distance and `aggregate` HARD-CODED true — a
    * faithful oddity (the branch never resolves shapes, so it cannot
    * normalize; it stamps the flag unconditionally). Aggregated shapes are
    * still EXCLUDED from matching (the latlng listing filter,
    * geo_manager.py:361). */
  def radiusLatLngSearchFull(spark: SparkSession, dir: String, lat: Double,
                             lng: Double, radiusMiles: Double): DataFrame =
    radiusLatLngSearch(spark, dir, lat, lng, radiusMiles)
      .withColumn("normalized_distance", col("distance_miles"))
      .withColumn("aggregate_shape", lit(true))

  def radiusLatLngSearchFullOracle(lat: Double, lng: Double, radiusMiles: Double): String =
    s"""SELECT *, distance_miles AS normalized_distance, true AS aggregate_shape
       |FROM (${radiusLatLngSearchOracle(lat, lng, radiusMiles)})
       |ORDER BY id""".stripMargin

  def radiusLatLngSearchOracle(lat: Double, lng: Double, radiusMiles: Double): String = {
    val latD = s"(${radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)})"
    val lngD = s"(${radiusMiles / (EarthRadiusMiles * math.cos(math.toRadians(lat))) * (180.0 / math.Pi)})"
    val ellipse = OracleSql.ellipseContains(s"($lat)", s"($lng)",
      "latitude", "longitude", latD, lngD)
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id, reference_code, latitude, longitude,
       |       round(${OracleSql.haversineMiles(s"($lat)", s"($lng)", "latitude", "longitude")}, 4) AS distance_miles
       |FROM shapes
       |WHERE NOT is_aggregate AND $ellipse
       |ORDER BY id""".stripMargin
  }

  /** Z-order key per shape — the 2-D layout key behind
    * GeoIngest.materializeZOrdered: sorting the table by this key gives
    * every file a tight latitude AND longitude range, so radius queries
    * prune files in both dimensions (the lat-band layout prunes only
    * latitude). Gated for engine-parity of the key itself. */
  def zorderKeys(spark: SparkSession, dir: String): DataFrame =
    GeoShapes.shapes(spark, dir)
      .select(col("id"), col("latitude"), col("longitude"),
        zorderKey(col("latitude"), col("longitude")).as("z_key"))
      .orderBy(col("id"))

  val zorderKeysOracle: String =
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id, latitude, longitude,
       |       ${OracleSql.zorderKey("latitude", "longitude")} AS z_key
       |FROM shapes
       |ORDER BY id""".stripMargin

  /** k nearest shapes to the probe by exact haversine (top-k, planned as
    * TakeOrderedAndProject — no full sort). */
  def knn(spark: SparkSession, dir: String, probeId: Long, k: Int): DataFrame = {
    val shp = GeoShapes.shapes(spark, dir)
    val probe = shp.filter(col("id") === probeId)
      .select(col("latitude").as("p_lat"), col("longitude").as("p_lng"))
    shp.filter(col("id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("id"), col("geo_type"),
        round(haversineMiles(col("p_lat"), col("p_lng"),
          col("latitude"), col("longitude")), 4).as("distance_miles"))
      .orderBy(col("distance_miles"), col("id"))
      .limit(k)
  }

  /** Pairwise distances with the reference's area normalization —
    * get_shape_pair_distance (geo_manager.py:368-426), implementing the
    * INTENDED both-aggregates semantics ((a1+a2)/2, not the
    * statistics.mean(a, b) crash at geo_manager.py:424).
    */
  def pairDistances(spark: SparkSession, dir: String, maxId: Long): DataFrame = {
    val shp = GeoShapes.shapes(spark, dir).filter(col("id") <= maxId)
    val a = shp.select(col("id").as("id_a"), col("latitude").as("lat_a"),
      col("longitude").as("lng_a"), col("is_aggregate").as("agg_a"), col("area").as("area_a"))
    val b = shp.select(col("id").as("id_b"), col("latitude").as("lat_b"),
      col("longitude").as("lng_b"), col("is_aggregate").as("agg_b"), col("area").as("area_b"))
    val dist = round(haversineMiles(col("lat_a"), col("lng_a"), col("lat_b"), col("lng_b")), 4)
    // Effective area: one aggregate → its area; both → mean (intended
    // semantics of geo_manager.py:397-426); none → no normalization.
    val effArea = when(col("agg_a") && col("agg_b"), (col("area_a") + col("area_b")) / 2.0)
      .when(col("agg_a"), col("area_a"))
      .when(col("agg_b"), col("area_b"))
    // The <10 small-area guard is PER SIDE, not on the mean: every branch
    // of the reference (incl. the dead both-aggregate one,
    // geo_manager.py:391/403/416-421) returns the raw distance when ANY
    // aggregate side's area < 10 — so areas (2, 30) stay raw even though
    // their mean is ≥ 10. min over the aggregate sides encodes that.
    val minArea = when(col("agg_a") && col("agg_b"), least(col("area_a"), col("area_b")))
      .when(col("agg_a"), col("area_a"))
      .when(col("agg_b"), col("area_b"))
    val norm = when(minArea.isNotNull && minArea >= 10.0,
      round(col("distance_miles") / log(greatest(effArea, lit(1.0))), 4))
      .otherwise(col("distance_miles"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("distance_miles", dist)
      .withColumn("normalized_distance", norm)
      .select(col("id_a"), col("id_b"), col("distance_miles"), col("normalized_distance"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** get_shape_pair_distance against a probe list that may include MISSING
    * ids — the reference returns the sentinel {distance: 999, normalized:
    * 999, aggregate_shape: false} when EITHER shape is absent
    * (geo_manager.py:374-378), and flags aggregate_shape when either
    * present shape is an aggregate (geo_manager.py:385-426). Left joins +
    * coalesce reproduce both; a missing TARGET degrades every pair to the
    * sentinel (single nullable row, not an annihilating empty cross join).
    * Only the ≤|probeIds| matching shape rows ship to the join (pushed-down
    * isin scan filter) — no O(N) broadcast. */
  def pairDistanceSentinel(spark: SparkSession, dir: String,
                           probeIds: Seq[Long], targetId: Long): DataFrame = {
    import spark.implicits._
    val probes = probeIds.toDF("probe_id")
    val shp = GeoShapes.shapes(spark, dir)
      .select(col("id"), col("latitude"), col("longitude"), col("is_aggregate"))
    val probeShapes = shp.filter(col("id").isin(probeIds: _*))
    // Exactly one row even when the target id is absent: left join the
    // 1-row literal against the (0-or-1)-row filtered scan.
    val target = Seq(targetId).toDF("t_id")
      .join(broadcast(shp.filter(col("id") === targetId)), col("t_id") === col("id"), "left")
      .select(col("latitude").as("t_lat"), col("longitude").as("t_lng"),
        col("is_aggregate").as("t_agg"))
    val dist = round(haversineMiles(col("latitude"), col("longitude"),
      col("t_lat"), col("t_lng")), 4)
    probes.join(broadcast(probeShapes), col("probe_id") === col("id"), "left")
      .crossJoin(broadcast(target))
      .select(col("probe_id"),
        coalesce(dist, lit(999.0)).as("distance_miles"),
        (coalesce(col("is_aggregate"), lit(false)) ||
          coalesce(col("t_agg"), lit(false))).as("aggregate_shape"))
      .orderBy(col("probe_id"))
  }

  def pairDistanceSentinelOracle(probeIds: Seq[Long], targetId: Long): String = {
    val probes = probeIds.map(i => s"($i)").mkString(", ")
    val dist = OracleSql.haversineMiles("s.latitude", "s.longitude", "t.t_lat", "t.t_lng")
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |probes(probe_id) AS (VALUES $probes),
       |t AS (SELECT sh.latitude AS t_lat, sh.longitude AS t_lng, sh.is_aggregate AS t_agg
       |      FROM (VALUES ($targetId)) ti(t_id) LEFT JOIN shapes sh ON ti.t_id = sh.id)
       |SELECT p.probe_id::BIGINT AS probe_id,
       |       coalesce(round($dist, 4), 999.0) AS distance_miles,
       |       (coalesce(s.is_aggregate, false) OR coalesce(t.t_agg, false)) AS aggregate_shape
       |FROM probes p LEFT JOIN shapes s ON p.probe_id = s.id CROSS JOIN t
       |ORDER BY p.probe_id""".stripMargin
  }

  // ---------------------------------------------------------------- oracle

  def radiusSearchOracle(probeId: Long, radiusMiles: Double, countryExact: Boolean,
                         filters: Seq[(String, Any)] = Nil): String = {
    val latD = s"(${radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)})"
    val lngD = OracleSql.lngDelta("p.p_lat", radiusMiles)
    val ellipse = OracleSql.ellipseContains("p.p_lat", "p.p_lng",
      "s.latitude", "s.longitude", latD, lngD)
    val country = if (countryExact) "AND s.country = p.p_country" else ""
    val filterSql = filters.map {
      case (k, v: String) => s"AND s.$k = '${v.replace("'", "''")}'"
      case (k, v) => s"AND s.$k = $v"
    }.mkString(" ")
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |probe AS (SELECT latitude AS p_lat, longitude AS p_lng, country AS p_country
       |          FROM shapes WHERE id = $probeId)
       |SELECT s.id, s.geo_type, s.is_aggregate, s.country,
       |       round(${OracleSql.haversineMiles("p.p_lat", "p.p_lng", "s.latitude", "s.longitude")}, 4) AS distance_miles
       |FROM shapes s CROSS JOIN probe p
       |WHERE (CASE WHEN s.is_aggregate
       |            THEN p.p_lat BETWEEN s.ll_latitude AND s.ur_latitude
       |             AND p.p_lng BETWEEN s.ll_longitude AND s.ur_longitude
       |            ELSE $ellipse END)
       |  $country $filterSql
       |ORDER BY s.id""".stripMargin
  }

  /** Probe set for the batch query: every 97th POINT shape. */
  val BatchProbeMod = 97L

  /** Latitude band width (degrees) for the banded spatial join — must be
    * ≥ the latitude delta of the radius (0.362° at 25 mi) so a probe's
    * ellipse spans at most 2 adjacent bands. */
  val BatchBandDeg = 0.5

  /** BATCH radius search — the Spark-first answer to the reference's
    * one-request-at-a-time API (geo_manager.py:237-348 runs per call): a
    * whole probe TABLE resolves in one distributed plan. The naive spelling
    * is probes × shapes (BroadcastNestedLoopJoin — fine for dozens of
    * probes, O(N·P) at scale); this is the scale spelling, a BANDED
    * spatial EQUI-join: shapes key on floor(lat / band), each probe
    * explodes to the ≤2 bands its ellipse can touch, the join runs as a
    * hash join on (band, country), and the exact ellipse test filters the
    * band candidates. Work is O(N + P + candidates), shuffling on a
    * data-derived key — the standard spatial bin join, and the batch
    * geocoding shape at 100 TB. Point shapes only (the reference's
    * aggregate branch tests bbox containment of the probe, which a
    * center-keyed band cannot honor — aggregates stay on the per-probe
    * path). */
  def radiusSearchBatch(spark: SparkSession, dir: String,
                        radiusMiles: Double): DataFrame = {
    val shp = GeoShapes.shapes(spark, dir).filter(!col("is_aggregate"))
    val probes = shp.filter(pmod(col("id"), lit(BatchProbeMod)) === 0)
      .select(col("id").as("probe_id"), col("latitude").as("p_lat"),
        col("longitude").as("p_lng"), col("country").as("p_country"))
    radiusSearchBatchOver(probes, shp, radiusMiles)
  }

  /** The banded-join batch pipeline over an ARBITRARY probe table
    * (`probe_id`, `p_lat`, `p_lng`, `p_country`) — the core that
    * `radiusSearchBatch` (fixed derived probe table) runs, and
    * StreamingSpec runs per micro-batch of a probe stream.
    * `shp` is the point-shape relation (aggregates stay on the per-probe
    * path, see above). */
  def radiusSearchBatchOver(probes: DataFrame, shp: DataFrame,
                            radiusMiles: Double): DataFrame = {
    val latDv = radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)
    val probeBands = probes
      .withColumn("band", explode(sequence(
        floor((col("p_lat") - latDv) / BatchBandDeg),
        floor((col("p_lat") + latDv) / BatchBandDeg))))
    val banded = shp.withColumn("band", floor(col("latitude") / BatchBandDeg))
    val lngD = longitudeDeltaFromMiles(col("p_lat"), lit(radiusMiles))
    banded.join(probeBands,
        banded("band") === probeBands("band") &&
          col("country") === col("p_country"))
      .filter(ellipseContains(col("p_lat"), col("p_lng"),
        col("latitude"), col("longitude"), lit(latDv), lngD))
      .select(col("probe_id"), col("id"), col("geo_type"),
        round(haversineMiles(col("p_lat"), col("p_lng"),
          col("latitude"), col("longitude")), 4).as("distance_miles"))
      .orderBy(col("probe_id"), col("id"))
  }

  /** COMPLETE batch radius search — BOTH reference branches over a probe
    * TABLE (geo_manager.py:286-299: aggregate shape → probe point inside
    * the shape's bbox; point shape → inside the probe's ellipse), closing
    * the "aggregates stay on the per-probe path" carve-out of
    * [[radiusSearchBatch]]. The aggregate branch bands each shape on its
    * BBOX LATITUDE SPAN (an ingest-side explode, bounded by bbox height /
    * band width) and joins the probe's single band — a probe inside the
    * bbox necessarily lies in one of the shape's exploded bands — so both
    * branches are hash equi-joins on (band, country). The branches
    * partition the corpus (`is_aggregate`), so plain UNION ALL, no dedup.
    * OperatorParitySpec pins probe-by-probe equality with the per-probe
    * path over the FULL shape domain. */
  def radiusSearchBatchAll(spark: SparkSession, dir: String,
                           radiusMiles: Double): DataFrame = {
    val all = GeoShapes.shapes(spark, dir)
    val probes = all.filter(!col("is_aggregate"))
      .filter(pmod(col("id"), lit(BatchProbeMod)) === 0)
      .select(col("id").as("probe_id"), col("latitude").as("p_lat"),
        col("longitude").as("p_lng"), col("country").as("p_country"))
    radiusSearchBatchAllOver(probes, all, radiusMiles)
  }

  /** Core of [[radiusSearchBatchAll]] over arbitrary probe + shape
    * relations. NOTE the driver corpus never places a point inside an
    * aggregate's bbox (deterministic coordinate grids do not intersect),
    * so the gate exercises the aggregate branch as agreed-empty on both
    * engines; OperatorParitySpec pins the branch's MATCHING logic on
    * crafted shapes where it bites. */
  def radiusSearchBatchAllOver(probes: DataFrame, all: DataFrame,
                               radiusMiles: Double): DataFrame = {
    val latDv = radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)
    val pts = all.filter(!col("is_aggregate"))
    val pointM = {
      val probeBands = probes.withColumn("band", explode(sequence(
        floor((col("p_lat") - latDv) / BatchBandDeg),
        floor((col("p_lat") + latDv) / BatchBandDeg))))
      val banded = pts.withColumn("band", floor(col("latitude") / BatchBandDeg))
      val lngD = longitudeDeltaFromMiles(col("p_lat"), lit(radiusMiles))
      banded.join(probeBands,
          banded("band") === probeBands("band") &&
            col("country") === col("p_country"))
        .filter(ellipseContains(col("p_lat"), col("p_lng"),
          col("latitude"), col("longitude"), lit(latDv), lngD))
    }
    val aggM = {
      val aggBanded = all.filter(col("is_aggregate"))
        .withColumn("band", explode(sequence(
          floor(col("ll_latitude") / BatchBandDeg),
          floor(col("ur_latitude") / BatchBandDeg))))
      val probeB = probes.withColumn("band", floor(col("p_lat") / BatchBandDeg))
      aggBanded.join(probeB,
          aggBanded("band") === probeB("band") &&
            col("country") === col("p_country"))
        .filter(bboxContains(col("ll_latitude"), col("ur_latitude"),
          col("ll_longitude"), col("ur_longitude"), col("p_lat"), col("p_lng")))
    }
    def proj(m: DataFrame): DataFrame =
      m.select(col("probe_id"), col("id"), col("geo_type"),
        col("is_aggregate"), col("country"),
        round(haversineMiles(col("p_lat"), col("p_lng"),
          col("latitude"), col("longitude")), 4).as("distance_miles"))
    proj(pointM).unionAll(proj(aggM))
      .orderBy(col("probe_id"), col("id"))
  }

  def radiusSearchBatchAllOracle(radiusMiles: Double): String = {
    val latD = s"(${radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)})"
    val lngD = OracleSql.lngDelta("p.p_lat", radiusMiles)
    val ellipse = OracleSql.ellipseContains("p.p_lat", "p.p_lng",
      "s.latitude", "s.longitude", latD, lngD)
    val hav = OracleSql.haversineMiles("p.p_lat", "p.p_lng", "s.latitude", "s.longitude")
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |pts AS (SELECT * FROM shapes WHERE NOT is_aggregate),
       |pr AS (SELECT id AS probe_id, latitude AS p_lat, longitude AS p_lng,
       |              country AS p_country
       |       FROM pts WHERE id % $BatchProbeMod = 0),
       |pb AS (SELECT *, unnest(generate_series(
       |                floor((p_lat - $latD) / $BatchBandDeg)::BIGINT,
       |                floor((p_lat + $latD) / $BatchBandDeg)::BIGINT)) AS band
       |       FROM pr),
       |sb AS (SELECT *, floor(latitude / $BatchBandDeg)::BIGINT AS band FROM pts),
       |ab AS (SELECT *, unnest(generate_series(
       |                floor(ll_latitude / $BatchBandDeg)::BIGINT,
       |                floor(ur_latitude / $BatchBandDeg)::BIGINT)) AS band
       |       FROM shapes WHERE is_aggregate),
       |prb AS (SELECT *, floor(p_lat / $BatchBandDeg)::BIGINT AS band FROM pr)
       |SELECT * FROM (
       |  SELECT p.probe_id, s.id, s.geo_type, s.is_aggregate, s.country,
       |         round($hav, 4) AS distance_miles
       |  FROM sb s JOIN pb p ON s.band = p.band AND s.country = p.p_country
       |  WHERE $ellipse
       |  UNION ALL
       |  SELECT p.probe_id, s.id, s.geo_type, s.is_aggregate, s.country,
       |         round($hav, 4) AS distance_miles
       |  FROM ab s JOIN prb p ON s.band = p.band AND s.country = p.p_country
       |  WHERE p.p_lat BETWEEN s.ll_latitude AND s.ur_latitude
       |    AND p.p_lng BETWEEN s.ll_longitude AND s.ur_longitude)
       |ORDER BY probe_id, id""".stripMargin
  }

  def radiusSearchBatchOracle(radiusMiles: Double): String = {
    val latD = s"(${radiusMiles / EarthRadiusMiles * (180.0 / math.Pi)})"
    val lngD = OracleSql.lngDelta("p.p_lat", radiusMiles)
    val ellipse = OracleSql.ellipseContains("p.p_lat", "p.p_lng",
      "s.latitude", "s.longitude", latD, lngD)
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |pts AS (SELECT * FROM shapes WHERE NOT is_aggregate),
       |pr AS (SELECT id AS probe_id, latitude AS p_lat, longitude AS p_lng,
       |              country AS p_country
       |       FROM pts WHERE id % $BatchProbeMod = 0),
       |pb AS (SELECT *, unnest(generate_series(
       |                floor((p_lat - $latD) / $BatchBandDeg)::BIGINT,
       |                floor((p_lat + $latD) / $BatchBandDeg)::BIGINT)) AS band
       |       FROM pr),
       |sb AS (SELECT *, floor(latitude / $BatchBandDeg)::BIGINT AS band FROM pts)
       |SELECT p.probe_id, s.id, s.geo_type,
       |       round(${OracleSql.haversineMiles("p.p_lat", "p.p_lng", "s.latitude", "s.longitude")}, 4) AS distance_miles
       |FROM sb s JOIN pb p ON s.band = p.band AND s.country = p.p_country
       |WHERE $ellipse
       |ORDER BY p.probe_id, s.id""".stripMargin
  }

  /** Batch bounded-KNN: the k nearest point shapes WITHIN the radius for
    * every probe — the banded equi-join of `radiusSearchBatch` with a
    * per-probe window rank instead of a global result list. True unbounded
    * KNN needs radius escalation (re-probe with a wider band on misses —
    * at scale, a second pass over the rare empty probes); the bounded form
    * is the common geocoding contract ("nearest within 25 miles") and
    * stays one plan. Excludes self-matches (distance 0 to the probe row
    * itself), which plain radius search keeps. */
  def knnBatch(spark: SparkSession, dir: String, radiusMiles: Double,
               k: Int): DataFrame = {
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("distance_miles"), col("id"))
    radiusSearchBatch(spark, dir, radiusMiles)
      .filter(col("id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(ranked))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("id"), col("distance_miles"))
      .orderBy(col("probe_id"), col("rank"))
  }

  def knnBatchOracle(radiusMiles: Double, k: Int): String =
    s"""SELECT probe_id, rank, id, distance_miles FROM (
       |  SELECT probe_id, id, distance_miles,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY distance_miles, id)::BIGINT AS rank
       |  FROM (${radiusSearchBatchOracle(radiusMiles)})
       |  WHERE id <> probe_id)
       |WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin

  def knnOracle(probeId: Long, k: Int): String =
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |probe AS (SELECT latitude AS p_lat, longitude AS p_lng FROM shapes WHERE id = $probeId)
       |SELECT s.id, s.geo_type,
       |       round(${OracleSql.haversineMiles("p.p_lat", "p.p_lng", "s.latitude", "s.longitude")}, 4) AS distance_miles
       |FROM shapes s CROSS JOIN probe p
       |WHERE s.id <> $probeId
       |ORDER BY distance_miles, s.id
       |LIMIT $k""".stripMargin

  def pairDistancesOracle(maxId: Long): String = {
    val dist = OracleSql.haversineMiles("a.lat_a", "a.lng_a", "b.lat_b", "b.lng_b")
    s"""WITH shapes AS (${GeoShapes.oracleCte}),
       |f AS (SELECT * FROM shapes WHERE id <= $maxId),
       |a AS (SELECT id AS id_a, latitude AS lat_a, longitude AS lng_a, is_aggregate AS agg_a, area AS area_a FROM f),
       |b AS (SELECT id AS id_b, latitude AS lat_b, longitude AS lng_b, is_aggregate AS agg_b, area AS area_b FROM f),
       |j AS (SELECT *, round($dist, 4) AS distance_miles,
       |        CASE WHEN agg_a AND agg_b THEN (area_a + area_b) / 2.0
       |             WHEN agg_a THEN area_a
       |             WHEN agg_b THEN area_b END AS eff_area,
       |        CASE WHEN agg_a AND agg_b THEN least(area_a, area_b)
       |             WHEN agg_a THEN area_a
       |             WHEN agg_b THEN area_b END AS min_area
       |      FROM a JOIN b ON a.id_a < b.id_b)
       |SELECT id_a, id_b, distance_miles,
       |       CASE WHEN min_area IS NOT NULL AND min_area >= 10.0
       |            THEN round(distance_miles / ln(greatest(eff_area, 1.0)), 4)
       |            ELSE distance_miles END AS normalized_distance
       |FROM j
       |ORDER BY id_a, id_b""".stripMargin
  }
}

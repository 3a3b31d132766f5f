package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Record-level shape projections — the reference's ShapeManager getters
  * (geo_manager.py:61-165) re-expressed as set-oriented DataFrame
  * transforms (one pass over all shapes instead of per-key dict hops).
  *
  *  - display strings: the user_friendly/long_desc branch matrix of
  *    get_shape_display_by_ref_code (geo_manager.py:137-149) — all four
  *    parameter combinations computed as columns in a single projection;
  *  - quote location: the MetroArea-vs-other conditional projection of
  *    get_quote_location_by_id (geo_manager.py:97-116);
  *  - local time: get_shape_time_by_ref_code (geo_manager.py:151-158) for a
  *    FIXED instant (the reference uses wall-clock now(); a fixed instant is
  *    the deterministic equivalent — two instants exercise both DST phases);
  *  - batch lookup: the id → reference_code → record dict-hop chain
  *    (geo_manager.py:90-95) as a broadcast hash equi-join enrichment.
  */
object ShapeOps {

  /** All four display variants per shape — geo_manager.py:137-149:
    * user_friendly && geo_type ∈ {County, ZipCode} → long_display;
    * user_friendly && MetroArea → short_display;
    * otherwise long_desc ? long_display : short_display. */
  def displays(spark: SparkSession, dir: String): DataFrame = {
    val s = GeoShapes.shapes(spark, dir)
    def display(userFriendly: Boolean, longDesc: Boolean) =
      if (userFriendly)
        when(col("geo_type").isin("County", "ZipCode"), col("long_display"))
          .when(col("geo_type") === "MetroArea", col("short_display"))
          .otherwise(if (longDesc) col("long_display") else col("short_display"))
      else if (longDesc) col("long_display")
      else col("short_display")
    s.select(col("id"), col("geo_type"),
        display(userFriendly = true, longDesc = false).as("display_friendly"),
        display(userFriendly = true, longDesc = true).as("display_friendly_long"),
        display(userFriendly = false, longDesc = true).as("display_long"),
        display(userFriendly = false, longDesc = false).as("display_short"))
      .orderBy(col("id"))
  }

  val displaysOracle: String = {
    val friendlyBase =
      """CASE WHEN geo_type IN ('County', 'ZipCode') THEN long_display
        |            WHEN geo_type = 'MetroArea' THEN short_display
        |            ELSE %s END""".stripMargin
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id, geo_type,
       |       ${friendlyBase.format("short_display")} AS display_friendly,
       |       ${friendlyBase.format("long_display")} AS display_friendly_long,
       |       long_display AS display_long,
       |       short_display AS display_short
       |FROM shapes ORDER BY id""".stripMargin
  }

  /** Quote-location projection — geo_manager.py:97-116. MetroArea records
    * fill the metro-shaped columns (namesake city, metro name, size rank),
    * everything else the plain columns; the unused branch is NULL, matching
    * the reference returning differently-shaped dicts per branch. */
  def quoteLocations(spark: SparkSession, dir: String): DataFrame = {
    val s = GeoShapes.shapes(spark, dir)
    val isMetro = col("geo_type") === "MetroArea"
    s.select(col("id"),
        when(isMetro, lit(null).cast("string")).otherwise(col("zip_code")).as("zip_code"),
        when(isMetro, lit(null).cast("string")).otherwise(col("value")).as("city_name"),
        when(isMetro, lit(null).cast("string")).otherwise(col("state_prov")).as("state_code"),
        col("country").as("country_code"),
        when(isMetro, col("value")).as("namesake_city"),
        when(isMetro, col("long_display")).as("metro_area_name"),
        when(isMetro, col("metro_size")).as("metro_area_size_rank"))
      .orderBy(col("id"))
  }

  val quoteLocationsOracle: String =
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id,
       |       CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE zip_code END AS zip_code,
       |       CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE value END AS city_name,
       |       CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE state_prov END AS state_code,
       |       country AS country_code,
       |       CASE WHEN geo_type = 'MetroArea' THEN value END AS namesake_city,
       |       CASE WHEN geo_type = 'MetroArea' THEN long_display END AS metro_area_name,
       |       CASE WHEN geo_type = 'MetroArea' THEN metro_size END AS metro_area_size_rank
       |FROM shapes ORDER BY id""".stripMargin

  /** Fixed instants (UTC) for the local-time projection: one in northern
    * winter, one in summer — exercises both DST offsets of every zone. */
  val WinterInstant = "2026-01-15 12:00:00"
  val SummerInstant = "2026-07-15 12:00:00"

  /** Wall-clock time in each shape's primary_timezone at two fixed instants
    * — geo_manager.py:151-158; NULL tz → the naive UTC instant itself
    * (the reference falls back to naive now()). */
  def localTimes(spark: SparkSession, dir: String): DataFrame = {
    val s = GeoShapes.shapes(spark, dir)
    def localAt(instant: String) =
      date_format(convert_timezone(lit("UTC"),
        coalesce(col("primary_timezone"), lit("UTC")),
        to_timestamp_ntz(lit(instant))), "yyyy-MM-dd HH:mm:ss")
    s.select(col("id"), col("primary_timezone"),
        localAt(WinterInstant).as("local_winter"),
        localAt(SummerInstant).as("local_summer"))
      .orderBy(col("id"))
  }

  /** The LIVE face of [[localTimes]] — the reference's actual call shape
    * (geo_manager.py:151-158 returns datetime.now() shifted into the
    * shape's timezone): the same projection at the CURRENT instant.
    * `localtimestamp()` (UTC wall clock under the repo-wide UTC session)
    * is resolved ONCE per query by Catalyst's ComputeCurrentTime rule, so
    * every row sees the same now — exactly like the reference's single
    * now() call — and `as_of_utc` carries that instant so a caller (and
    * the spec) can verify the offsets without racing the clock. Not
    * SQL-oracleable (the instant moves between the two engines' runs);
    * FunctionsSpec pins it instead: an exact java.time recompute from
    * as_of_utc per zone, plus offset agreement with the fixed-instant
    * gate rows for DST-free zones. */
  def localTimesNow(spark: SparkSession, dir: String): DataFrame = {
    val s = GeoShapes.shapes(spark, dir)
    val local = convert_timezone(lit("UTC"),
      coalesce(col("primary_timezone"), lit("UTC")), localtimestamp())
    s.select(col("id"), col("primary_timezone"),
        date_format(localtimestamp(), "yyyy-MM-dd HH:mm:ss").as("as_of_utc"),
        date_format(local, "yyyy-MM-dd HH:mm:ss").as("local_now"))
      .orderBy(col("id"))
  }

  val localTimesOracle: String = {
    def localAt(instant: String) =
      s"strftime(timezone(coalesce(primary_timezone, 'UTC'), TIMESTAMPTZ '$instant+00'), '%Y-%m-%d %H:%M:%S')"
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id, primary_timezone,
       |       ${localAt(WinterInstant)} AS local_winter,
       |       ${localAt(SummerInstant)} AS local_summer
       |FROM shapes ORDER BY id""".stripMargin
  }

  /** Batch point lookup: enrich supplier rows with their shape record via
    * the surrogate key — the reference's per-id dict hops
    * (id_reference_code_map[id] → geo_shape_dict[ref], geo_manager.py:90-95)
    * become ONE broadcast hash join (shapes side broadcast: it is the
    * small dimension in the enrichment direction that matters at scale). */
  def batchLookup(spark: SparkSession, dir: String): DataFrame = {
    val s = GeoShapes.shapes(spark, dir)
      .select(col("id"), col("reference_code"), col("short_display"),
        col("geo_type"), col("related_shape_id"))
    val sup = graft.Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"))
    sup.join(broadcast(s), sup("s_suppkey") === s("id"), "left")
      .select(col("s_suppkey"), col("s_name"), col("reference_code"),
        col("short_display"), col("geo_type"), col("related_shape_id"))
      .orderBy(col("s_suppkey"))
  }

  val batchLookupOracle: String =
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT s_suppkey, s_name, sh.reference_code, sh.short_display,
       |       sh.geo_type, sh.related_shape_id
       |FROM supplier LEFT JOIN shapes sh ON s_suppkey = sh.id
       |ORDER BY s_suppkey""".stripMargin

  /** The related_shape_id link (README.md:104 — e.g. city ↔ metro) as a
    * self-join enrichment: each shape with its related shape's record.
    * SURVEY §1.3: a 1-edge graph is a plain self-join, not GraphX. */
  def relatedShapes(spark: SparkSession, dir: String): DataFrame = {
    val s = GeoShapes.shapes(spark, dir)
    val base = s.select(col("id"), col("reference_code"), col("related_shape_id"))
    val rel = s.select(col("id").as("rel_id"),
      col("reference_code").as("related_reference_code"),
      col("geo_type").as("related_geo_type"))
    base.join(broadcast(rel), base("related_shape_id") === rel("rel_id"), "left")
      .select(col("id"), col("reference_code"), col("related_shape_id"),
        col("related_reference_code"), col("related_geo_type"))
      .orderBy(col("id"))
  }

  val relatedShapesOracle: String =
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT s.id, s.reference_code, s.related_shape_id,
       |       r.reference_code AS related_reference_code,
       |       r.geo_type AS related_geo_type
       |FROM shapes s LEFT JOIN shapes r ON s.related_shape_id = r.id
       |ORDER BY s.id""".stripMargin

  /** Conjunctive equality filters over (possibly nested) fields —
    * apply_shape_filters (geo_manager.py:45-58, utils.py:5-21). Dot-paths
    * resolve natively on Spark columns; here over the flat shape table:
    * geo_type = City AND country = US. */
  def filteredShapes(spark: SparkSession, dir: String): DataFrame = {
    val filters: Seq[(String, Any)] =
      Seq("geo_type" -> "City", "country" -> "US")
    val pred = filters.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    GeoShapes.shapes(spark, dir)
      .filter(pred)
      .select(col("id"), col("reference_code"), col("geo_type"), col("country"))
      .orderBy(col("id"))
  }

  val filteredShapesOracle: String =
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id, reference_code, geo_type, country
       |FROM shapes WHERE geo_type = 'City' AND country = 'US'
       |ORDER BY id""".stripMargin

  /** Dot-path filters over INGESTED nested structs — the reference's
    * `{"ref_data.state_prov": ..., "ref_data.country": ...}` filter dicts
    * (utils.py:15-21 get_embedded_key, geo_manager.py:45-58). The nested
    * record layout (GeoShapes.nestedShapes == GeoIngest.rawSchema shape) is
    * round-tripped through parquet so the filter exercises the real storage
    * path: Spark resolves `col("ref_data.state_prov")` natively, prunes the
    * nested schema to the two leaves read, and pushes both predicates into
    * the parquet scan (PushedFilters on nested fields). */
  def nestedFilteredShapes(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Materialize.ensure(spark, "graft_nested", dir, version = 1) { p =>
      GeoShapes.nestedShapes(spark, dir).write.mode("overwrite").parquet(p)
    }
    val filters: Seq[(String, Any)] =
      Seq("ref_data.state_prov" -> "ST6", "ref_data.country" -> "US")
    val pred = filters.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    graft.Tables.parquet(spark, path)
      .filter(pred)
      .select(col("id"), col("reference_code"), col("geo_type"),
        col("ref_data.state_prov").as("state_prov"),
        col("ref_data.zip_code").as("zip_code"))
      .orderBy(col("id"))
  }

  val nestedFilteredShapesOracle: String =
    s"""WITH shapes AS (${GeoShapes.oracleCte})
       |SELECT id, reference_code, geo_type, state_prov, zip_code
       |FROM shapes WHERE state_prov = 'ST6' AND country = 'US'
       |ORDER BY id""".stripMargin
}

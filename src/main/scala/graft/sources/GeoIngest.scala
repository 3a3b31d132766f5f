package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON→Parquet ingest for the reference's geo-shape records
  * (load_data, geo_manager.py:677-763).
  *
  * The reference stores lat/lng and the four bbox corners as STRINGS in its
  * JSON dumps and coerces to float on every load (geo_manager.py:655-659 and
  * RadiusSearchShape, geo_manager.py:172-182). Here the coercion happens
  * ONCE, at ingest (schema-on-write): the canonical Parquet table carries
  * correct types, and every downstream query skips the cast entirely.
  *
  * `.gz` inputs are transparent (Spark codec inference replaces the
  * reference's explicit gunzip path, geo_manager.py:728-745); a versioned
  * prefix directory replaces its `v/<version>/` URL scheme
  * (geo_manager.py:671-675).
  */
object GeoIngest {

  /** Raw JSON schema — exactly what the reference's dump contains
    * (README.md:81-106): numeric-looking fields as strings where the dump
    * has strings. Explicit schema: no sampling pass, no schema drift. */
  val rawSchema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("clean_value", StringType),
    StructField("id", LongType),
    StructField("area", DoubleType),
    StructField("bbox", StructType(Seq(
      StructField("ll_latitude", StringType),
      StructField("ur_latitude", StringType),
      StructField("ll_longitude", StringType),
      StructField("ur_longitude", StringType)))),
    StructField("geo_type", StringType),
    StructField("latitude", StringType),
    StructField("longitude", StringType),
    StructField("ref_data", StructType(Seq(
      StructField("city", StringType),
      StructField("country", StringType),
      StructField("zip_code", StringType),
      StructField("state_prov", StringType),
      StructField("metro", StringType),
      StructField("metro_size", LongType)))),
    StructField("population", LongType),
    StructField("is_zip_code", BooleanType),
    StructField("is_aggregate", BooleanType),
    StructField("long_display", StringType),
    StructField("short_display", StringType),
    StructField("primary_source", StringType),
    StructField("primary_source_id", LongType),
    StructField("reference_code", StringType),
    StructField("primary_timezone", StringType),
    StructField("related_shape_id", LongType),
    StructField("is_three_digit_zip_code", BooleanType)))

  /** Read a JSON dump with the explicit schema and apply the one-time type
    * coercions. Null-safe: a malformed numeric string casts to NULL (the
    * reference's `(value or 0)` guards become plain null propagation). */
  def readJson(spark: SparkSession, path: String): DataFrame =
    coerce(spark.read.schema(rawSchema).json(path))

  /** The load-time casts, factored for testability. `try_cast`: under ANSI
    * mode (Spark 4 default) a plain cast would fail the whole job on one
    * malformed record; the reference tolerates bad values per-field
    * ((x or 0) guards, SURVEY §1.2), so NULL-on-malformed is the faithful
    * semantics. */
  def coerce(raw: DataFrame): DataFrame =
    raw
      .withColumn("latitude", expr("try_cast(latitude AS DOUBLE)"))
      .withColumn("longitude", expr("try_cast(longitude AS DOUBLE)"))
      .withColumn("bbox", struct(
        expr("try_cast(bbox.ll_latitude AS DOUBLE)").as("ll_latitude"),
        expr("try_cast(bbox.ur_latitude AS DOUBLE)").as("ur_latitude"),
        expr("try_cast(bbox.ll_longitude AS DOUBLE)").as("ll_longitude"),
        expr("try_cast(bbox.ur_longitude AS DOUBLE)").as("ur_longitude")))

  /** Small-file compaction — the maintenance job every long-lived ingest
    * needs: streaming/incremental writers leave many small files, and at
    * 100 TB the file-listing + per-file open cost dominates scan time
    * long before the bytes do. One distributed pass: read, repartition to
    * the target file count, rewrite. Content-preserving by construction
    * (a pure repartition); IngestSpec pins count and content equality. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFiles: Int): Unit =
    graft.Tables.parquet(spark, inPath)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(outPath)

  /** Z-order materialization — the 2-D upgrade of the lat-band layout:
    * range-partition + sort by the Morton key so every output file covers
    * a TIGHT latitude AND longitude range; parquet min/max stats on the
    * plain lat/lng columns then prune radius queries in both dimensions.
    * The key stays in the schema (it is also the range-bucketing key a
    * cluster layout would co-locate on). IngestSpec asserts the per-file
    * tightness that makes the pruning real. */
  def materializeZOrdered(df: DataFrame, outPath: String, files: Int = 32): Unit =
    df.withColumn("z_key",
        graft.functions.GeoFunctions.zorderKey(col("latitude"), col("longitude")))
      .repartitionByRange(files, col("z_key"))
      .sortWithinPartitions(col("z_key"))
      .write.mode("overwrite")
      .parquet(outPath)

  private def withLatBand(df: DataFrame, latBands: Int): DataFrame =
    df.withColumn("lat_band",
      // NULL latitude → dedicated band -1 (NOT folded into the equator
      // band, which would poison that band's min/max pruning stats);
      // latitude 90.0 clamps into the top band instead of a 1-row
      // out-of-range band latBands.
      when(col("latitude").isNull, lit(-1L))
        .otherwise(least(floor((col("latitude") + 90.0) / (180.0 / latBands)),
          lit(latBands - 1L))))

  /** Materialize the canonical table: the read-through cache of
    * geo_manager.py:751-759 becomes a one-time columnar write. At scale,
    * repartition by a lat-band bucket so radius queries prune files via
    * Parquet min/max on latitude (SURVEY.md §7.4). */
  def materialize(df: DataFrame, outPath: String, latBands: Int = 32): Unit =
    withLatBand(df, latBands)
      .repartition(col("lat_band"))
      .write.mode("overwrite")
      .partitionBy("lat_band")
      .parquet(outPath)

  /** Incremental cache maintenance — the SOURCE-layout face of the
    * reference's `add_entity` (geo_manager.py:451-476): a new shape batch
    * lands as new files inside the existing lat-band directories (banding
    * is row-local, so append-then-read == rebuild-then-read; IngestSpec
    * pins it). Together with the posting/IVF/PQ-code appends this makes
    * the whole ingest chain an incremental pipeline; `compact` restores
    * per-band file counts after enough batches. */
  def append(df: DataFrame, outPath: String, latBands: Int = 32): Unit =
    withLatBand(df, latBands)
      .repartition(col("lat_band"))
      .write.mode("append")
      .partitionBy("lat_band")
      .parquet(outPath)
}

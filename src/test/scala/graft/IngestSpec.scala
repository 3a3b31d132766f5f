package graft

import graft.operators.NgramIndex
import graft.sources.GeoIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** JSON→Parquet ingest (load-time coercions, lat-band layout) and
  * incremental n-gram index maintenance. */
class IngestSpec extends AnyFunSuite with BeforeAndAfterAll {
  import IngestSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("ingest-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The canonical Nashville record from the reference README (:81-106),
    * with the dump's string-typed lat/lng/bbox. */
  private val nashvilleJson =
    """{"value": "Nashville, TN", "clean_value": "nashville tn", "id": 89,
      |"area": 1362.6, "bbox": {"ll_latitude": "35.9677", "ur_latitude": "36.4054",
      |"ll_longitude": "-87.0547", "ur_longitude": "-86.5155"},
      |"geo_type": "City", "latitude": "36.1622", "longitude": "-86.7744",
      |"ref_data": {"city": "Nashville", "country": "US", "zip_code": null,
      |"state_prov": "TN", "metro": null, "metro_size": null},
      |"population": 1313939, "is_zip_code": false, "is_aggregate": false,
      |"long_display": "Nashville, TN, US", "short_display": "Nashville, TN",
      |"primary_source": null, "primary_source_id": null,
      |"reference_code": "us__tn__nashville", "primary_timezone": "America/Chicago",
      |"related_shape_id": 31408, "is_three_digit_zip_code": false}""".stripMargin.replaceAll("\n", " ")

  private val badCoordJson =
    """{"value": "Broken", "clean_value": "broken", "id": 90,
      |"latitude": "not-a-number", "longitude": null,
      |"bbox": {"ll_latitude": "1.0", "ur_latitude": "x", "ll_longitude": null, "ur_longitude": "4.5"},
      |"geo_type": "City", "population": 0, "is_aggregate": false}""".stripMargin.replaceAll("\n", " ")

  test("JSON ingest applies the one-time type coercions, null-safely") {
    val dir = Files.createTempDirectory("geo_ingest").toFile
    val f = new java.io.File(dir, "shapes.json")
    Files.write(f.toPath, s"$nashvilleJson\n$badCoordJson\n".getBytes)

    val df = GeoIngest.readJson(spark, f.getAbsolutePath)
    assert(df.schema("latitude").dataType == DoubleType)
    assert(df.schema("bbox").dataType.asInstanceOf[StructType]("ll_latitude").dataType == DoubleType)

    val nash = df.filter(col("id") === 89).collect().head
    assert(nash.getAs[Double]("latitude") == 36.1622)
    assert(nash.getAs[org.apache.spark.sql.Row]("bbox").getAs[Double]("ur_longitude") == -86.5155)
    assert(nash.getAs[org.apache.spark.sql.Row]("ref_data").getAs[String]("state_prov") == "TN")
    assert(nash.getAs[String]("primary_timezone") == "America/Chicago")

    // Malformed numeric strings cast to NULL, not an exception — the
    // reference's defensive (x or {}).get tolerance (SURVEY §1.2).
    val bad = df.filter(col("id") === 90).collect().head
    assert(bad.isNullAt(bad.fieldIndex("latitude")))
    assert(bad.getAs[org.apache.spark.sql.Row]("bbox").isNullAt(1)) // ur_latitude "x"
    assert(bad.getAs[org.apache.spark.sql.Row]("bbox").getAs[Double]("ur_longitude") == 4.5)
  }

  test("materialize writes lat-band-partitioned parquet that round-trips") {
    val dir = Files.createTempDirectory("geo_mat").toFile
    val jf = new java.io.File(dir, "shapes.json")
    Files.write(jf.toPath, s"$nashvilleJson\n".getBytes)
    val out = new java.io.File(dir, "canonical").getAbsolutePath

    GeoIngest.materialize(GeoIngest.readJson(spark, jf.getAbsolutePath), out)
    val back = spark.read.parquet(out)
    assert(back.count() == 1)
    // 36.16° N → band floor((36.1622+90)/5.625) = 22 of 32
    assert(back.select(col("lat_band")).collect().head
      .getAs[Number](0).longValue == 22L)  // partition col reads back as int
    // Partition-pruned read path: filtering on the band touches one dir.
    assert(back.filter(col("lat_band") === 22L).count() == 1)
  }

  test("z-ordered layout gives every file a tight range in BOTH dimensions") {
    val out = Files.createTempDirectory("geo_zorder").toFile.getAbsolutePath
    val shapes = graft.operators.GeoShapes.shapes(spark, "/root/testdata/sf0.01")
      .select(col("id"), col("latitude"), col("longitude"))
    GeoIngest.materializeZOrdered(shapes, out, files = 16)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length > 4, s"expected a multi-file layout, got ${files.length}")
    // Per-file normalized extent in each dimension; the z-curve keeps both
    // small, which is exactly what parquet min/max pruning needs. A
    // lat-band layout bounds only latitude (lng extent ~1.0); random
    // placement bounds neither.
    val extents = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(((max(col("latitude")) - min(col("latitude"))) / 170.0).as("dlat"),
          ((max(col("longitude")) - min(col("longitude"))) / 360.0).as("dlng"))
        .collect().head
      (r.getDouble(0), r.getDouble(1))
    }
    val avgLat = extents.map(_._1).sum / extents.length
    val avgLng = extents.map(_._2).sum / extents.length
    assert(avgLat < 0.5, s"avg lat extent $avgLat")
    assert(avgLng < 0.5, s"avg lng extent $avgLng")
  }

  test("compaction collapses a many-small-files layout, content-identical") {
    val base = Files.createTempDirectory("geo_compact").toFile.getAbsolutePath
    val small = s"$base/small"; val compacted = s"$base/compacted"
    graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .repartition(50).write.parquet(small)  // the streaming-writer anti-pattern
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(small) == 50)
    GeoIngest.compact(spark, small, compacted, targetFiles = 4)
    assert(parquetFiles(compacted) == 4)
    val a = spark.read.parquet(small).orderBy("c_custkey").collect().toSeq
    val b = spark.read.parquet(compacted).orderBy("c_custkey").collect().toSeq
    assert(a == b)
  }

  test("lat-band cache append == rebuild; new batch lands inside existing band dirs") {
    val base = Files.createTempDirectory("geo_append").toFile.getAbsolutePath
    val all = graft.operators.GeoShapes.shapes(spark, "/root/testdata/sf0.001")
      .select(col("id"), col("latitude"), col("longitude"), col("country"))
    val first = all.filter(col("id") % 5 =!= 0)
    val batch = all.filter(col("id") % 5 === 0)
    GeoIngest.materialize(first, s"$base/appended")
    GeoIngest.append(batch, s"$base/appended")
    GeoIngest.materialize(all, s"$base/rebuilt")
    def rows(p: String) = spark.read.parquet(p)
      .select(col("id"), col("latitude"), col("lat_band").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq.sorted
    val a = rows(s"$base/appended")
    assert(a.nonEmpty && a == rows(s"$base/rebuilt"))
    // band-pruned reads still work over the appended layout
    val band = spark.read.parquet(s"$base/appended")
      .filter(col("lat_band") === 22).count()
    assert(band == spark.read.parquet(s"$base/rebuilt")
      .filter(col("lat_band") === 22).count())
  }

  test("version refresh lifecycle: increments extend, a re-publish invalidates downstream") {
    // The reference's versioned remote fetch (geo_manager.py:671-763,
    // settings.py:5) reduced to local semantics. "Version N+1 landed"
    // arrives one of two ways, and the cache + artifact machinery must
    // treat them differently:
    //  - INCREMENT: a new batch lands as NEW files in the landing dir
    //    (the add_entity path; filesystem move, nothing touched) —
    //    dependent artifacts keep serving and extend via append faces;
    //  - RE-PUBLISH: the dataset is replaced wholesale — every dependent
    //    artifact is stale via the Materialize staleness manifest and the
    //    next ensure() rebuilds from the new version.
    val tmp = Files.createTempDirectory("geo_refresh").toFile
    val v1Json = new java.io.File(tmp, "v1.json")
    Files.write(v1Json.toPath, s"$nashvilleJson\n".getBytes)
    val v2Line = nashvilleJson.replace("\"id\": 89", "\"id\": 9089")
      .replace("us__tn__nashville", "us__tn__nashville_v2")
    val v2Json = new java.io.File(tmp, "v2.json")
    Files.write(v2Json.toPath, s"$v2Line\n".getBytes)
    val cache = new java.io.File(tmp, "cache").getAbsolutePath
    GeoIngest.readJson(spark, v1Json.getAbsolutePath)
      .write.mode("overwrite").parquet(cache)

    // downstream artifact keyed on the cache dir, counting its builds
    var builds = 0
    def ensure(): String =
      Materialize.ensure(spark, "graft_refresh_probe", cache, version = 1) { p =>
        builds += 1
        spark.read.parquet(cache).select(col("id"))
          .write.mode("overwrite").parquet(p)
      }
    ensure(); ensure()
    assert(builds == 1, "write-once: the second ensure must serve the artifact")

    // increment: stage the v2 batch, MOVE its files in (new children only)
    val staging = new java.io.File(tmp, "staging").getAbsolutePath
    GeoIngest.readJson(spark, v2Json.getAbsolutePath)
      .write.mode("overwrite").parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        assert(f.renameTo(new java.io.File(cache, s"increment-$i.parquet")))
      }
    ensure()
    assert(builds == 1, "an increment (new files only) must not invalidate")
    Materialize.append(spark, "graft_refresh_probe", cache, version = 1) { p =>
      spark.read.parquet(cache).filter(col("id") === 9089)
        .select(col("id")).write.mode("append").parquet(p)
    }
    val afterAppend = spark.read.parquet(ensure())
      .collect().map(_.getLong(0)).toSet
    assert(builds == 1 && afterAppend == Set(89L, 9089L),
      "the appended artifact must carry both batches without a rebuild")

    // re-publish: the cache replaced wholesale (recorded children gone)
    GeoIngest.readJson(spark, v2Json.getAbsolutePath)
      .write.mode("overwrite").parquet(cache)
    val rebuilt = spark.read.parquet(ensure()).collect().map(_.getLong(0)).toSet
    assert(builds == 2, "a re-publish must invalidate and rebuild")
    assert(rebuilt == Set(9089L), "the rebuilt artifact is the new version only")
  }

  test("incremental add_entity equals full rebuild (postings are a derivation)") {
    import spark.implicits._
    val base = Seq((1L, "nashville"), (2L, "nash county")).toDF("id", "clean_value")
    val extra = Seq((3L, "nashua")).toDF("id", "clean_value")

    val incremental = addEntities(NgramIndex.postingPairs(base), extra)
    val full = NgramIndex.postingPairs(base.unionByName(extra))
    assert(incremental.except(full).count() == 0 && full.except(incremental).count() == 0)

    // Grouped shape: posting list of a shared trigram accumulates ids.
    val grouped = NgramIndex.postings(base.unionByName(extra)).filter(col("ngram") === "nas")
      .collect().head.getAs[scala.collection.Seq[Long]]("ids")
    assert(grouped == Seq(1L, 2L, 3L))
  }

  test("retention gc: superseded generations and crash debris go; servable artifacts are never touched") {
    val prevRoot = spark.conf.getOption("spark.graft.materialize.dir")
    val gcRoot = Files.createTempDirectory("graft-gc-root").toString
    spark.conf.set("spark.graft.materialize.dir", gcRoot)
    try {
      val data = Files.createTempDirectory("graft-gc-data").toString
      spark.range(10).toDF("id").write.mode("overwrite").parquet(s"$data/t.parquet")
      val kind = "graft_gcspec"
      // the CURRENT generation (v2): committed, then batch-appended so it
      // carries the full servable surface — _SUCCESS, manifest, a _BATCH_
      // replay marker, and batch-prefixed data files
      val p2 = Materialize.ensure(spark, kind, data, 2) { p =>
        spark.range(10).toDF("id").write.mode("overwrite").parquet(p)
      }
      Materialize.appendBatch(spark, kind, data, 2, "b1") { st =>
        spark.range(10L, 12L).toDF("id").write.mode("overwrite").parquet(st)
      }
      val servedBefore = spark.read.parquet(p2)
        .collect().map(_.getLong(0)).sorted.toSeq
      def plant(path: String): Unit = {
        Files.createDirectories(java.nio.file.Paths.get(path))
        Files.writeString(java.nio.file.Paths.get(path, "junk"), "x"): Unit
      }
      // CURRENT-generation staging debris must be older than the
      // in-flight-write safety margin before gc will touch it
      def backdate(path: String): Unit =
        Files.setLastModifiedTime(java.nio.file.Paths.get(path),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - Materialize.GcStagingMinAgeMs - 60000L)): Unit
      // a prior session's superseded generation + assorted crash debris +
      // a NEWER generation + a different input dir's artifact
      val v1 = Materialize.artifactPath(spark, kind, data, 1)
      val v3 = Materialize.artifactPath(spark, kind, data, 3)
      val otherData = Files.createTempDirectory("graft-gc-other").toString
      val foreign = Materialize.artifactPath(spark, kind, otherData, 2)
      Seq(v1, s"$v1.compacting", s"$p2.refreshing", s"$p2.batch_dead",
        v3, foreign).foreach(plant)
      // a FRESH current-gen staging dir reads as a possibly-live write:
      // never collected regardless of how gc is (mis)scheduled
      val fresh = s"$p2.batch_inflight"
      plant(fresh)
      Seq(s"$p2.refreshing", s"$p2.batch_dead").foreach(backdate)
      val deleted = Materialize.gc(spark, kind, data, currentVersion = 2)
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
      assert(deleted == Set(v1, s"$v1.compacting", s"$p2.refreshing",
        s"$p2.batch_dead"), s"unexpected GC set: $deleted")
      assert(Files.exists(java.nio.file.Paths.get(fresh, "junk")),
        "fresh current-generation staging must survive gc (in-flight guard)")
      // the servable surface is bit-identical: contents, replay marker,
      // manifest-fresh append still possible
      assert(spark.read.parquet(p2).collect().map(_.getLong(0)).sorted.toSeq
        == servedBefore)
      val fs = new org.apache.hadoop.fs.Path(p2)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(p2, "_BATCH_b1")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(v3, "junk")) &&
        fs.exists(new org.apache.hadoop.fs.Path(foreign, "junk")),
        "a newer generation and a foreign input tag must never be collected")
      // a folded batch's replay still no-ops after GC (marker intact)
      Materialize.appendBatch(spark, kind, data, 2, "b1") { st =>
        spark.range(100L, 200L).toDF("id").write.mode("overwrite").parquet(st)
      }
      assert(spark.read.parquet(p2).collect().map(_.getLong(0)).sorted.toSeq
        == servedBefore)
      // ensured-this-session guard: a generation THIS session ensured may
      // back live lazy plans — GC must skip it even when superseded
      val p1live = Materialize.ensure(spark, kind, data, 1) { p =>
        spark.range(3).toDF("id").write.mode("overwrite").parquet(p)
      }
      val lazyPlan = spark.read.parquet(p1live).filter(col("id") >= 1L)
      assert(Materialize.gc(spark, kind, data, currentVersion = 2).isEmpty)
      assert(lazyPlan.count() == 2L)
    } finally {
      prevRoot match {
        case Some(r) => spark.conf.set("spark.graft.materialize.dir", r)
        case None    => spark.conf.unset("spark.graft.materialize.dir")
      }
    }
  }
}

object IngestSpec {

  /** Incremental insert in relation form (the reference's `add_entity`):
    * new entities' pairs append to the pairs relation. Exact because
    * postingPairs(a union b) == postingPairs(a) union postingPairs(b) —
    * explode is row-local. */
  def addEntities(existingPairs: DataFrame, newCorpus: DataFrame, n: Int = 3): DataFrame =
    existingPairs.unionByName(NgramIndex.postingPairs(newCorpus, n))
}

package graft

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import SparkJobs.jobsOf

import scala.jdk.CollectionConverters._

/** The one parquet read path, [[Tables.parquet]]: it infers a schema once
  * per (path, mtime) key and reuses it, so a repeat read launches no Spark
  * job, while a re-published table or an appended generation is still read
  * as it is now.
  */
class ParquetReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val artDir = Files.createTempDirectory("graft-read-artifacts").toString
  private val dataDir = Files.createTempDirectory("graft-read-data").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("parquet-read-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second read of an input table or an artifact generation launches no Spark job") {
    val dir = Files.createTempDirectory(Paths.get(dataDir), "tables").toString
    spark.range(1, 201).toDF("p_partkey")
      .withColumn("p_name", concat(lit("part "), col("p_partkey")))
      .write.parquet(s"$dir/part.parquet")
    assert(jobsOf(spark)(Tables.part(spark, dir)) == 1) // first read infers
    assert(jobsOf(spark)(Tables.part(spark, dir)) == 0)
    assert(Tables.part(spark, dir).count() == 200L)

    val kind = "graft_readspec_gen"
    Materialize.ensure(spark, kind, dir, 1) { p =>
      spark.range(100).toDF("id").withColumn("sq", col("id") * col("id"))
        .repartition(3).write.mode("overwrite").parquet(p)
    }
    val gen = Materialize.servingPath(spark, kind, dir, 1)
    assert(jobsOf(spark)(Tables.parquet(spark, gen)) == 1)
    assert(jobsOf(spark)(Tables.parquet(spark, gen)) == 0)
    assert(Tables.parquet(spark, gen).agg(sum(col("sq"))).head().getLong(0) == 328350L)
  }

  test("a table re-published at the same path with a new schema is read with the new schema") {
    val dir = Files.createTempDirectory(Paths.get(dataDir), "republish").toString
    val p = s"$dir/region.parquet"
    spark.range(3).toDF("a").withColumn("b", lit("x")).write.parquet(p)
    assert(Tables.region(spark, dir).columns.toSeq == Seq("a", "b"))
    assert(Tables.region(spark, dir).columns.toSeq == Seq("a", "b"))
    spark.range(5).toDF("a").withColumn("c", col("a") * 2).withColumn("d", lit(1.5))
      .write.mode("overwrite").parquet(p)
    val again = Tables.region(spark, dir)
    assert(again.columns.toSeq == Seq("a", "c", "d"))
    assert(again.agg(sum(col("c"))).head().getLong(0) == 20L)
  }

  test("rows appended to a generation are visible on the next read") {
    val dir = Files.createTempDirectory(Paths.get(dataDir), "append").toString
    Files.writeString(Paths.get(dir, "seed.txt"), "s"): Unit
    val kind = "graft_readspec_append"
    val gen = Materialize.ensure(spark, kind, dir, 1) { p =>
      spark.range(10).toDF("id").write.mode("overwrite").parquet(p)
    }
    assert(Tables.parquet(spark, gen).count() == 10L)
    assert(Tables.parquet(spark, gen).count() == 10L)
    Materialize.appendBatch(spark, kind, dir, 1, "b1") { p =>
      spark.range(10, 25).toDF("id").write.parquet(p)
    }
    val served = Materialize.servingPath(spark, kind, dir, 1)
    assert(served == gen) // an append extends the generation in place
    assert(Tables.parquet(spark, served).count() == 25L)
    assert(Tables.parquet(spark, served).agg(max(col("id"))).head().getLong(0) == 24L)
  }

  test("a cached-schema read of the partitioned latband artifact equals an inferred read") {
    val dir = Files.createTempDirectory(Paths.get(dataDir), "shapes").toString
    spark.range(1, 1501).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id")).as("c_name"), (col("id") % 25L).as("c_nationkey"))
      .write.parquet(s"$dir/customer.parquet")
    operators.RadiusSearch.radiusLatLngSearchIndexed(spark, dir, 40.0, -100.0, 500.0)
      .collect(): Unit
    val path = Materialize.servingPath(spark, "graft_shapes_latband", dir, 1)
    val inferred = spark.read.parquet(path)
    assert(inferred.columns.contains("lat_band"))
    Tables.parquet(spark, path) // primes the cache
    var cached: org.apache.spark.sql.DataFrame = null
    assert(jobsOf(spark) { cached = Tables.parquet(spark, path) } == 0)
    assert(cached.schema == inferred.schema)
    assert(cached.columns.toSeq == inferred.columns.toSeq)
    assert(rows(cached) == rows(inferred))
    val band = rows(inferred.filter(col("lat_band") === 20))
    assert(band.nonEmpty && rows(cached.filter(col("lat_band") === 20)) == band)
  }

  test("a missing input table is refused early, naming the table and the dir") {
    val dir = Files.createTempDirectory(Paths.get(dataDir), "empty").toString
    val e = intercept[IllegalArgumentException](Tables.part(spark, dir))
    assert(e.getMessage.contains("'part'") && e.getMessage.contains(dir))
    val d = intercept[IllegalArgumentException](Tables.documents(spark, dir))
    assert(d.getMessage.contains("'documents'") && d.getMessage.contains(dir))
  }

  test("src/main reads parquet only through Tables.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val bare = """\.read\s*\.\s*parquet\s*\(""".r
    val helper = root.resolve("graft/Tables.scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .flatMap { (p: JPath) =>
        val src = Files.readString(p)
        bare.findAllMatchIn(src).map { m =>
          s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"bare spark.read.parquet outside Tables.parquet: ${offenders.mkString(", ")}")
  }
}

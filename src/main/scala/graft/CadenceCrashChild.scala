package graft

import org.apache.spark.sql.SparkSession

/** Child JVM for the cadence crash harness ([[CadenceCrashProbe]]): runs
  * one phase of the production ingest cadence over a shared on-disk
  * corpus and prints progress markers the parent uses to aim a REAL
  * SIGKILL (Process.destroyForcibly) mid-phase. Keeping the child free of
  * any planted failure hooks is the point — the library code path it
  * exercises is byte-for-byte the production one; all crash logic lives
  * in the parent's kill timing.
  *
  * args: <dataDir> <incomingDir> <artifactDir> <phase>
  *   phase "drain":    ingestCadenceStream over the incoming file source
  *                     (one file per trigger, AvailableNow), marker per
  *                     completed micro-batch, DRAINED on clean stop.
  *   phase "finalize": compaction-clock fold + dispatched overlay
  *                     refresh, FINALIZED marker on completion.
  */
object CadenceCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, incoming, artDir, phase) = args.take(4)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.materialize.dir", artDir)
      .appName(s"cadence-crash-child-$phase")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase match {
      case "drain" =>
        val schema = Tables.parquet(spark, s"$dataDir/documents.parquet").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(incoming)
        val q = graft.streaming.StreamOps.ingestCadenceStream(
          stream, dataDir, availableNow = true) { (verdict, batchId) =>
          verdict.count()
          // scalastyle:off println — the parent aims its SIGKILL by these
          println(s"GRAFT_CADENCE_BATCH_DONE $batchId")
          Console.out.flush()
        }
        q.awaitTermination()
        println("GRAFT_CADENCE_DRAINED")
      case "finalize" =>
        graft.operators.CorpusPrep.compactCadenceIfDue(spark, dataDir,
          maxPending = 0L)
        println("GRAFT_CADENCE_FOLDED")
        Console.out.flush()
        val (_, how) = graft.operators.CorpusPrep
          .compactionRefreshAuto(spark, dataDir, floorDocs = 1L)
        println(s"GRAFT_CADENCE_FINALIZED $how")
      case other => sys.error(s"unknown phase $other")
    }
    Console.out.flush()
    spark.stop()
  }
}

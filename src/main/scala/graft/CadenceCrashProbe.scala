package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Process-level crash harness for the ingest cadence (round-13 verdict
  * item 4): forks REAL child JVMs running the production cadence phases
  * over a shared on-disk corpus, SIGKILLs them (Process.destroyForcibly,
  * which is kill -9 on Linux) at marker-aimed points — mid-micro-batch
  * append, between micro-batches, and mid-overlay-refresh — then restarts
  * to completion and asserts the served overlay equals a from-scratch
  * rebuild of the full corpus. This upgrades IngestCadenceSpec's
  * planted-orphan SIMULATION of a crashed append to a demonstrated
  * recovery from a genuinely dead JVM: no shutdown hooks, no finally
  * blocks, the artifact layer's idempotence machinery
  * (Materialize.appendBatch repair, compact's partial-batch drop,
  * refreshWith's tmp-swap) is all that stands between the kill and a
  * wrong answer.
  *
  * The child ([[CadenceCrashChild]]) contains NO planted failure hooks —
  * it is the production code path verbatim; all crash logic is the
  * parent's kill timing. CadenceCrashSpec runs this at sf0.001 in CI;
  * the main runs any sf dir by hand.
  */
object CadenceCrashProbe {
  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  final case class ChildRun(exit: Int, markers: Seq[String], killFired: Boolean)

  /** Fork a CadenceCrashChild JVM; if `killAfter` is set, SIGKILL the
    * process `delayMs` after the first stdout marker starting with
    * `trigger`. Returns exit code, the markers seen, and whether the kill
    * actually fired (a too-fast child may finish first — the caller
    * reports it; convergence asserts carry the weight either way). */
  def spawn(dataDir: String, incoming: String, artDir: String, phase: String,
            killAfter: Option[(String, Long)] = None): ChildRun = {
    val cmd = (Seq("java") ++ AddOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-Xmx4g", "-cp", sys.props("java.class.path"),
      "graft.CadenceCrashChild", dataDir, incoming, artDir, phase))
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    val markers = new java.util.concurrent.CopyOnWriteArrayList[String]()
    @volatile var killFired = false
    val reader = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      try {
        var line = br.readLine()
        while (line != null) {
          if (line.startsWith("GRAFT_CADENCE_")) {
            markers.add(line)
            killAfter match {
              case Some((trigger, delayMs))
                  if line.startsWith(trigger) && !killFired =>
                killFired = true
                if (delayMs > 0) Thread.sleep(delayMs)
                proc.destroyForcibly()
              case _ => ()
            }
          }
          line = br.readLine()
        }
      } catch { case _: java.io.IOException => () }
    })
    reader.setDaemon(true)
    reader.start()
    require(proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), {
      proc.destroyForcibly(); s"cadence crash child ($phase) timed out"
    })
    reader.join(5000)
    import scala.jdk.CollectionConverters._
    ChildRun(proc.exitValue(), markers.asScala.toSeq, killFired)
  }

  /** The full crash-recover-converge scenario over `srcDir`'s documents.
    * Returns one report row per child run plus the convergence verdict. */
  def run(spark: SparkSession, srcDir: String): Seq[(String, String)] = {
    import java.nio.file.Files
    val dataDir = Files.createTempDirectory("graft-crash-data").toString
    val freshDir = Files.createTempDirectory("graft-crash-fresh").toString
    val incoming = Files.createTempDirectory("graft-crash-in").toString
    val artDir = spark.conf.get("spark.graft.materialize.dir")

    val all = Tables.parquet(spark, s"$srcDir/documents.parquet")
    all.filter(pmod(col("doc_id"), lit(10L)) < 7L)
      .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    Materialize.ensure(spark, graft.operators.CorpusPrep.docBase(spark, dataDir), dataDir,
      Tables.documents(spark, dataDir))
    graft.operators.CorpusPrep.ensureDocGlobal(spark, dataDir)
    Seq(7L, 8L, 9L).foreach { r =>
      all.filter(pmod(col("doc_id"), lit(10L)) === r)
        .coalesce(1).write.mode("append").parquet(incoming)
    }

    // each run's wall is reported beside its verdict: the *_complete walls
    // after a kill ARE the recovery costs (appendBatch repair scan + batch
    // replay; refreshWith tmp rebuild) a deployment plans restart time by
    def timed(r: => ChildRun): (ChildRun, Double) = {
      val t0 = System.nanoTime()
      val run = r
      (run, (System.nanoTime() - t0) / 1e9)
    }
    val runs = Seq(
      // mid-append: batch 1's artifact appends are in flight when SIGKILL
      // lands (aimed 1.2 s past batch 0's completion marker)
      ("drain_kill_mid_batch1",
        timed(spawn(dataDir, incoming, artDir, "drain",
          Some(("GRAFT_CADENCE_BATCH_DONE 0", 1200L))))),
      // between appends: SIGKILL the instant batch 1's replay commits,
      // i.e. at batch 2's very start
      ("drain_kill_after_batch1",
        timed(spawn(dataDir, incoming, artDir, "drain",
          Some(("GRAFT_CADENCE_BATCH_DONE 1", 0L))))),
      ("drain_complete", timed(spawn(dataDir, incoming, artDir, "drain"))),
      // mid-refresh: the fold committed, the dispatched overlay refresh's
      // tmp-build/swap is in flight when SIGKILL lands
      ("finalize_kill_mid_refresh",
        timed(spawn(dataDir, incoming, artDir, "finalize",
          Some(("GRAFT_CADENCE_FOLDED", 300L))))),
      ("finalize_complete", timed(spawn(dataDir, incoming, artDir, "finalize"))))

    // from-scratch world: the same full corpus as one bootstrap, its own
    // artifact namespace (artifactPath keys on the data dir)
    all.write.mode("overwrite").parquet(s"$freshDir/documents.parquet")
    val fresh = Tables.parquet(spark,
      graft.operators.CorpusPrep.ensureDocGlobal(spark, freshDir))
    val served = Tables.parquet(spark, graft.Materialize.servingPath(spark,
      "graft_docglobal", dataDir, graft.operators.CorpusPrep.DocGlobalVersion))
    val diff = served.unionByName(fresh).groupBy(served.columns.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") =!= 2L).count()
    val nServed = served.count()
    val nAll = all.count()

    runs.map { case (name, (r, wall)) =>
      name -> f"exit=${r.exit} killFired=${r.killFired} wall=$wall%.1fs markers=[${r.markers.mkString("; ")}]"
    } ++ Seq(
      "served_rows" -> s"$nServed (corpus $nAll)",
      "served_vs_fresh_multiset_diff" -> diff.toString,
      "converged" -> (diff == 0L && nServed == nAll).toString)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val artDir = java.nio.file.Files
      .createTempDirectory("graft-crash-art").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.materialize.dir", artDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, srcDir).foreach { case (k, v) => println(s"$k: $v") }
  }
}

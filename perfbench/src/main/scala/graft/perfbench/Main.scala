package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.immutable.ListMap
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `run.py` builds it and calls
  *
  *   graft.perfbench.Main --workload <serve|bulk_geocode|ingest_serve>
  *     --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  *
  * It generates the inputs from the seed, sets up (builds the artifacts
  * the workload serves from), runs the timed phase, checks the outputs,
  * and prints a report line and then the result line. With --trace 1 it
  * also attributes time and Spark work to layers and writes the spans
  * out. */
object Main {

  val BulkSizes = Bulk.Sizes(passes = 10, fuzzy = 50, radius = 300, ann = 100)
  /** Closed-loop clients of `serve`. Two, not one per core: with four
    * the loop is past saturation (throughput +22%, median latency +61%),
    * the extra requests only queue for the same cores, and the run-to-run
    * spread of the timings grows from 0.06-0.08 to 0.2-0.23 (five
    * interleaved seeds, 4-vCPU VM). */
  val Clients = 2
  /** Seconds of untimed serving before the timed phase of `serve`. */
  val ServeWarmupS = 3
  val IngestReaders = 3

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_s" -> "s", "latency_p75_s" -> "s", "retained_mb" -> "MB",
    "storage_ratio" -> "ratio")
  val PerLayer: Seq[(String, String)] = Seq("op_call_s" -> "s", "plan_s" -> "s",
    "exec_s" -> "s", "jobs_per_req" -> "count", "tasks_per_req" -> "count",
    "sched_wait_s" -> "s", "bytes_read_per_req" -> "B", "scan_rows_per_row_out" -> "ratio",
    "task_cpu_s" -> "s", "shuffle_mb" -> "MB", "kernel_ns.dl" -> "ns",
    "kernel_ns.trigram" -> "ns", "kernel_ns.cosine" -> "ns", "kernel_ns.polyhash" -> "ns",
    "kernel_ns.token_windows" -> "ns", "kernel_ns.sig_agree" -> "ns", "build_s" -> "s",
    "resolve_s" -> "s", "gc_s" -> "s")

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** What a workload hands back: end-to-end values and the operations
    * attempted and failed (timed operations and correctness checks). */
  final case class Result(e2e: Map[String, Double], attempted: Long, failed: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val secs = opt("seconds").toInt
    val trace = opt("trace") == "1"
    require(Seq("serve", "bulk_geocode", "ingest_serve").contains(workload),
      s"unknown workload $workload")
    val base = Paths.get(opt("root")).toAbsolutePath.resolve(".bench_build/perfbench")
    val work = base.resolve(s"run-$workload-$seed-${ProcessHandle.current().pid()}")
    Inputs.deleteTree(work)
    Files.createDirectories(work)
    val spans = Files.createDirectories(base.resolve("spans"))

    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage and task up to these caps
      // even without a UI; low caps keep retained_mb from growing with the
      // number of requests a run happened to send
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, secs, trace, work)
    val streams = if (trace) {
      val l = new StreamListener
      spark.streams.addListener(l)
      Some(l)
    } else None
    try {
      val dir = ctx.dir("input")
      Inputs.writeBase(spark, dir, seed, Inputs.Sf01)
      ctx.report("workload") = workload
      ctx.report("seed") = seed
      ctx.report("input_rows") = ListMap("part" -> Inputs.Sf01.parts,
        "customer" -> Inputs.Sf01.shapes, "documents" -> Inputs.Sf01.docs,
        "embeddings" -> Inputs.Sf01.vectors)
      ctx.report("input_bytes") = Inputs.treeBytes(Paths.get(dir))
      ctx.mark("inputs")

      val res = workload match {
        case "serve" => serve(ctx, dir, sessionS)
        case "bulk_geocode" => bulk(ctx, dir, sessionS)
        case "ingest_serve" => ingest(ctx, dir, sessionS, streams)
      }
      ctx.mark("checked")
      val errorRate = res.failed.toDouble / math.max(1L, res.attempted)
      ctx.report("error_rate") = errorRate
      ctx.report("attempted") = res.attempted
      ctx.report("failed") = res.failed
      ctx.report("end_to_end") = ListMap(EndToEnd.map { case (m, _) => m -> res.e2e(m) }: _*)

      val metrics: Seq[(String, Double, String)] =
        if (!trace) EndToEnd.map { case (m, u) => (m, res.e2e(m), u) }
        else {
          ctx.layerMetrics()
          Kernels.measure(ctx)
          ctx.layers("resolve_s") = Stats.median((0 until 50).map(_ =>
            seconds(graft.Materialize.servingPath(spark, "graft_postings", dir, 1))))
          ctx.report("per_layer") = ctx.layers
          ctx.tracer.write(spans.resolve(s"$workload-seed$seed.jsonl"))
          ctx.mark("traced")
          PerLayer.map { case (m, u) => (m, ctx.layers(m), u) }
        }
      println(Json.write(Map("report" -> ctx.report)))
      println(Json.write(ListMap("correct" -> (res.failed == 0), "attempted" -> res.attempted,
        "failed" -> res.failed, "metrics" -> ListMap(metrics.map { case (m, v, u) =>
          m -> ListMap("value" -> v, "unit" -> u) }: _*))))
    } finally {
      spark.stop()
      Inputs.deleteTree(work)
    }
  }

  /** JVM memory in use after full collections, MB: the live heap plus
    * metaspace. Taken right after the timed phase, it is what the program
    * keeps (sessions, caches, broadcasts, loaded and generated classes),
    * independent of when the collector last ran. The JIT's code cache is
    * left out: its size follows compilation timing and moved by 40 MB
    * between runs of the same seed. Every pool goes to the report. */
  def retainedMb(ctx: Ctx): Double = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    def measured(): Long = pools
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP || p.getName == "Metaspace")
      .map(_.getUsage.getUsed).sum
    // Spark's cleaner releases the broadcasts and shuffles of unreachable
    // plans only after a collection has found them, and then another
    // collection frees them: collect until the figure stops falling
    System.gc()
    val readings = scala.collection.mutable.ArrayBuffer(measured())
    while (readings.size < 2 || (readings.size < 10 &&
        readings(readings.size - 2) - readings.last > 1000000L)) {
      Thread.sleep(300)
      System.gc()
      readings += measured()
    }
    ctx.report("retained_readings_mb") = readings.map(_ / 1e6)
    ctx.report("retained_pools_mb") = ListMap(pools.map(p => p.getName -> p.getUsage.getUsed / 1e6): _*)
    readings.last / 1e6
  }

  /** Artifact bytes on disk per input byte. */
  private def storageRatio(ctx: Ctx, inputBytes: Long): Double =
    Inputs.treeBytes(ctx.work.resolve("warehouse/graft_artifacts")).toDouble / inputBytes

  /** Runs the set-up builds once, cold; returns setup_s (session start plus
    * the builds) and records each build's time. */
  private def setup(ctx: Ctx, sessionS: Double, builds: Seq[(String, () => Any)]): Double = {
    val times = builds.map { case (a, build) => a -> seconds(build()) }
    times.foreach { case (a, t) => ctx.layers(s"build_s.$a") = t }
    ctx.layers("build_s") = times.map(_._2).sum
    ctx.mark("setup")
    ctx.report("session_start_s") = sessionS
    sessionS + times.map(_._2).sum
  }

  private def servingBuilds(ctx: Ctx, dir: String): Seq[(String, () => Any)] = {
    val spark = ctx.spark
    import graft.operators._
    Seq(
      "postings" -> (() => FuzzySearch.ensurePostingsIndex(spark, dir, FuzzySearch.corpus(spark, dir))),
      "shapes_latband" -> (() => RadiusSearch.radiusLatLngSearchIndexed(spark, dir, 0.0, 0.0, 25.0)))
  }

  /** Reply latency at the 50th and 75th percentiles, each taken per family
    * and averaged with the families' shares of the mix. A plain percentile
    * of the whole mix falls between the families' latency modes and jumps
    * from run to run; the plain percentiles (and the 90th and 95th) go to
    * the report with the sample count. */
  private def latency(ctx: Ctx, fams: Seq[Family]): (Double, Double) = {
    val ok = ctx.all.filter(_.status != "failed")
    val ls = ok.map(_.latencyS)
    Seq(0.5, 0.75, 0.9, 0.95).foreach(q =>
      ctx.report(f"latency_all_p${(q * 100).round}%d_s") = Stats.quantile(ls, q))
    ctx.report("latency_mean_s") = Stats.mean(ls)
    ctx.report("latency_samples") = ls.size
    val byFam = ok.groupBy(_.family)
    val present = fams.filter(f => byFam.contains(f.name))
    val total = present.map(_.weight).sum
    def mixed(q: Double) = present.map(f =>
      f.weight / total * Stats.quantile(byFam(f.name).map(_.latencyS), q)).sum
    (mixed(0.5), mixed(0.75))
  }

  /** Collects the set-up's garbage before a timed phase, so the phase does
    * not pay for it at a moment that differs from run to run. */
  private def settle(): Unit = { System.gc(); Thread.sleep(200) }

  def serve(ctx: Ctx, dir: String, sessionS: Double): Result = {
    val spark = ctx.spark
    import graft.operators._
    val setupS = setup(ctx, sessionS, servingBuilds(ctx, dir) ++ Seq(
      "ann" -> (() => Similarity.ivf2PqRefineTopKSized(spark, dir, 0L, Serving.TopK)),
      "wordindex" -> (() => Retrieval.ensureWordIndex(spark, dir, graft.Tables.documents(spark, dir)))))
    val storage = storageRatio(ctx, Inputs.treeBytes(Paths.get(dir)))
    val fams = Serving.families(spark, dir, ctx.seed).values.toSeq.sortBy(_.name)
    // an untimed closed loop first (its own schedule), so the timed phase
    // does not pay for JIT compilation under concurrent load; the reference
    // answers are computed meanwhile, and the loop runs until they are done
    val refsF = Future(Serving.references(ctx, fams, Clients))(ExecutionContext.global)
    val warm = new Ctx(spark, ctx.seed ^ 0x3a3aL, ctx.seconds, false, ctx.work)
    val warmEnd = System.nanoTime() + ServeWarmupS * 1000000000L
    Serving.closedLoop(warm, fams, Map.empty, Clients,
      () => refsF.isCompleted && System.nanoTime() >= warmEnd)
    val refs = Await.result(refsF, Duration.Inf)
    ctx.check(warm.all.forall(_.status == "ok"))
    ctx.mark("warmup")
    settle()
    val gc0 = ctx.gcSeconds
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    Serving.closedLoop(ctx, fams, refs, Clients, () => System.nanoTime() >= deadline)
    val phase = (System.nanoTime() - t0) / 1e9
    ctx.mark("timed")
    ctx.layers("gc_s") = ctx.gcSeconds - gc0
    val retained = retainedMb(ctx)
    Serving.streamProperties(ctx, refs)
    val (p50, p75) = latency(ctx, fams)
    val ok = ctx.all.count(_.status == "ok")
    ctx.report("req_per_s") = ok / phase
    ctx.report("phase_s") = phase
    val (att, failed) = ctx.counts
    Result(Map("setup_s" -> setupS, "throughput_per_s" -> ok / phase, "latency_p50_s" -> p50,
      "latency_p75_s" -> p75, "retained_mb" -> retained, "storage_ratio" -> storage), att, failed)
  }

  def bulk(ctx: Ctx, dir: String, sessionS: Double): Result = {
    val sz = BulkSizes
    Bulk.prepare(ctx, dir, sz.copy(passes = sz.passes + 1))
    val setupS = setup(ctx, sessionS, Bulk.builds(ctx, dir))
    val storage = storageRatio(ctx, Inputs.treeBytes(Paths.get(dir)))
    // warm-up pass over its own keys (the last table set), untimed
    val warm = new Ctx(ctx.spark, ctx.seed, ctx.seconds, false, ctx.work)
    Bulk.run(warm, dir, sz, Long.MaxValue, Seq(sz.passes))
    ctx.mark("warmup")
    settle()
    val gc0 = ctx.gcSeconds
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val (rows, walls, answers) = Bulk.run(ctx, dir, sz, deadline, 0 until sz.passes)
    ctx.mark("timed")
    ctx.layers("gc_s") = ctx.gcSeconds - gc0
    val retained = retainedMb(ctx)
    if (walls.nonEmpty) Bulk.verify(ctx, dir, walls.size, answers)
    if (ctx.trace) {
      Bulk.candidates(ctx, dir)
      ctx.all.groupBy(_.family).foreach { case (st, os) =>
        ctx.layers(s"stage_wall_s.$st") = Stats.median(os.map(_.latencyS))
      }
    }
    ctx.report("passes") = walls.size
    ctx.report("rows_per_pass") = ListMap("fuzzy_batch" -> sz.fuzzy, "radius_batch" -> sz.radius,
      "ann_batch" -> sz.ann)
    ctx.report("repeat_share") = 0.0
    ctx.report("wall_s") = Stats.median(walls)
    val (att, failed) = ctx.counts
    Result(Map("setup_s" -> setupS, "throughput_per_s" -> rows / walls.sum,
      "latency_p50_s" -> Stats.median(walls), "latency_p75_s" -> Stats.quantile(walls, 0.75),
      "retained_mb" -> retained, "storage_ratio" -> storage), att, failed)
  }

  def ingest(ctx: Ctx, dir: String, sessionS: Double,
             streams: Option[StreamListener]): Result = {
    val spark = ctx.spark
    val arrivals = Ingest.prepare(ctx, dir)
    val corpus = Ingest.corpus(ctx)
    val setupS = setup(ctx, sessionS,
      ("standing" -> (() => graft.operators.CorpusPrep.bootstrapStanding(spark, corpus))) +:
        servingBuilds(ctx, dir))
    val storage = storageRatio(ctx, Inputs.treeBytes(Paths.get(dir)) +
      Inputs.treeBytes(Paths.get(corpus)))
    val all = Serving.families(spark, dir, ctx.seed)
    val readers = Seq(all("fuzzy"), all("radius").copy(weight = 0.3),
      Ingest.overlayFamily(ctx, dir, corpus))
    // the reference answers are computed during the warm-up cycle
    val refsF = Future(Serving.references(ctx, readers.take(2), Clients))(ExecutionContext.global)
    val schema = graft.Tables.documents(spark, dir).schema
    Ingest.warmup(ctx, dir, schema)
    val refs = Await.result(refsF, Duration.Inf)
    streams.foreach { l => l.batchSeconds.clear(); l.rowsPerSecond.clear() }
    ctx.mark("warmup")
    settle()
    val done = new AtomicBoolean(false)
    @volatile var cycle: Option[Ingest.Cycle] = None
    val gc0 = ctx.gcSeconds
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    // one writer cycle; the readers run until it ends, and for at least
    // --seconds
    val writer = new Thread(() => {
      graft.plans.ServingPools.claim(spark)
      try cycle = Some(Ingest.cycle(ctx, corpus, Ingest.incoming(ctx), schema, arrivals))
      catch {
        case e: Exception => System.err.println(s"[perfbench] writer cycle failed: $e")
      } finally done.set(true)
    }, "perfbench-writer")
    writer.start()
    Serving.closedLoop(ctx, readers, refs, IngestReaders,
      () => done.get && System.nanoTime() >= deadline)
    writer.join()
    val phase = (System.nanoTime() - t0) / 1e9
    ctx.mark("timed")
    ctx.layers("gc_s") = ctx.gcSeconds - gc0
    val retained = retainedMb(ctx)
    ctx.check(cycle.isDefined && Ingest.verify(ctx, dir, corpus))
    Serving.streamProperties(ctx, refs)
    val (p50, p75) = latency(ctx, readers)
    val ok = ctx.all.count(_.status == "ok")
    val docsPerS = cycle.map(c => c.docs / c.wallS).getOrElse(Double.NaN)
    ctx.report("req_per_s") = ok / phase
    ctx.report("phase_s") = phase
    ctx.report("ingest_docs_per_s") = docsPerS
    cycle.foreach { c =>
      ctx.report("wall_s") = c.wallS
      ctx.report("arrivals") = c.docs
      ctx.report("refresh_decision") = c.decision
      ctx.report("append_compact_refresh_s") = Seq(c.appendS, c.compactS, c.refreshS)
    }
    if (ctx.trace) cycle.foreach { c =>
      ctx.layers("append_s") = c.appendS
      ctx.layers("compact_s") = c.compactS
      ctx.layers("refresh_s") = c.refreshS
      ctx.layers("files_per_artifact") = c.filesPerArtifact
      ctx.groups.foreach { gl =>
        GroupListener.flush(spark, gl)
        c.groups.foreach { case (st, g) => Option(gl.groups.get(g)).foreach { n =>
          ctx.layers(s"stage_jobs.$st") = n.jobs.get.toDouble
          ctx.layers(s"task_cpu_s.$st") = n.cpuNs.get / 1e9
          ctx.layers(s"shuffle_mb.$st") = n.shuffleBytes.get / 1e6
          ctx.layers(s"spill_mb.$st") = n.spillBytes.get / 1e6
        }}
      }
      streams.foreach { l =>
        ctx.layers("microbatch_s") = Stats.median(l.batchSeconds.asScala.toSeq)
        ctx.layers("input_rows_per_s") = Stats.median(l.rowsPerSecond.asScala.toSeq)
      }
    }
    val (att, failed) = ctx.counts
    Result(Map("setup_s" -> setupS, "throughput_per_s" -> docsPerS, "latency_p50_s" -> p50,
      "latency_p75_s" -> p75, "retained_mb" -> retained, "storage_ratio" -> storage), att, failed)
  }
}

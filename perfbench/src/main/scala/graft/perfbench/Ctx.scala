package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Outcome of one timed operation (a serving request or a bulk stage call). */
final case class Outcome(req: String, family: String, key: String, startNs: Long,
                         latencyS: Double, opS: Double, planS: Double, execS: Double,
                         rowsOut: Long, status: String) // "ok" | "wrong" | "failed"

/** State one benchmark run shares across its phases. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: Path) {
  val tracer = new Tracer(trace)
  val groups: Option[GroupListener] =
    if (trace) {
      val l = new GroupListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val outcomes = new ConcurrentLinkedQueue[Outcome]()
  private val reqIds = new AtomicLong(0)

  /** Report entries beyond the result line, in insertion order. */
  val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer metrics of a traced run. */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def dir(name: String): String = work.resolve(name).toString

  private val born = System.nanoTime()
  private val timeline = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Seconds since the run started at which a phase ended (report only). */
  def mark(phase: String): Unit = {
    timeline(phase) = (System.nanoTime() - born) / 1e9
    System.err.println(f"[perfbench] $phase done at ${timeline(phase)}%.1f s")
    report("timeline_s") = timeline
  }

  /** Result rows as one comparable fingerprint (order-sensitive: every
    * served face returns a deterministic order). */
  def fingerprint(rows: Seq[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString))

  /** Runs one operation with the three timed parts the benchmark
    * separates: the operator call (artifact resolution and the work it
    * does before returning a plan), Catalyst planning, and execution. `check` gets the collected
    * rows and says whether they are correct. Exceptions count as failed. */
  def execute(family: String, key: String)(op: => DataFrame)
             (check: Array[Row] => Boolean): Outcome = {
    val req = s"$family-${reqIds.incrementAndGet()}"
    val sc = spark.sparkContext
    if (trace) sc.setJobGroup(req, family, interruptOnCancel = false)
    val root = if (trace) tracer.newId() else 0L
    val t0 = System.nanoTime()
    var t1, t2 = t0
    val out =
      try {
        val df = tracer.span(root, req, "op_call")(op)
        t1 = System.nanoTime()
        tracer.span(root, req, "plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        val rows = tracer.span(root, req, "exec")(df.collect())
        val t3 = System.nanoTime()
        Outcome(req, family, key, t0, (t3 - t0) / 1e9, (t1 - t0) / 1e9,
          (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows.length,
          if (check(rows)) "ok" else "wrong")
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $req ($key) failed: $e")
          Outcome(req, family, key, t0, (System.nanoTime() - t0) / 1e9,
            0, 0, 0, 0, "failed")
      } finally if (trace) sc.clearJobGroup()
    tracer.record(root, 0L, req, family, t0, t0 + (out.latencyS * 1e9).toLong)
    out
  }

  private val checks, checkFailures = new AtomicLong(0)
  /** Counts a correctness check made outside the timed phase. */
  def check(ok: Boolean): Boolean = {
    checks.incrementAndGet()
    if (!ok) checkFailures.incrementAndGet()
    ok
  }

  /** (attempted, failed) over the timed operations and the checks. */
  def counts: (Long, Long) =
    (all.size + checks.get, all.count(_.status != "ok") + checkFailures.get)

  /** Timed operations of the measured phase. */
  def timed(o: Outcome): Outcome = { outcomes.add(o); o }

  def all: Seq[Outcome] = outcomes.asScala.toSeq

  /** Sum of JVM garbage-collection time so far, seconds. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Per-layer metrics attributed from spans and listener counters over
    * the timed outcomes, per family and over all of them. */
  def layerMetrics(): Unit = groups.foreach { gl =>
    GroupListener.flush(spark, gl)
    val os = all.filter(_.status != "failed")
    def put(name: String, xs: Seq[Outcome]): Unit = if (xs.nonEmpty) {
      val cs = xs.flatMap(o => Option(gl.groups.get(o.req)))
      def per(f: GroupCounters => Long): Double =
        cs.map(f).sum.toDouble / xs.size
      layers(s"op_call_s$name") = Stats.median(xs.map(_.opS))
      layers(s"plan_s$name") = Stats.median(xs.map(_.planS))
      layers(s"exec_s$name") = Stats.median(xs.map(_.execS))
      layers(s"jobs_per_req$name") = per(_.jobs.get)
      layers(s"tasks_per_req$name") = per(_.tasks.get)
      layers(s"sched_wait_s$name") = per(_.schedWaitMs.get) / 1000.0
      layers(s"bytes_read_per_req$name") = per(_.bytesRead.get)
      layers(s"scan_rows_per_row_out$name") =
        cs.map(_.recordsRead.get).sum.toDouble / math.max(1L, xs.map(_.rowsOut).sum)
      layers(s"task_cpu_s$name") = per(_.cpuNs.get) / 1e9
      layers(s"shuffle_mb$name") = per(_.shuffleBytes.get) / 1e6
      layers(s"spill_mb$name") = per(_.spillBytes.get) / 1e6
    }
    put("", os)
    os.groupBy(_.family).toSeq.sortBy(_._1).foreach { case (f, xs) => put(s".$f", xs) }
  }
}

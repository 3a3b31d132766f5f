package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one request share `req`; `parent` is the
  * span that caused this one (0 for a request's root span). */
final case class Span(id: Long, parent: Long, req: String, name: String,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Disabled, it
  * records nothing and costs one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, req: String, name: String,
             startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, req, name, startNs, endNs))

  /** Times `body` as a span; records it only when enabled. */
  def span[T](parent: Long, req: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val id = if (enabled) newId() else 0L
    try body finally record(id, parent, req, name, t0, System.nanoTime())
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(Json.write(scala.collection.immutable.ListMap("id" -> s.id,
        "parent" -> s.parent, "req" -> s.req, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

/** Counters of one job group (one request, or one bulk stage call). */
final class GroupCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val recordsRead = new AtomicLong
  val bytesRead = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** Σ over the group's jobs of (first task launch − job submission), ms. */
  val schedWaitMs = new AtomicLong
}

/** Scheduler listener: attributes jobs, tasks and task metrics to the job
  * group the submitting thread set (`SparkContext.setJobGroup`). */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobLaunched = ConcurrentHashMap.newKeySet[Int]()
  val flushed = ConcurrentHashMap.newKeySet[String]()

  private def counters(g: String) = groups.computeIfAbsent(g, _ => new GroupCounters)
  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      counters(g).jobs.incrementAndGet()
      jobSubmit.put(e.jobId, e.time)
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      jobSubmit.remove(e.jobId); jobLaunched.remove(e.jobId)
      if (g.startsWith(GroupListener.FlushPrefix)) flushed.add(g)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val sub = jobSubmit.get(j)
      if (sub != null && jobLaunched.add(j))
        Option(jobGroup.get(j)).foreach(g => counters(g).schedWaitMs
          .addAndGet(math.max(0L, e.taskInfo.launchTime - sub)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counters(g)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

object GroupListener {
  val FlushPrefix = "perfbench-flush-"

  /** Events reach listeners asynchronously, in order. A marker job whose
    * end the listener has seen proves every earlier event was delivered. */
  def flush(spark: SparkSession, l: GroupListener): Unit = {
    val g = FlushPrefix + System.nanoTime()
    spark.sparkContext.setJobGroup(g, g)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (!l.flushed.contains(g) && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** Micro-batch progress of the streaming queries the run starts. */
final class StreamListener extends StreamingQueryListener {
  val batchSeconds = new ConcurrentLinkedQueue[Double]()
  val rowsPerSecond = new ConcurrentLinkedQueue[Double]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      Option(p.durationMs.get("triggerExecution")).foreach(ms =>
        batchSeconds.add(ms.longValue / 1000.0))
      rowsPerSecond.add(p.processedRowsPerSecond)
    }
  }
}

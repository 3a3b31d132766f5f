package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query runs `SPARK_GRAFT_BENCH_REPS` times
  * (default 3) and reports the per-query MEDIAN, with
  * `spark.catalog.clearCache()` + a GC between repetitions — a single
  * timing in a long-lived JVM attributes one-off JVM state (JIT, code
  * cache, GC debt) to whichever query happens to trigger it, which round 3
  * showed can inflate an innocent query 12×. The median of three absorbs
  * the first-run codegen cost and any one-off pause; write-once artifacts
  * (posting index, IVF cells) are intentionally NOT invalidated between
  * reps — the build is ingest-time work, the query pays the read.
  * Total = sum of per-query medians. */
object Bench {
  /** Lower-middle median. Even counts only arise from an explicit even
    * REPS setting — a row with a FAILED rep is excluded entirely (see
    * below), so a dead rep can no longer bias the row optimistic. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.length - 1) / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkEntry.mainSession()
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: $unknown")
    // Deterministic run order; SPARK_GRAFT_BENCH_ORDER=desc reverses it —
    // the suite-position diagnostic (a query inflated by its alphabetical
    // neighbor's JVM debt moves when the order flips; a plan cost doesn't).
    val asc = SparkEntry.queries.filter { case (k, _) => only.isEmpty || only(k) }
      .toSeq.sortBy(_._1)
    val queries =
      if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("desc")) asc.reverse
      else asc
    // Untimed warmup: parquet footers + file listing into cache (queries
    // are timed cold w.r.t. their own codegen, warm w.r.t. storage).
    Tables.names.foreach(t => Tables.table(spark, sfDir, t).count())
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = queries.map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          if (!errors.contains(name)) errors += name
          None
        }
      }
      name -> times
    }
    // A query with ANY failed rep is excluded from the timings (it is in
    // `errors`): a partial-rep median reports the optimistic survivor, and
    // a 0.0s row would read as a huge speedup to diff tooling.
    val qs = results.collect { case (k, ts) if ts.length == reps =>
      s"\"" + k + "\":" + median(ts)
    }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, ts) if ts.length == reps => median(ts) }.sum
    // Category split (round 12): `value` stays the FULL total (diff
    // tooling compatibility), but the serving/instrument halves print
    // separately — instrument rows sum their anchor pipelines by design
    // (SparkEntry.instrumentQueries), so the serving suite's budget reads
    // as serving cost.
    val inst = SparkEntry.instrumentQueries
    val servingTotal = results.collect {
      case (k, ts) if ts.length == reps && !inst(k) => median(ts) }.sum
    val instJson = results.collect { case (k, _) if inst(k) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","serving_value":$servingTotal,"instruments_value":${total - servingTotal},"instrument_queries":$instJson,"queries":$qs,"errors":$errJson,"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}

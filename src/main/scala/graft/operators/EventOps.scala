package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window operators over the `events` table (StreamingSpec runs the
  * same window expressions under readStream + withWatermark). Tumbling/sliding use Spark's
  * epoch-aligned `window()`, sessions use `session_window` (gap-merge
  * semantics: a row extends the session while ts < prev_end = prev_ts+gap).
  *
  * Timestamps are second-truncated before session/sliding math so the
  * DuckDB oracle (which keeps nanosecond precision from parquet) and Spark
  * (microsecond) agree exactly at window boundaries.
  *
  * Boundary semantics (pinned by an sf0.01 case): Spark merges sessions
  * that TOUCH — an event at exactly prev_ts + gap extends the session — so
  * the gaps-and-islands oracle breaks only on diff > gap.
  */
object EventOps {

  /** `events.ts` is INT64 TIMESTAMP(NANOS) parquet, which Spark's vectorized
    * reader rejects; sessions set `spark.sql.legacy.parquet.nanosAsLong` and
    * this helper rebuilds a proper (microsecond) timestamp column. `div` is
    * exact integer division — nanos ~1.7e18 would lose precision through a
    * double. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    if (e.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else e
  }

  /** Tumbling 1-hour windows per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val tumblingOracle: String =
    """SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
      |       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Sliding windows: 1 hour long, every 30 minutes (each event lands in
    * exactly 2 windows). */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      // value is 2dp data: averages land exactly on decimal half-
      // boundaries, where Spark's round (HALF_UP on the decimal string)
      // and DuckDB's (on the binary double) disagree. Exact decimal sum →
      // one double division gives a bit-identical UNROUNDED result on both
      // engines, so no round is applied at all.
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("n_events"), col("avg_value"))
      .orderBy(col("window_start"))

  val slidingOracle: String =
    """WITH t AS (SELECT (epoch(date_trunc('second', ts))::BIGINT // 1800) * 1800 AS b30, value FROM events),
      |w AS (SELECT b30 AS window_start, value FROM t
      |      UNION ALL
      |      SELECT b30 - 1800 AS window_start, value FROM t)
      |SELECT window_start, count(*) AS n_events,
      |       sum(value::DECIMAL(18,2))::DOUBLE / count(*)::DOUBLE AS avg_value
      |FROM w GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** Session windows per user, 10-minute gap, on second-truncated ts. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("ts2", date_trunc("second", col("ts")))
      .groupBy(session_window(col("ts2"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionsOracle: String =
    """WITH e AS (SELECT user_id, epoch(date_trunc('second', ts))::BIGINT AS es, value FROM events),
      |m AS (SELECT user_id, es, value,
      |             CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > 600
      |                    OR lag(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
      |                  THEN 1 ELSE 0 END AS brk
      |      FROM e),
      |s AS (SELECT user_id, es, value,
      |             sum(brk) OVER (PARTITION BY user_id ORDER BY es
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |      FROM m)
      |SELECT user_id, min(es) AS session_start, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  /** As-of-style enrichment: per event, the user's latest order at-or-before
    * the event time (count of prior orders + epoch of the latest one).
    * Equi-join on the user key with the time bound as a join-side range
    * predicate — Spark plans the equi part as a shuffled hash/SMJ; no
    * cartesian anywhere. */
  def asofOrders(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val o = Tables.orders(spark, dir)
    e.join(o, e("user_id") === o("o_custkey") && o("o_orderdate") <= e("ts"), "left")
      .groupBy(e("event_id"))
      .agg(count(o("o_orderkey")).as("n_prior_orders"),
        max(unix_timestamp(o("o_orderdate"))).as("last_order_epoch"))
      .orderBy(col("event_id"))
  }

  val asofOrdersOracle: String =
    """SELECT e.event_id,
      |       count(o.o_orderkey) AS n_prior_orders,
      |       max(epoch(o.o_orderdate)::BIGINT) AS last_order_epoch
      |FROM events e LEFT JOIN orders o
      |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |GROUP BY e.event_id
      |ORDER BY e.event_id""".stripMargin

  /** TRUE as-of join: for each event, the single latest order row of that
    * user at-or-before the event time (not just aggregates of them).
    * Plan: equi-join on the user key with the time bound as join-side
    * predicate, then latest-wins via WindowGroupLimit (rank pushed down as
    * a per-partition group limit — no full sort). Spark lacks a native
    * AS OF operator; this composition IS the Spark-idiomatic spelling. */
  def asofLatestOrder(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val o = Tables.orders(spark, dir)
    val joined = e.join(o, e("user_id") === o("o_custkey") && o("o_orderdate") <= e("ts"), "left")
    val w = Window.partitionBy(e("event_id"))
      .orderBy(o("o_orderdate").desc, o("o_orderkey").desc)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(e("event_id"),
        o("o_orderkey").as("asof_orderkey"),
        unix_timestamp(o("o_orderdate")).as("asof_orderdate"),
        o("o_totalprice").as("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  val asofLatestOrderOracle: String =
    """SELECT e.event_id, o.o_orderkey AS asof_orderkey,
      |       epoch(o.o_orderdate)::BIGINT AS asof_orderdate,
      |       o.o_totalprice AS asof_totalprice
      |FROM events e LEFT JOIN orders o
      |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |QUALIFY row_number() OVER (PARTITION BY e.event_id
      |                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
      |ORDER BY e.event_id""".stripMargin

  /** Scale-safe as-of spelling: UNION the two streams and propagate the
    * latest order per user with a running window max — the bucketed
    * sort-merge as-of. Identical semantics to `asofLatestOrder` (same
    * oracle gates both), different physical shape:
    *
    *  - `asofLatestOrder` equi-joins on user_id with the time bound as a
    *    join predicate, materializing |events_u| × |orders_u| intermediate
    *    rows per user before WindowGroupLimit collapses them — correct, but
    *    a hot key with 10⁴ events × 10⁴ orders creates a 10⁸-row join
    *    partition that AQE skew-split only partially saves;
    *  - this form is ONE shuffle of |events| + |orders| rows on user_id,
    *    one sort by (ts, kind), and a running `max(struct(...))` that
    *    carries the latest order forward — linear in events+orders per
    *    user, no pair blow-up, no skew cliff. The plan survives any key
    *    distribution at 100 TB.
    *
    * Ordering: kind 0 (order) sorts before kind 1 (event) at equal
    * timestamps, so an order at exactly `e.ts` is visible to that event —
    * the `o_orderdate <= e.ts` inclusive bound. The struct max picks
    * (latest o_orderdate, then highest o_orderkey), matching the join
    * form's ORDER BY o_orderdate DESC, o_orderkey DESC tiebreak. Running
    * max ignores the null structs contributed by event rows and is
    * insensitive to the relative order of same-timestamp events, so the
    * result is deterministic without a total sort key. */
  def asofLatestOrderUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val o = Tables.orders(spark, dir)
    val orderRows = o.select(col("o_custkey").as("user_id"),
      col("o_orderdate").as("ts"), lit(0).as("kind"), lit(null).cast("long").as("event_id"),
      struct(col("o_orderdate").as("d"), col("o_orderkey").as("k"),
        col("o_totalprice").as("p")).as("ord"))
    val eventRows = e.select(col("user_id"), col("ts"), lit(1).as("kind"),
      col("event_id"),
      lit(null).cast(orderRows.schema("ord").dataType).as("ord"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orderRows.unionByName(eventRows)
      .withColumn("asof", max(col("ord")).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"),
        col("asof.k").as("asof_orderkey"),
        unix_timestamp(col("asof.d")).as("asof_orderdate"),
        col("asof.p").as("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Range (interval) join: per order, activity of the SAME user in the
    * 24 hours starting at the order timestamp. Equi part (user key) drives
    * the shuffle; the range predicate evaluates join-side — never a
    * cartesian. */
  def rangeJoinActivity(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val o = Tables.orders(spark, dir)
    val lo = o("o_orderdate")
    val hi = o("o_orderdate") + expr("INTERVAL 24 HOURS")
    o.join(e, o("o_custkey") === e("user_id") && e("ts") >= lo && e("ts") < hi, "left")
      .groupBy(o("o_orderkey"))
      .agg(count(e("event_id")).as("n_events_24h"),
        round(sum(e("value")), 4).as("sum_value_24h"))
      .orderBy(col("o_orderkey"))
  }

  val rangeJoinActivityOracle: String =
    """SELECT o.o_orderkey,
      |       count(e.event_id) AS n_events_24h,
      |       round(sum(e.value), 4) AS sum_value_24h
      |FROM orders o LEFT JOIN events e
      |  ON o.o_custkey = e.user_id
      | AND e.ts >= o.o_orderdate AND e.ts < o.o_orderdate + INTERVAL 24 HOURS
      |GROUP BY o.o_orderkey
      |ORDER BY o.o_orderkey""".stripMargin

  /** Per-user event sequencing: gap to the previous event (lag) and the
    * running event count — the lead/lag + cumulative-frame window family.
    * One shuffle on user_id serves both windows (same partition spec). */
  def lagDeltas(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
    e.select(col("event_id"), col("user_id"),
        (col("es") - lag(col("es"), 1).over(w)).as("secs_since_prev"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_events"))
      .orderBy(col("event_id"))
  }

  val lagDeltasOracle: String =
    """WITH e AS (SELECT event_id, user_id, epoch(date_trunc('second', ts))::BIGINT AS es FROM events)
      |SELECT event_id, user_id,
      |       es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS secs_since_prev,
      |       count(*) OVER (PARTITION BY user_id ORDER BY es, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_events
      |FROM e ORDER BY event_id""".stripMargin

  /** Distinct-user sketch per event type: HyperLogLog++ approx distinct
    * beside the exact count. No oracle — DuckDB's approx_count_distinct is
    * a different sketch; the driver records a rows-only check (the exact
    * column is oracle-able but the row would then hash-mismatch, so the
    * whole query is registered oracle-less by design). */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Exact-count twin of [[approxDistinctUsers]]: the same per-type distinct
    * users WITHOUT the sketch column, so the family has a hash-matched
    * oracle anchor beside the intentionally rows-only sketch row. */
  def exactDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val exactDistinctUsersOracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |       count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Semi-structured extraction: numeric field `k` from the JSON props. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      // k is integral: the long sum is exact, so the unrounded division is
      // bit-identical on both engines (see sliding for the rounding trap).
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(lit(1)).cast("double")).as("avg_k"))
      .orderBy(col("event_type"))

  val jsonExtractOracle: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |       sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT))::DOUBLE / count(*)::DOUBLE AS avg_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Cohort retention: users grouped by their first-activity day; each
    * cell counts the cohort's distinct users active `day_offset` days
    * later. All-day integer arithmetic (epoch seconds div 86400 — exact on
    * both engines); two hash aggregations plus one equi-join on user_id,
    * no windows. At scale the cohort table is users-sized (≪ events) and
    * the join shuffles on the natural user key. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('day', ts)) div 86400").as("day"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(cohort, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val retentionOracle: String =
    """WITH e AS (SELECT user_id,
      |             (epoch(date_trunc('day', ts))::BIGINT // 86400)::BIGINT AS day
      |           FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT c.cohort_day, e.day - c.cohort_day AS day_offset,
      |             e.user_id
      |      FROM e JOIN c USING (user_id))
      |SELECT cohort_day, day_offset, count(*) AS n_users
      |FROM a GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Trailing-hour running sum per user — a RANGE window frame (peers
    * defined by the ORDER BY value, not row position: every event in
    * [es - 3600, es] contributes, ties included on both engines by the
    * frame definition itself). `value` is 2-decimal data, so the
    * DECIMAL(18,2) cast is exact (no rounding step) and the windowed sum
    * is order-independent; one double cast ships it. One exchange on
    * user_id + per-partition sort — the streaming-analytics "rolling
    * metric" in batch form. */
  def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("es"))
      .rangeBetween(-3600L, 0L)
    events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"), col("value"))
      .withColumn("trail_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("es"), col("trail_sum"))
      .orderBy(col("user_id"), col("es"), col("event_id"))
  }

  val rangeWindowOracle: String =
    """WITH e AS (SELECT event_id, user_id,
      |             epoch(date_trunc('second', ts))::BIGINT AS es, value
      |           FROM events)
      |SELECT event_id, user_id, es,
      |       sum(value::DECIMAL(18,2)) OVER (PARTITION BY user_id ORDER BY es
      |           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)::DOUBLE AS trail_sum
      |FROM e
      |ORDER BY user_id, es, event_id""".stripMargin

  /** OHLC downsampling: per (user, hour) bar with open/high/low/close —
    * the time-series resample that turns an event stream into fixed-rate
    * bars. Open/close are argmin/argmax by the exact integer event key
    * (min/max of struct(key, value) — map-side combinable, ties broken by
    * event_id identically on both engines); high/low are plain extrema
    * (no summation anywhere, so no float-order hazard). ONE hash
    * aggregation keyed by (user, hour). */
  def downsampleOhlc(spark: SparkSession, dir: String): DataFrame = {
    val es = unix_timestamp(col("ts"))
    val key = es * 1000000000L + col("event_id")
    events(spark, dir)
      .select(col("user_id"), (expr("unix_timestamp(ts) div 3600")).as("hour"),
        key.as("k"), col("value"))
      .groupBy(col("user_id"), col("hour"))
      .agg(min(struct(col("k"), col("value"))).as("o"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(struct(col("k"), col("value"))).as("c"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("hour"), col("o.value").as("open"),
        col("high"), col("low"), col("c.value").as("close"), col("n_events"))
      .orderBy(col("user_id"), col("hour"))
  }

  val downsampleOhlcOracle: String =
    """WITH e AS (SELECT user_id,
      |             (epoch(date_trunc('second', ts))::BIGINT // 3600)::BIGINT AS hour,
      |             epoch(date_trunc('second', ts))::BIGINT * 1000000000 + event_id AS k,
      |             value
      |           FROM events)
      |SELECT user_id, hour,
      |       min_by(value, k) AS open,
      |       max(value) AS high, min(value) AS low,
      |       max_by(value, k) AS close,
      |       count(*) AS n_events
      |FROM e GROUP BY user_id, hour
      |ORDER BY user_id, hour""".stripMargin

  /** Daily event-type matrix via PIVOT — `groupBy(day).pivot(type)` with
    * an EXPLICIT value list (an implicit list costs a distinct-scan pass
    * to discover columns and makes the schema data-dependent). Compiles to
    * one hash aggregate producing all K columns in a single pass — K times
    * cheaper than K filtered aggregations unioned. */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val day = expr("unix_timestamp(date_trunc('day', ts)) div 86400")
    val p = events(spark, dir)
      .select(day.as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p)((d, t) => d.withColumn(t, coalesce(col(t), lit(0L))))
      .select(col("day") +: types.map(t => col(t).as(s"n_$t")): _*)
      .orderBy(col("day"))
  }

  val pivotDailyOracle: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cols = types.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END)::BIGINT AS n_$t").mkString(",\n|       ")
    s"""SELECT (epoch(date_trunc('day', ts))::BIGINT // 86400)::BIGINT AS day,
       |       $cols
       |FROM events
       |GROUP BY 1
       |ORDER BY day""".stripMargin
  }

  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Ordered conversion funnel: users who did step 1, then step 2 strictly
    * after their step-1 conversion instant, then step 3 after step 2.
    * The conversion instant is the MIN of an exact integer event key
    * (epoch_second · 1e9 + event_id — a total order, so ties inside one
    * second are broken identically on both engines). Each stage is a
    * hash aggregate + equi-join on user_id (per-step min is map-side
    * combinable; no window, no self-cartesian) — K joins for a K-step
    * funnel, each shuffling only the converted-user set, which shrinks
    * monotonically down the funnel. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("user_id"), col("event_type"),
      (unix_timestamp(col("ts")) * 1000000000L + col("event_id")).as("k"))
    val stages = FunnelSteps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val base = e.filter(col("event_type") === step)
        val gated = prev match {
          case None => base
          case Some(p) => base.join(p.select(col("user_id"), col("kprev")), "user_id")
            .filter(col("k") > col("kprev"))
        }
        Some(gated.groupBy(col("user_id")).agg(min(col("k")).as("kprev")))
    }.flatten
    stages.zip(FunnelSteps).zipWithIndex.map { case ((s, name), i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step"), lit(name).as("step_type"),
          col("n_users"))
    }.reduce(_.unionAll(_)).orderBy(col("step"))
  }

  val funnelOracle: String = {
    val steps = FunnelSteps.zipWithIndex
    val ctes = steps.map { case (step, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(k) AS k1 FROM e
           |      WHERE event_type = '$step' GROUP BY user_id)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(k) AS k${i + 1} FROM e
           |      JOIN s$i USING (user_id)
           |      WHERE event_type = '$step' AND k > k$i GROUP BY e.user_id)""".stripMargin
    }.mkString(",\n")
    val selects = steps.map { case (step, i) =>
      s"SELECT ${i + 1}::BIGINT AS step, '$step' AS step_type, count(*) AS n_users FROM s${i + 1}"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT user_id, event_type,
       |             epoch(date_trunc('second', ts))::BIGINT * 1000000000 + event_id AS k
       |           FROM events),
       |$ctes
       |$selects
       |ORDER BY step""".stripMargin
  }
}

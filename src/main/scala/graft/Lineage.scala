package graft

import org.apache.spark.sql.DataFrame

/** Shared lineage-cut helper (hoisted from BpeTrainer round 15 — the
  * optimization round's fan-out medicine). A DataFrame consumed by many
  * downstream branches re-expands its WHOLE logical subtree per consumer:
  * Catalyst re-analyzes a multiplicatively growing tree (the
  * dedup_transitive lesson; corpus_overlay_delta's pre-cut plan printed
  * 27k lines / 1.8k Exchange references) and the executed plan re-computes
  * the subtree per reference. Cutting at the fan-out point materializes the
  * rows once (executor block storage) and every consumer reads the
  * materialized leaf.
  *
  * Only SMALL relations should be cut — batch-bounded, vocabulary-sized, or
  * affected-set-sized; never a corpus-sized input (at 100 TB that copy is a
  * full rewrite; callers cut the decision rows, not the payload — the
  * optimization guide's "shuffle keys, not payloads" rule applied to
  * caching).
  *
  * `localCheckpoint` (executor block storage) by default — cheapest, and
  * correct wherever executors are stable. Set
  * `spark.graft.reliableCheckpoint=true` (with
  * `sparkContext.setCheckpointDir` pointed at durable storage) to switch
  * every cut to reliable `.checkpoint()`, so a preempted executor cannot
  * kill a long run by taking the only copy with it. Plan shape downstream
  * is identical either way (both are materialized leaves). */
object Lineage {
  /** Pre-cut plan strings recorded when `spark.graft.lineage.capturePlans`
    * is true — the plan-pin escape hatch: a cut replaces its subtree with
    * an opaque RDD leaf in every DOWNSTREAM plan, so a spec that pins
    * "this computation reads artifact X, never raw text" must assert over
    * the final plan PLUS these captured cut-point plans (PlanShapeSpec's
    * delta-overlay pin). Off by default: production pays nothing. */
  private[graft] val capturedPlans =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[graft] def cut(df: DataFrame): DataFrame = {
    if (df.sparkSession.conf.getOption("spark.graft.lineage.capturePlans")
          .contains("true"))
      // physical plan: its scan nodes print the artifact file locations
      // the pin asserts on (logical Relation nodes print no path)
      capturedPlans.add(df.queryExecution.sparkPlan.toString)
    if (df.sparkSession.conf.getOption("spark.graft.reliableCheckpoint")
          .contains("true")) df.checkpoint(true)
    // EAGER (measured r16): lazy localCheckpoint was tried and lost —
    // under AQE, `.rdd` materializes every shuffle stage at construction
    // anyway, and the unmaterialized final stage is then race-recomputed
    // by concurrent consumers inside the first job (probe: op-cut phase
    // 2.9 s eager vs 4.3 s lazy).
    else df.localCheckpoint(true)
  }

  /** [[cut]] several INDEPENDENT relations concurrently: each eager
    * localCheckpoint is its own job, and when the inputs share no
    * dependency their materializations overlap instead of summing (r16,
    * guide §5 — the ingest-chain argument applied to fan-in inputs; the
    * overlay anchor's four inline inputs are the motivating case:
    * sequential cuts 0.35+0.44+0.91+2.11 s, concurrent ≈ the longest).
    * Results keep input order. Same small-relation-only rule as [[cut]].
    * A failed cut is rethrown only after every other cut has finished, so
    * no job of the call is still running when the caller sees the error. */
  private[graft] def cutAll(dfs: DataFrame*): Seq[DataFrame] = {
    if (dfs.lengthCompare(2) < 0) dfs.map(cut)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fs = dfs.map(df => Future(cut(df))(cutPool))
      fs.foreach(Await.ready(_, Duration.Inf))
      fs.map(Await.result(_, Duration.Inf))
    }
  }

  private lazy val cutPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-lineage-cut")
          t.setDaemon(true)
          t
        }))

  /** The LAZY sibling: `persist(MEMORY_AND_DISK)`. Downstream consumers
    * share one computation via the cache, but the logical subtree stays in
    * the plan (CacheManager swaps in the InMemoryRelation at optimization
    * time, printing the cached child plan) — so plan-shape pins and
    * EXPLAIN keep seeing the real scans, unlike [[cut]]'s opaque RDD leaf.
    * Prefer this inside OPERATORS (pinned, explained); prefer [[cut]] in
    * iterative folds where re-ANALYSIS of a multiplicatively growing tree
    * is itself the cost. Same small-relation-only rule as [[cut]]. Bench
    * clears the cache between repetitions, so nothing is carried across
    * timed runs. */
  private[graft] def share(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One appendable artifact kind, declared once: its identity (`kind`,
  * `version`), the row-local derivation from an input relation, the file
  * layout its writes keep, and the fold compaction applies to the current
  * rows. [[Materialize]] runs ensure, append and compact from it
  * generically, so a kind never hand-writes its own lifecycle: every
  * write below goes to a path no reader sees yet (the build of generation
  * 0, or a staging dir that Materialize commits), never into a live
  * generation.
  *
  * `derive` must be row-local (derive(a ∪ b) == derive(a) ∪ derive(b)):
  * that is what makes an append equal a rebuild. A derivation over a
  * frozen upstream (a codebook, a model) closes over it in a small
  * constructor next to the kind; the kind string then carries the
  * upstream's parameters.
  *
  * `fold` maps the artifact's current rows to what compaction writes:
  * identity for a pure file reorganization, a sum for additive stats
  * rows, or a re-clustering where compaction changes the layout. */
final case class Artifact(kind: String, version: Int,
                          derive: DataFrame => DataFrame,
                          layout: Artifact.Layout,
                          fold: DataFrame => DataFrame = identity) {

  /** Write `rows` in this artifact's layout to a fresh `path` (a build's
    * target or a staging dir; appends and compactions stage too);
    * `appending` picks the append-side file count, the build side
    * otherwise (compaction writes the build side). */
  private[graft] def write(rows: DataFrame, path: String,
                           appending: Boolean): Unit = {
    import Artifact._
    val laid = layout match {
      case Plain => rows
      case Coalesced(build, append) => rows.coalesce(if (appending) append else build)
      case Clustered(by, sortBy, build, append) =>
        rows.repartition(if (appending) append else build, by.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      case Cells => rows
    }
    val w = laid.write.mode("overwrite")
    (if (layout == Cells) w.partitionBy("cell") else w).parquet(path)
  }
}

object Artifact {
  sealed trait Layout
  /** The derivation's own partitioning, written as is. */
  case object Plain extends Layout
  /** A fixed file count per write. */
  final case class Coalesced(build: Int, append: Int) extends Layout
  /** Hash-clustered on `by` into a fixed file count, sorted on `sortBy`
    * within each file so row-group stats prune a key probe. */
  final case class Clustered(by: Seq[String], sortBy: Seq[String],
                             build: Int = 32, append: Int = 4) extends Layout
  /** `partitionBy("cell")`: one directory per IVF cell, so a probe reads
    * only its cells. */
  case object Cells extends Layout
}

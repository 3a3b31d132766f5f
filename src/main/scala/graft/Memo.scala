package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The driver-side memo: results the program would otherwise recompute on
  * every request — a parquet schema, an ANN model, a corpus count, an
  * admission-control cost prediction — held in driver memory, the
  * engine's counterpart of the reference's in-process serving dicts
  * (geo_manager.py:677-763).
  *
  * `Memo(key, stamp)(compute)` returns `compute`'s value for `key` and
  * reuses it while `stamp` stays equal. The keying and eviction rule:
  *  - the KEY names the question: a tuple led by the call site's tag,
  *    then every parameter the value depends on (dir, threshold, cut);
  *  - the STAMP names the state of the data the value was read from — a
  *    [[listing]] of the dirs involved, or the files and confs of a read.
  *    Stamps compare by equality and are never hashed, so two states can
  *    never collide into a false hit (a stale hit would silently pin a
  *    wrong plan, far worse than the recompute a miss costs);
  *  - each key holds ONE entry: a new stamp replaces the old one, so the
  *    memo is bounded by its keys, never by how often the data changes.
  *    There is no size knob;
  *  - at most one thread computes a key at a time, so racing cold requests
  *    compute it once; a held entry is read without a lock;
  *  - a `compute` that throws stores nothing.
  */
object Memo {

  private final class Slot { @volatile var held: Option[(Any, Any)] = None }

  private val slots = new ConcurrentHashMap[Any, Slot]()

  def apply[V](key: Any, stamp: Any)(compute: => V): V = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    def hit: Option[V] = slot.held.collect { case (`stamp`, v) => v.asInstanceOf[V] }
    hit.getOrElse(slot.synchronized {
      hit.getOrElse {
        val v = compute
        slot.held = Some((stamp, v))
        v
      }
    })
  }

  /** The stamp of the dirs `paths`: per dir, the full sorted (name,
    * length, mtime) listing of its direct children. One `listStatus` per
    * dir, no job, no data read; a missing dir lists empty. An edit that
    * preserves a child's name, length and mtime is invisible (the
    * staleness manifest's caveat): then re-path the dir or bump the
    * artifact version. */
  def listing(spark: SparkSession, paths: String*): Seq[String] = paths.map { dir =>
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      try fs.listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      catch { case _: java.io.IOException => Array.empty[String] }
    entries.sorted.mkString("\n")
  }

  /** Every held entry, key → (stamp, value). */
  private[graft] def entries: Map[Any, (Any, Any)] =
    slots.asScala.flatMap { case (k, s) => s.held.map(k -> _) }.toMap
}

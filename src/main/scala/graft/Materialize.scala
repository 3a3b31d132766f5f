package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-materialized artifacts: posting indexes, cell-partitioned ANN
  * indexes, dedup label tables, nested-layout round-trips, bucketed join
  * tables. At 100 TB these writes ARE the ingest — they run once and every
  * query is a read. Four properties are enforced here (and only here, so
  * no operator hand-rolls its own layout):
  *
  *  - **Config-derived location** — rooted under `spark.sql.warehouse.dir`
  *    (overridable via `spark.graft.materialize.dir`), never a hardcoded
  *    checkout path: relocated repos and concurrent sessions with distinct
  *    warehouses cannot collide.
  *  - **Write-once, append-extend** — an artifact is keyed by (kind, input
  *    dir, version) and only built when no committed generation exists,
  *    so repeat queries pay the pruned read, not the rebuild. This mirrors
  *    the production split: index build at ingest, index scan per query.
  *    An appendable kind is declared once as an [[Artifact]] descriptor
  *    (kind, version, row-local derive, layout, compaction fold), and the
  *    descriptor faces — `ensure(spark, a, dir, input)`, `append(spark, a,
  *    dir, batch, batchTag)`, `compact(spark, a, dir)` and
  *    `compactIfDue(spark, a, dir)` — are its one lifecycle: new data
  *    batches land as new files in the same layout, and compaction folds
  *    them back into the build layout. Every append, tagged or not, goes
  *    through [[appendBatch]], so every appended file carries its batch's
  *    commit marker. No per-kind ensure/append/compact face exists.
  *  - **Staleness-guarded** — each artifact records a manifest of the
  *    input dir's direct children (name → mtime) at build/append time. A
  *    recorded child later MODIFIED or REMOVED marks the artifact stale:
  *    `ensure` rebuilds it, `append` and `refreshWith` refuse (the base
  *    they would extend no longer exists). NEW children alone are a
  *    legitimate ingest increment — the key stays stable so the append
  *    lifecycle works — which is exactly the distinction a fingerprint
  *    folded into the key cannot make (it re-keys on every increment and
  *    the incremental path can never fire).
  *  - **Generation-pinned** (round 15) — every path this object returns
  *    (or [[servingPath]] resolves) is an IMMUTABLE COMMITTED GENERATION
  *    directory: no operation ever deletes or renames a file a committed
  *    batch holds (appends only ADD files; the one delete is the repair of
  *    a crashed attempt's unmarked files). The swap steps ([[refreshWith]],
  *    [[compact]], a stale or invalidated `ensure`) build the NEXT
  *    generation as a sibling (`<artifact>.gen-000001`, …) through one
  *    stage-and-commit core ([[commitNext]]: repair the generation the
  *    write reads, stage, require `_SUCCESS`, carry the `_BATCH_` markers,
  *    record the manifest, commit with one directory rename), so a reader
  *    holding a lazy plan over the prior generation keeps evaluating
  *    correctly THROUGH the swap; new resolutions see the new generation
  *    the instant its rename lands.
  *    [[invalidate]] tombstones instead of deleting for the same reason.
  *    [[gc]] reclaims superseded generations only after
  *    [[GcStagingMinAgeMs]] has passed since the CURRENT generation
  *    committed — the grace window a concurrent reader's in-flight
  *    request must finish within (MutationServeSpec pins the lifecycle).
  *    [[refreshAuto]] is the one delta-vs-rebuild dispatcher of a
  *    refreshWith family (the docglobal overlay's).
  *  - **Versioned** — callers bump `version` whenever the derivation
  *    changes; a stale layout written by earlier code is then simply a
  *    different path and can never be read by mistake.
  *
  * Concurrency: all mutating faces of one artifact serialize on a
  * per-artifact JVM lock ([[locked]]), so two threads of one serving
  * session racing into a cold `ensure` build exactly once (the round-14
  * advice item — the old exists-then-build was not atomic). CROSS-JVM
  * mutation is still single-driver-per-warehouse (documented, not
  * guarded): two separate sessions sharing one warehouse can still race
  * a build. Concurrent READERS need no lock in either topology —
  * generation pinning is what protects them.
  */
object Materialize {

  /** Filesystem-safe tag for an input data directory. Always prefixed with
    * a letter: a leading `_` (what a bare sanitize of `/root/...` yields)
    * is a HIDDEN path to Spark's default parquet path filter — direct
    * reads work but any glob/recursive read over the artifact root would
    * silently skip every artifact ("All paths were ignored").
    *
    * Generation suffixes are STRIPPED before sanitizing (each `.gen-N`
    * ending a `|`-separated component): a chain stage keyed by its
    * upstream ARTIFACT path must keep the same key across the upstream's
    * generations — the swap already invalidates the downstream manifest
    * (all recorded children replaced), so re-keying would only orphan the
    * downstream artifact on every upstream refresh.
    *
    * Migration note: the `d` prefix (added round 5) renamed every artifact
    * directory, so artifacts built under the old underscore-leading tags
    * are orphaned — `ensure()` transparently rebuilds under the new paths
    * (a one-time cost per warehouse), but stale old-tag directories are
    * NOT auto-deleted; reclaim disk by removing `_*` dirs under each
    * `<materialize-root>/<kind>/`.
    *
    * Long inputs (a DAG stage keyed by its upstream ARTIFACT path, whose
    * name already contains a tag) are truncated with a hash suffix so the
    * component never outgrows a filesystem's 255-byte name limit as
    * chains nest. Short tags — every data-dir tag — are unchanged, so no
    * existing artifact moves. */
  def tag(dir: String): String = {
    val stripped = dir.replaceAll("\\.gen-\\d+(\\||$)", "$1")
    val t = "d" + stripped.replaceAll("[^0-9a-zA-Z]+", "_")
    if (t.length <= 100) t
    else t.take(64) + "_h" + java.lang.Long.toHexString(
      t.foldLeft(1125899906842597L)((h, c) => 31 * h + c) & Long.MaxValue)
  }

  private def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.materialize.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/graft_artifacts")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The artifact's HANDLE — its stable identity path (generation 0's
    * directory). Chain stages key on it; generations are sibling dirs
    * (`<handle>.gen-<K>`). Do NOT read this path directly: after a
    * refresh/compact the current generation is a sibling — resolve with
    * [[servingPath]] (or use the path an ensure/refresh face returned). */
  def artifactPath(spark: SparkSession, kind: String, dir: String, version: Int): String =
    s"${root(spark)}/$kind/${tag(dir)}_v$version"

  // ---------------------------------------------------------------- //
  // generation layout                                                 //
  // ---------------------------------------------------------------- //

  private val GenSep = ".gen-"
  private val TombstoneFile = "_GRAFT_INVALID"

  private def genDirName(handle: String, k: Int): String =
    if (k == 0) handle else f"$handle$GenSep$k%06d"

  private def genOfName(base: String, name: String): Option[Int] =
    if (name == base) Some(0)
    else if (name.startsWith(base + GenSep)) {
      val s = name.substring(base.length + GenSep.length)
      if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toInt) else None
    } else None

  private case class Gen(k: Int, path: Path, committed: Boolean, tombstoned: Boolean)

  private def listGens(fs: FileSystem, handle: Path): Seq[Gen] = {
    val base = handle.getName
    val sts: Array[FileStatus] =
      try fs.listStatus(handle.getParent)
      catch { case _: java.io.IOException => Array.empty[FileStatus] }
    sts.toSeq.flatMap { st =>
      genOfName(base, st.getPath.getName).map { k =>
        // re-derive from the handle string so every returned path shares
        // the caller's scheme (listStatus qualifies; ensure returns raw —
        // mixed schemes would break path-equality and chain keying)
        val p = new Path(genDirName(handle.toString, k))
        Gen(k, p,
          fs.exists(new Path(p, "_SUCCESS")),
          fs.exists(new Path(p, TombstoneFile)))
      }
    }.sortBy(_.k)
  }

  /** Highest committed generation — what a READER should see (a
    * tombstoned generation stays servable until its successor commits:
    * stale-but-complete beats a missing-file failure). */
  private def readGen(fs: FileSystem, handle: Path): Option[Gen] =
    listGens(fs, handle).filter(_.committed).lastOption

  /** The CURRENT generation if it is not tombstoned — what the build
    * faces treat as the standing artifact. A tombstone on the current
    * generation means "rebuild on next ensure" ([[invalidate]]); a
    * SUPERSEDED generation is history awaiting [[gc]], never a fallback
    * build base, so it cannot resurrect a tombstoned artifact. */
  private def liveGen(fs: FileSystem, handle: Path): Option[Gen] =
    readGen(fs, handle).filter(!_.tombstoned)

  private def nextGenPath(fs: FileSystem, handle: Path): Path = {
    val k = listGens(fs, handle).map(_.k).maxOption.getOrElse(-1) + 1
    new Path(genDirName(handle.toString, k))
  }

  /** Resolve the artifact's CURRENT COMMITTED GENERATION directory — the
    * immutable path a serving-side read should plan over. Equals the
    * handle until the first refresh/compact creates a sibling
    * generation. Falls back to the handle when nothing is committed yet
    * (the read will fail loudly, same as before). */
  def servingPath(spark: SparkSession, kind: String, dir: String, version: Int): String = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    readGen(fsOf(spark, handle), handle).map(_.path.toString)
      .getOrElse(handle.toString)
  }

  // ---------------------------------------------------------------- //
  // per-artifact JVM mutation lock                                    //
  // ---------------------------------------------------------------- //

  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize all MUTATING faces of one artifact within this JVM: two
    * serving threads racing into a cold or just-invalidated `ensure`
    * would otherwise both see no committed generation and interleave
    * parquet writes on one path. Keyed by the qualified handle so
    * distinct warehouses never share a lock. Readers don't lock. `body`
    * gets the handle's filesystem and the handle. */
  private def locked[T](spark: SparkSession, handlePath: String)
                       (body: (FileSystem, Path) => T): T = {
    val handle = new Path(handlePath)
    val fs = fsOf(spark, handle)
    artifactLocks.computeIfAbsent(fs.makeQualified(handle).toString, _ => new Object)
      .synchronized(body(fs, handle))
  }

  /** Whether the artifact has a COMMITTED, non-tombstoned generation —
    * [[refreshAuto]]'s bootstrap test (a delta face needs a prior
    * to carry; absent ⇒ the first build is an ensure, not a refresh). */
  def isBuilt(spark: SparkSession, kind: String, dir: String, version: Int): Boolean = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    liveGen(fsOf(spark, handle), handle).isDefined
  }

  /** Whether the live generation is committed AND manifest-fresh —
    * [[refreshAuto]]'s precondition for its DELTA arm. A re-published
    * input (recorded child modified or removed) makes the prior rows an
    * invalid delta base ([[refreshWith]] rejects it), so a dispatcher
    * seeing `false` here routes to the exact rebuild instead. */
  def isDeltaBase(spark: SparkSession, kind: String, dir: String,
                  version: Int): Boolean = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    liveGen(fsOf(spark, handle), handle)
      .exists(g => isFresh(spark, g.path, listInputs(spark, dir)))
  }

  private val ManifestFile = "_GRAFT_INPUTS"

  /** A committed artifact must contain at least one DATA file: `_SUCCESS`
    * + manifest alone (a partially deleted dir) would otherwise read as a
    * silently EMPTY relation — a fast "success" that only the oracle gate
    * could catch, and only for gated queries. Checked on every ensure
    * (both the fresh build and the reuse path) and after compaction. */
  private def requireNonEmpty(spark: SparkSession, artifact: String): Unit = {
    val p = new Path(artifact)
    val found = filesUnder(fsOf(spark, p), p).map(_.getName)
      .exists(n => !n.startsWith("_") && !n.startsWith("."))
    require(found,
      s"artifact $artifact is committed but contains no data files — " +
        "gutted artifact dir; delete it and rebuild with ensure()")
  }

  /** Input-dir snapshot: direct children name → mtime. One driver-side
    * `listStatus` — no data read, no job. Does NOT catch an edit that
    * preserves a child's mtime (then the dir must be re-pathed or
    * `version` bumped). */
  private def listInputs(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    try fs.listStatus(p).map(s => s.getPath.getName -> s.getModificationTime).toMap
    catch { case _: java.io.IOException => Map.empty[String, Long] }
  }

  private def readManifest(spark: SparkSession, artifact: String): Option[Map[String, Long]] = {
    val mp = new Path(artifact, ManifestFile)
    val fs = fsOf(spark, mp)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val cut = l.lastIndexOf('\t')
          l.substring(0, cut) -> l.substring(cut + 1).toLong
        }.toMap)
      finally in.close()
    }
  }

  private def writeManifest(spark: SparkSession, artifact: String,
                            inputs: Map[String, Long]): Unit = {
    val mp = new Path(artifact, ManifestFile)
    val out = fsOf(spark, mp).create(mp, true)
    try out.write(inputs.toSeq.sortBy(_._1)
      .map { case (n, t) => s"$n\t$t" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Stale iff a RECORDED input child was modified or removed; children
    * that are only NEW are an increment, not staleness. */
  private def staleAgainst(recorded: Map[String, Long],
                           current: Map[String, Long]): Boolean =
    recorded.exists { case (name, mtime) => !current.get(name).contains(mtime) }

  /** Whether generation `gen` has a manifest fresh against `current` (a
    * pre-manifest generation reads as stale: provenance unknown). */
  private def isFresh(spark: SparkSession, gen: Path,
                      current: Map[String, Long]): Boolean =
    readManifest(spark, gen.toString).exists(m => !staleAgainst(m, current))

  // ---------------------------------------------------------------- //
  // the lifecycle core: one staging path, one repair, one commit      //
  // ---------------------------------------------------------------- //

  private val MarkerPrefix = "_BATCH_"

  /** The live generation a mutating step works on, under the caller's
    * lock; a never-built or tombstoned artifact is refused. */
  private def live(fs: FileSystem, handle: Path, step: String): Path =
    liveGen(fs, handle).map(_.path).getOrElse(throw new IllegalArgumentException(
      s"$step absent artifact $handle — build it with ensure() first"))

  /** A step that extends or re-derives from the live rows (append,
    * refresh) needs them manifest-fresh: over a re-published input they
    * are no valid base, and carrying them into a fresh-manifested
    * generation would launder the staleness into an artifact that
    * ensure() then serves forever. */
  private def requireFresh(spark: SparkSession, gen: Path, dir: String,
                           current: Map[String, Long], step: String): Unit =
    require(isFresh(spark, gen, current),
      s"$step STALE artifact $gen — a recorded input of $dir was modified " +
        "or removed; rebuild with ensure() first")

  /** Every file under `dir`, by lazy `listStatus` recursion: a
    * subdirectory is listed only when the walk reaches it, so a caller
    * that stops at its first match lists no further. Not `listFiles`: it
    * builds a `LocatedFileStatus` per file, which on the local filesystem
    * reads each file's owner and permissions (measured on 4 vCPU: +1.5 s
    * on perfbench's `ingest_serve` compact step, 3 artifacts of ~35
    * files). */
  private def filesUnder(fs: FileSystem, dir: Path): Iterator[Path] =
    fs.listStatus(dir).iterator.flatMap(s =>
      if (s.isDirectory) filesUnder(fs, s.getPath) else Iterator.single(s.getPath))

  /** Generation `gen`'s committed batch tags (its `_BATCH_<tag>` markers)
    * and its `batch-` data files at any depth (a cell-partitioned
    * generation keeps them in its `cell=<k>` dirs). A file belongs to a
    * committed batch iff it starts `batch-<tag>-` for a marked tag — never
    * parsed out of the file name, so an artifact appended by an older
    * build whose tags contained '-' keeps its committed files. */
  private def batches(fs: FileSystem, gen: Path): (Set[String], Seq[Path]) = {
    val files = filesUnder(fs, gen).toSeq
    (files.map(_.getName).filter(_.startsWith(MarkerPrefix))
      .map(_.stripPrefix(MarkerPrefix)).toSet,
      files.filter(_.getName.startsWith("batch-")))
  }

  /** The repair run before a generation's rows are read into the next
    * one: a crashed [[appendBatch]] attempt leaves `batch-<tag>-` files
    * without their marker. Read in, the partial batch would be baked into
    * the next generation, and the tag's at-least-once replay (marker
    * still absent) would add the whole batch again. The delete is safe
    * under the lock: the attempt's writer JVM is dead. Returns the
    * committed tags. */
  private def dropUncommitted(fs: FileSystem, gen: Path): Set[String] = {
    val (tags, files) = batches(fs, gen)
    files.filterNot(f => tags.exists(t => f.getName.startsWith(s"batch-$t-")))
      .foreach(fs.delete(_, false))
    tags
  }

  /** Run `write` into a clean staging dir; it must end with a committed
    * parquet write (`_SUCCESS`). */
  private def stage(fs: FileSystem, staging: Path)(write: String => Unit): Path = {
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    require(fs.exists(new Path(staging, "_SUCCESS")), s"write did not commit to $staging")
    staging
  }

  /** The one stage-and-commit core of every step that writes a NEXT
    * generation — a stale or invalidated [[ensure]], [[compact]] and
    * [[refreshWith]] — run under the caller's lock. `base` is the
    * generation the write reads (compact, refresh; a rebuild reads none):
    * it is repaired first, and its `_BATCH_` markers carry into the new
    * generation, because the batches they record are inside the rows the
    * write read — a late replay still short-circuits in [[appendBatch]].
    * `write` stages at `<handle><suffix>`; `inputs` is the manifest the
    * new generation records. */
  private def commitNext(spark: SparkSession, fs: FileSystem, handle: Path,
                         suffix: String, base: Option[Path],
                         inputs: Option[Map[String, Long]])
                        (write: String => Unit): String = {
    val carried = base.map(dropUncommitted(fs, _)).getOrElse(Set.empty[String])
    val staging = stage(fs, new Path(s"$handle$suffix"))(write)
    carried.foreach(t => fs.create(new Path(staging, MarkerPrefix + t), true).close())
    inputs.foreach(writeManifest(spark, staging.toString, _))
    commitNextGen(spark, fs, handle, staging)
  }

  /** Commit a finished staging dir as the next generation with ONE
    * directory rename: the instant it lands, new resolutions see a
    * complete generation (`_SUCCESS`, manifest, carried markers), and
    * until it lands they see the prior one. Prior generations are never
    * touched here; [[gc]] reclaims them after the grace window. */
  private def commitNextGen(spark: SparkSession, fs: FileSystem, handle: Path,
                            staging: Path): String = {
    val gen = nextGenPath(fs, handle)
    if (fs.exists(gen)) fs.delete(gen, true) // unreachable: k > every sibling
    require(fs.rename(staging, gen), s"could not commit $staging to $gen")
    requireNonEmpty(spark, gen.toString)
    ensuredThisSession.add(fs.makeQualified(gen).toString)
    gen.toString
  }

  /** [[compact]] and [[refreshWith]]: the next generation written from the
    * live one's rows. They differ in the manifest only, and so in whether
    * the prior must be fresh: a fold does not re-derive, so the prior's
    * manifest carries over; a refresh re-derives against the current
    * inputs and records them. */
  private def advance(spark: SparkSession, kind: String, dir: String, version: Int,
                      step: String, suffix: String, rederive: Boolean)
                     (write: (DataFrame, String) => Unit): String =
    locked(spark, artifactPath(spark, kind, dir, version)) { (fs, handle) =>
      val g = live(fs, handle, step)
      val inputs =
        if (!rederive) readManifest(spark, g.toString)
        else {
          val current = listInputs(spark, dir)
          requireFresh(spark, g, dir, current, step)
          Some(current)
        }
      commitNext(spark, fs, handle, suffix, Some(g), inputs)(
        write(Tables.parquet(spark, g.toString), _))
    }

  private val EnsureStagingSuffix = ".genstage"

  /** Write-once parquet materialization: `build(path)` runs when no live
    * generation exists — or the live one is STALE (a recorded input child
    * modified/removed since the build; see class doc), in which case a
    * NEW generation is built as a sibling and the stale one stays
    * readable for in-flight plans until [[gc]]'s grace window passes.
    * Returns the current generation's path — immutable, safe to plan
    * over concurrently with any later refresh/compact/gc. `build` must
    * finish with a committed write to `path` (parquet commit protocol
    * drops the marker). */
  def ensure(spark: SparkSession, kind: String, dir: String, version: Int)
            (build: String => Unit): String =
    ensureAt(spark, artifactPath(spark, kind, dir, version),
      listInputs(spark, dir))(build)

  /** [[ensure]] for a stage with SEVERAL upstream inputs (round 11: the
    * e2e chain's first stage reads the row-local docbase AND the
    * corpus-global overlay): the artifact is keyed by the joined input
    * paths (generation suffixes stripped by [[tag]], so the key is
    * stable across upstream refreshes) and its staleness manifest is the
    * UNION of the inputs' listings (keys index-prefixed so same-named
    * children of different inputs never collide) — a modified/removed
    * child of EITHER input marks the stage stale, preserving the chain's
    * transitive-staleness contract. Single-input kinds keep using
    * [[ensure]] unchanged (its manifest key format predates the prefix;
    * re-keying would mark every existing artifact stale once for
    * nothing). */
  def ensureMulti(spark: SparkSession, kind: String, dirs: Seq[String],
                  version: Int)(build: String => Unit): String = {
    require(dirs.nonEmpty, "ensureMulti needs at least one input dir")
    val current: Map[String, Long] = dirs.zipWithIndex.flatMap { case (d, i) =>
      listInputs(spark, d).map { case (n, t) => s"$i/$n" -> t }
    }.toMap
    ensureAt(spark, artifactPath(spark, kind, dirs.mkString("|"), version),
      current)(build)
  }

  private def ensureAt(spark: SparkSession, handlePath: String,
                       current: Map[String, Long])
                      (build: String => Unit): String = locked(spark, handlePath) { (fs, handle) =>
    liveGen(fs, handle) match {
      case Some(g)
        if readManifest(spark, g.path.toString)
          .exists(m => !staleAgainst(m, current)) =>
        // fresh — serve as-is (a pre-manifest artifact reads as stale:
        // provenance unknown)
        requireNonEmpty(spark, g.path.toString)
        ensuredThisSession.add(fs.makeQualified(g.path).toString)
        g.path.toString
      case None if readGen(fs, handle).isEmpty =>
        // bootstrap: generation 0 builds in place at the handle (nothing
        // can be reading an artifact that never committed)
        build(handlePath)
        writeManifest(spark, handlePath, current)
        requireNonEmpty(spark, handlePath)
        ensuredThisSession.add(fs.makeQualified(handle).toString)
        handlePath
      case _ =>
        // stale, or only tombstoned generations remain (an invalidate):
        // rebuild as the next generation; the prior keeps serving readers
        // that resolved before this commit, until gc
        commitNext(spark, fs, handle, EnsureStagingSuffix, None, Some(current))(build)
    }
  }

  /** Explicit invalidation — the deferred-refresh primitive. TOMBSTONES
    * the live generation (a `_GRAFT_INVALID` marker file) so the next
    * `ensure` rebuilds from the CURRENT inputs as a new generation —
    * while every reader that already resolved (or resolves before that
    * rebuild commits) keeps the complete tombstoned generation:
    * stale-but-whole beats a torn read, and the refresh faces call
    * ensure immediately after. This is the deferred-maintenance face of
    * staleness: some artifacts (the corpus-global label overlay) are
    * semantically outdated by a legitimate ingest increment, which the
    * manifest deliberately does NOT treat as staleness (NEW children are
    * an increment — that is what licenses the append lifecycle), so the
    * refresh cadence decides when to pay the exact rebuild. Returns true
    * if a live generation existed and was tombstoned. */
  def invalidate(spark: SparkSession, kind: String, dir: String,
                 version: Int): Boolean =
    locked(spark, artifactPath(spark, kind, dir, version)) { (fs, handle) =>
      liveGen(fs, handle) match {
        case None => false
        case Some(g) =>
          fs.create(new Path(g.path, TombstoneFile), true).close()
          true
      }
    }

  /** Periodic compaction of an appended artifact: every append lands one
    * batch-sized file set, so reads accumulate small files and lose the
    * single-sorted-run property; `rewrite(current, tmpPath)` must
    * re-derive the CANONICAL layout (the same write [[ensure]]'s build
    * performs) from the artifact's current contents into `tmpPath`, which
    * is then committed as the NEXT GENERATION. Contents are unchanged
    * — compaction reorganizes files, it does not re-derive from source —
    * so compact-then-read == read (IncrementalIndexSpec pins it against a
    * wholesale rebuild), and the input manifest carries over. */
  private[graft] def compact(spark: SparkSession, kind: String, dir: String, version: Int)
                             (rewrite: (DataFrame, String) => Unit): String =
    advance(spark, kind, dir, version, "compact of", ".compacting", rederive = false)(rewrite)

  /** In-place-IDENTITY artifact refresh from its own prior contents —
    * the DELTA face of [[invalidate]]+[[ensure]]: `build(prior, tmpPath)`
    * derives the artifact's NEW contents (it may read the prior
    * generation's rows) and commits them to `tmpPath`, which is then
    * committed as the NEXT GENERATION. Unlike [[compact]], the result is
    * a RE-DERIVATION against the current inputs, so a fresh manifest is
    * recorded and the prior generation must itself be manifest-fresh. */
  def refreshWith(spark: SparkSession, kind: String, dir: String, version: Int)
                 (build: (DataFrame, String) => Unit): String =
    advance(spark, kind, dir, version, "refresh of", ".refreshing", rederive = true)(build)

  /** Committed batches appended since the last canonical fold: the
    * committed tags whose `batch-<tag>-` DATA files are still in the live
    * generation ([[compact]] folds those files into the next generation's
    * canonical layout; the `_BATCH_` markers deliberately SURVIVE
    * compaction for replay short-circuiting, so the marker count is
    * lifetime-total, never pending). Uncommitted partial attempts don't
    * count — they are repair debt, not read debt that compaction is
    * scheduled against — and neither does a tombstoned artifact, which
    * the next `ensure` rebuilds. One driver-side listing of one artifact
    * dir — bounded. */
  def pendingBatches(spark: SparkSession, kind: String, dir: String,
                     version: Int): Int = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    val fs = fsOf(spark, handle)
    liveGen(fs, handle).fold(0) { g =>
      val (tags, files) = batches(fs, g.path)
      tags.count(t => files.exists(_.getName.startsWith(s"batch-$t-")))
    }
  }

  /** Default pending-batch budget for [[compactIfDue]]. Anchored to the
    * measured read-degradation curve (SCALE.md §compact-cadence): reads
    * over an appended artifact pay per-file listing/footer overhead plus
    * the lost single-sorted-run clustering on the appended fraction —
    * linear in pending batches — while the fold itself is one
    * artifact-sized rewrite whose amortized cost FALLS as the window
    * grows. The budget caps the read-side tax; it does not need to sit
    * at a precise optimum because both curves are shallow near it. */
  val CompactPendingMax = 16L

  /** Grace window with two faces, both "could someone still be touching
    * this": (1) minimum age before [[gc]] treats a CURRENT-generation
    * staging sibling (`.batch_*` / `.compacting` / `.refreshing` /
    * `.genstage`) as crash debris — directory mtime moves while a writer
    * is landing files, so a live in-flight write is never collected;
    * (2) minimum time after a NEW generation commits before [[gc]]
    * collects the superseded ones — the window a concurrent reader's
    * in-flight request over the prior generation must finish within. */
  val GcStagingMinAgeMs: Long = 10 * 60 * 1000L

  // ---------------------------------------------------------------- //
  // descriptor faces: the one lifecycle of every appendable kind       //
  // ---------------------------------------------------------------- //

  /** Build `a` from `input` unless a fresh generation stands (the closure
    * [[ensure]] with the descriptor's derive and build-side layout).
    * `input` is by-name: an ensure hit never constructs it. */
  def ensure(spark: SparkSession, a: Artifact, dir: String,
             input: => DataFrame): String =
    ensure(spark, a.kind, dir, a.version)(
      a.write(a.derive(input), _, appending = false))

  /** Land `batch`'s derived rows as new files in `a`'s append-side layout
    * ([[appendBatch]]). A `batchTag` makes the append idempotent under
    * at-least-once replay; without one the call is a batch of its own (a
    * fresh unique tag), so its files are still counted by
    * [[pendingBatches]] and folded by [[compactIfDue]]. */
  def append(spark: SparkSession, a: Artifact, dir: String, batch: DataFrame,
             batchTag: Option[String] = None): String =
    appendBatch(spark, a.kind, dir, a.version,
      batchTag.getOrElse("u" + java.util.UUID.randomUUID().toString.replace("-", "")))(
      a.write(a.derive(batch), _, appending = true))

  /** Fold `a`'s current rows into the next generation in the build-side
    * layout ([[compact]]). */
  def compact(spark: SparkSession, a: Artifact, dir: String): String =
    compact(spark, a.kind, dir, a.version)((cur, tmp) =>
      a.write(a.fold(cur), tmp, appending = false))

  /** [[compact]] behind the dispatch: folds once the committed pending
    * batch count ([[pendingBatches]]) reaches `maxPending`, no-ops
    * otherwise. Returns the CURRENT
    * generation path (the new fold, or the standing generation on defer)
    * and the decision string ("compact" | "defer"), the
    * refresh-dispatcher convention — probes record the decision next to
    * the wall so a replica that dispatched wrong is visible in the line. */
  def compactIfDue(spark: SparkSession, a: Artifact, dir: String,
                   maxPending: Long = CompactPendingMax): (String, String) =
    if (pendingBatches(spark, a.kind, dir, a.version) >= maxPending)
      (compact(spark, a, dir), "compact")
    else (servingPath(spark, a.kind, dir, a.version), "defer")

  /** The append primitive — the materialized-layout face of the
    * reference's `add_entity` (geo_manager.py:451-476): `build(path)`
    * stages the batch's rows with a committed parquet write, and they
    * land as NEW FILES in the live generation's layout, so readers then
    * see old ∪ new and a plan already evaluating stays valid (an append
    * never deletes a committed file). Exact for row-local derivations:
    * derive(corpus ∪ batch) == derive(corpus) ∪ derive(batch)
    * (IncrementalIndexSpec pins every kind).
    *
    * Idempotent per `batchTag` for AT-LEAST-ONCE delivery (a Structured
    * Streaming `foreachBatch` re-runs a micro-batch after a failure). A
    * tag that COMPLETED (its `_BATCH_<tag>` marker exists in the live
    * generation) short-circuits to a no-op: the healthy replay touches no
    * file, so lazy plans over the artifact stay valid. Otherwise the
    * staged data files move in under the `batch-<tag>-` prefix, each into
    * the same relative dir (a `cell=<k>` file stays in its partition),
    * after any files of a crashed prior attempt of the tag are deleted;
    * the marker is created LAST as the commit point. The move can itself
    * die midway; the next replay repairs again, so a tag converges to
    * exactly one copy of its rows. (Distinct tags must mean distinct
    * batches — the caller's contract, which `foreachBatch` batch ids
    * satisfy.) The live generation must exist and be manifest-fresh, and
    * its manifest rolls forward to the current inputs. */
  private[graft] def appendBatch(spark: SparkSession, kind: String, dir: String,
                                 version: Int, batchTag: String)(build: String => Unit): String = {
    // no '-' in tags: keeps `batch-<tag>-` prefixes prefix-free across
    // tags, so a committed tag's prefix can never also match another
    // tag's crashed-attempt files (the repair paths match marker-driven
    // prefixes; ambiguity would make a kept orphan possible)
    require(batchTag.matches("[A-Za-z0-9_]+"),
      s"batch tag '$batchTag' must be filesystem-safe ([A-Za-z0-9_]+)")
    locked(spark, artifactPath(spark, kind, dir, version)) { (fs, handle) =>
      val cur = live(fs, handle, "append to")
      val marker = new Path(cur, MarkerPrefix + batchTag)
      if (!fs.exists(marker)) {
        val current = listInputs(spark, dir)
        requireFresh(spark, cur, dir, current, "append to")
        val staging = stage(fs, new Path(s"$handle.batch_$batchTag"))(build)
        val prefix = s"batch-$batchTag-"
        filesUnder(fs, cur).filter(_.getName.startsWith(prefix))
          .foreach(fs.delete(_, false))
        val root = fs.makeQualified(staging).toUri.getPath
        filesUnder(fs, staging)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .foreach { f =>
            val rel = f.getParent.toUri.getPath.stripPrefix(root).stripPrefix("/")
            val to = if (rel.isEmpty) cur else new Path(cur, rel)
            if (rel.nonEmpty) fs.mkdirs(to)
            require(fs.rename(f, new Path(to, prefix + f.getName)),
              s"could not move $f into $to")
          }
        fs.create(marker, true).close()
        fs.delete(staging, true)
        writeManifest(spark, cur.toString, current)
      }
      cur.toString
    }
  }

  /** Corpus-size floor under which a refresh dispatches to the exact
    * rebuild: below it the delta's fixed probe-plan overhead exceeds the
    * whole rebuild (measured on the docglobal overlay: gate 500 docs
    * rebuild 1.3 s vs delta 3.6 s, 10× 50k docs 16.3 s vs 5.9–8.2 s —
    * SCALE.md §round-12). The floor sits inside the measured
    * 500→50k bracket, conservative toward the exact rebuild, which is
    * cheap by definition wherever the floor applies. */
  val RefreshDeltaFloor = 10000L

  /** Above this arrival fraction the delta's affected-set recompute
    * approaches the whole corpus and it pays the rebuild's work PLUS its
    * own probe overhead. The measured worst case (10% clone-slice
    * arrivals whose neighborhoods touch every clone family) still wins
    * 4.3×, so the majority cut only needs to catch onboarding-sized
    * backfills, where delta == rebuild + overhead by construction. */
  val RefreshArrivalMajority = 0.5

  /** Pure dispatch rule for the delta-vs-rebuild refresh choice — the
    * admission-control pattern (ivfBuildPlan, winnowPairsAuto precedents)
    * applied to the [[refreshWith]] lifecycle itself, so a production
    * caller refreshes without knowing their rebuild wall. Both inputs are
    * cheap counts known before any heavy job runs (corpus size from the
    * family's id-column or additive-stats artifact; arrivals from the
    * caller's batch or an id anti-join against the prior generation).
    * "ensure" = nothing arrived, so the standing artifact is current
    * unless its input manifest says otherwise (a re-publish), which plain
    * ensure already detects and rebuilds on. */
  def refreshPlan(n: Long, arrivals: Long,
                  floorDocs: Long = RefreshDeltaFloor,
                  majority: Double = RefreshArrivalMajority): String =
    if (arrivals == 0L) "ensure"
    else if (n < floorDocs || arrivals.toDouble > n.toDouble * majority) "rebuild"
    else "delta"

  /** The refresh dispatcher of a [[refreshWith]] family, so a caller
    * refreshes without knowing its rebuild wall. `ensure` builds or serves
    * the artifact, `counts` returns (corpus size, arrivals) for
    * [[refreshPlan]], and `delta` runs the family's refreshWith face; each
    * runs only on the arm that needs it. An artifact with no live
    * generation bootstraps through `ensure`; one whose prior rows are no
    * valid delta base (a re-published input, [[isDeltaBase]]) and the
    * plan's "rebuild" invalidate and ensure. Returns the path and the
    * decision ("bootstrap" | "ensure" | "rebuild" | "delta"). */
  def refreshAuto(spark: SparkSession, kind: String, dir: String, version: Int,
                  floorDocs: Long, majority: Double)
                 (ensure: => String, counts: => (Long, Long),
                  delta: => String): (String, String) = {
    def rebuild: String = { invalidate(spark, kind, dir, version); ensure }
    if (!isBuilt(spark, kind, dir, version)) (ensure, "bootstrap")
    else if (!isDeltaBase(spark, kind, dir, version)) (rebuild, "rebuild")
    else {
      val (n, arrivals) = counts
      refreshPlan(n, arrivals, floorDocs, majority) match {
        case "ensure"  => (ensure, "ensure")
        case "rebuild" => (rebuild, "rebuild")
        case _         => (delta, "delta")
      }
    }
  }

  /** Artifact paths ensured in THIS JVM session — the set the GC faces
    * must never delete: a DataFrame constructed over an ensured path is
    * lazy, and deleting its files before the first action would fail (or
    * silently truncate) a live plan — the grace window bounds OTHER
    * sessions' readers, but THIS session's plans can outlive any window.
    * A path ensured by an EARLIER session has no live plans by
    * definition (plans don't survive the JVM), so it stays collectable. */
  private val ensuredThisSession =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Garbage-collect SUPERSEDED parameterizations of a kind family for one
    * input dir. Kinds whose cut parameters are part of the artifact
    * identity (e.g. `graft_champost_<inv>_<cap>`) materialize a distinct
    * directory per parameter pair, so parameter sweeps — and the parity
    * spec's deliberate K=∞ build — accumulate full posting copies
    * unboundedly. Called after `ensure` with the surviving kind: every
    * OTHER `<kindPrefix>*` kind's artifacts for the SAME input tag
    * (every generation and staging sibling) are deleted (other corpora's
    * artifacts are untouched — their sweeps are their own) — EXCEPT paths
    * ensured in this session, which may back not-yet-executed lazy plans
    * (see [[ensuredThisSession]]); those are reclaimed by the next
    * session's sweep instead. Driver-side listStatus only; IO errors are
    * ignored (GC is best-effort, never a query failure). */
  def gcSupersededKinds(spark: SparkSession, kindPrefix: String,
                        keepKind: String, dir: String): Unit = {
    val r = new Path(root(spark))
    val fs = fsOf(spark, r)
    val t = tag(dir)
    val pat = (java.util.regex.Pattern.quote(t) + "_v\\d+([.].+)?").r
    try fs.listStatus(r).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(kindPrefix) && name != keepKind)
        try fs.listStatus(st.getPath).foreach { a =>
          if (pat.pattern.matcher(a.getPath.getName).matches() &&
              !ensuredThisSession.contains(
                fs.makeQualified(a.getPath).toString))
            fs.delete(a.getPath, true)
        } catch { case _: java.io.IOException => () }
    } catch { case _: java.io.IOException => () }
  }

  /** Generic retention GC for ONE (kind, input dir) artifact family —
    * the lifecycle face [[gcSupersededKinds]] covers for parameterized
    * KIND families, applied to the three other ways an artifact tree
    * accumulates dead bytes:
    *
    *  - **superseded versions** — a `version` bump (derivation change)
    *    re-keys the artifact path; the old `<tag>_v<N>` trees (all their
    *    generations included) are never read again but were never
    *    deleted either;
    *  - **superseded generations** — every refresh/compact/stale-rebuild
    *    commits a new `.gen-<K>` sibling and leaves the prior one for
    *    in-flight readers; once the current generation has been
    *    committed for [[GcStagingMinAgeMs]] (the reader grace window),
    *    the priors are dead weight;
    *  - **staging debris** — a crash between a staging write and its
    *    commit rename leaves `.compacting` / `.refreshing` /
    *    `.genstage` / `.batch_<tag>` siblings; the live operations
    *    delete THEIR OWN stale staging on retry, but debris of an
    *    operation nobody retries stays forever.
    *
    * Never touched: the current committed generation (its `_SUCCESS`,
    * manifest, `_BATCH_` replay markers and batch files included), any
    * NEWER version (a rolled-back binary must not eat its successor's
    * build), a superseded generation until the grace window passes,
    * other input tags, other kinds, and — same guard as
    * [[gcSupersededKinds]] — paths ensured in THIS session, which may
    * back not-yet-executed lazy plans. Safe to run concurrently with
    * serving (generation pinning + the grace window protect readers);
    * concurrent MUTATION of the same artifact is serialized by the
    * per-artifact lock. Best-effort (IO errors skip the entry); returns
    * the deleted paths. */
  def gc(spark: SparkSession, kind: String, dir: String,
         currentVersion: Int): Seq[String] = {
    val kindDir = new Path(s"${root(spark)}/$kind")
    val fs = fsOf(spark, kindDir)
    val base = tag(dir)
    val vpat = (java.util.regex.Pattern.quote(base) + "_v(\\d+)([.].+)?").r
    val handle = new Path(artifactPath(spark, kind, dir, currentVersion))
    val gens = listGens(fs, handle)
    val curGenK = gens.filter(_.committed).map(_.k).maxOption
    // supersession clock: when the CURRENT generation committed (its
    // _SUCCESS mtime — appends create _BATCH_ markers, never touch it)
    val graceOver = curGenK.exists { k =>
      val s = new Path(genDirName(handle.toString, k), "_SUCCESS")
      try System.currentTimeMillis() - fs.getFileStatus(s).getModificationTime >
        GcStagingMinAgeMs
      catch { case _: java.io.IOException => false }
    }
    val committedKs = gens.filter(_.committed).map(_.k).toSet
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    val now = System.currentTimeMillis()
    try fs.listStatus(kindDir).foreach { st =>
      st.getPath.getName match {
        case vpat(v, suffix) =>
          // (collectable, grace-governed): a superseded GENERATION is
          // governed by the reader grace window ALONE — the session's own
          // refresh put it there, so the ensured-this-session guard would
          // protect it forever in a long-lived serving JVM and the
          // warehouse would grow one generation per refresh for the
          // session's life. The contract is symmetric for in-JVM and
          // cross-JVM readers: a plan over a superseded generation must
          // finish within GcStagingMinAgeMs of the successor's commit
          // (MutationServeSpec pins it). Superseded VERSIONS and staging
          // debris keep the session guard — they have no commit clock.
          val (collectable, graceGoverned) =
            if (v.toInt < currentVersion) (true, false)  // superseded version
            else if (v.toInt > currentVersion) (false, false) // never touch newer
            else {
              // current version: classify the sibling
              val genK: Option[Int] =
                if (suffix == null) Some(0)
                else if (suffix.startsWith(GenSep) &&
                         suffix.drop(GenSep.length).forall(_.isDigit))
                  Some(suffix.drop(GenSep.length).toInt)
                else None
              genK match {
                case Some(k) if curGenK.contains(k) => (false, false) // current gen
                case Some(k) if committedKs.contains(k) =>
                  // superseded generation: collect once the reader grace
                  // window since the current generation's commit passed
                  (curGenK.exists(_ > k) && graceOver, true)
                case Some(_) =>
                  // uncommitted generation dir = crash debris — but only
                  // once it is old enough that no in-flight writer can
                  // plausibly still own it
                  (now - st.getModificationTime > GcStagingMinAgeMs, false)
                case None =>
                  // staging debris (.compacting/.refreshing/.genstage/
                  // .batch_*): same in-flight margin (round-13 advice)
                  (now - st.getModificationTime > GcStagingMinAgeMs, false)
              }
            }
          val qualified = fs.makeQualified(st.getPath).toString
          if (collectable &&
              (graceGoverned || !ensuredThisSession.contains(qualified))) {
            try if (fs.delete(st.getPath, true)) {
              deleted += st.getPath.toString
              ensuredThisSession.remove(qualified)
            }
            catch { case _: java.io.IOException => () }
          }
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }
    deleted.toSeq
  }

  /** Write-once BUCKETED table: bucket layout needs catalog metadata, but
    * the session catalog is in-memory (fresh per JVM), so "exists" has two
    * layers — if the table is registered, reuse it; if only the files
    * exist (written by an earlier session), re-register them as an
    * external bucketed table over the same location (no data rewrite);
    * else write bucketBy+sortBy parquet and register. Returns the
    * dir-and-version-keyed table name. (No refresh lifecycle — bucketed
    * tables are write-once, so no generation machinery here.) */
  def ensureBucketedTable(spark: SparkSession, kind: String, dir: String,
                          version: Int, buckets: Int, key: String)
                         (build: => DataFrame): String = {
    val table = s"${kind}_${tag(dir)}_v$version"
    if (!spark.catalog.tableExists(table)) {
      val p = artifactPath(spark, kind, dir, version)
      val marker = new Path(p, "_SUCCESS")
      if (fsOf(spark, marker).exists(marker)) {
        val schemaDdl = Tables.parquet(spark, p).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $table ($schemaDdl) USING parquet
             |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
             |LOCATION '$p'""".stripMargin)
      } else {
        build.write.mode("overwrite").format("parquet")
          .bucketBy(buckets, key).sortBy(key)
          .option("path", p).saveAsTable(table)
      }
    }
    table
  }
}

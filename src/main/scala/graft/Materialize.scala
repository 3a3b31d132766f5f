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
  *    them back into the build layout. No per-kind ensure/append/compact
  *    face exists.
  *  - **Staleness-guarded** — each artifact records a manifest of the
  *    input dir's direct children (name → mtime) at build/append time. A
  *    recorded child later MODIFIED or REMOVED marks the artifact stale:
  *    `ensure` rebuilds it, `append` refuses (the base the append would
  *    extend no longer exists). NEW children alone are a legitimate
  *    ingest increment — the key stays stable so the append lifecycle
  *    works — which is exactly the distinction a fingerprint folded into
  *    the key cannot make (it re-keys on every increment and the
  *    incremental path can never fire).
  *  - **Generation-pinned** (round 15) — every path this object returns
  *    (or [[servingPath]] resolves) is an IMMUTABLE COMMITTED GENERATION
  *    directory: no operation ever deletes or renames a file a committed
  *    generation holds (appends only ADD files). The swap faces
  *    ([[refreshWith]], [[compact]], a stale `ensure`) build the NEXT
  *    generation as a sibling (`<artifact>.gen-000001`, …) and commit it
  *    with one directory rename, so a reader holding a lazy plan over the
  *    prior generation keeps evaluating correctly THROUGH the swap; new
  *    resolutions see the new generation the instant its rename lands.
  *    [[invalidate]] tombstones instead of deleting for the same reason.
  *    [[gc]] reclaims superseded generations only after
  *    [[GcStagingMinAgeMs]] has passed since the CURRENT generation
  *    committed — the grace window a concurrent reader's in-flight
  *    request must finish within (MutationServeSpec pins the lifecycle).
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
    * distinct warehouses never share a lock. Readers don't lock. */
  private def locked[T](spark: SparkSession, handle: String)(body: => T): T = {
    val key = {
      val p = new Path(handle)
      fsOf(spark, p).makeQualified(p).toString
    }
    artifactLocks.computeIfAbsent(key, _ => new Object).synchronized(body)
  }

  /** Whether the artifact has a COMMITTED, non-tombstoned generation —
    * the refresh dispatchers' bootstrap test (a delta face needs a prior
    * to carry; absent ⇒ the first build is an ensure, not a refresh). */
  def isBuilt(spark: SparkSession, kind: String, dir: String, version: Int): Boolean = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    liveGen(fsOf(spark, handle), handle).isDefined
  }

  /** Whether the live generation is committed AND manifest-fresh — the
    * refresh dispatchers' precondition for their DELTA arm. A re-published
    * input (recorded child modified or removed) makes the prior rows an
    * invalid delta base ([[refreshWith]] rejects it), so a dispatcher
    * seeing `false` here routes to the exact rebuild instead. */
  def isDeltaBase(spark: SparkSession, kind: String, dir: String,
                  version: Int): Boolean = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    liveGen(fsOf(spark, handle), handle).exists { g =>
      readManifest(spark, g.path.toString)
        .exists(m => !staleAgainst(m, listInputs(spark, dir)))
    }
  }

  private val ManifestFile = "_GRAFT_INPUTS"

  /** A committed artifact must contain at least one DATA file: `_SUCCESS`
    * + manifest alone (a partially deleted dir) would otherwise read as a
    * silently EMPTY relation — a fast "success" that only the oracle gate
    * could catch, and only for gated queries. Checked on every ensure
    * (both the fresh build and the reuse path) and after compaction. */
  private def requireNonEmpty(spark: SparkSession, artifact: String): Unit = {
    val p = new Path(artifact)
    val fs = fsOf(spark, p)
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val n = it.next().getPath.getName
      found = !n.startsWith("_") && !n.startsWith(".")
    }
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

  /** Cheap content fingerprint of a directory, for driver-side memo keys
    * (e.g. admission-control cost predictions cached per stats state):
    * the FULL sorted (name, length, mtime) listing of direct children —
    * not a hash, so distinct states can never collide into a false cache
    * hit (a stale hit would silently pin the wrong dispatch plan, a far
    * worse failure than the sub-second re-prediction a miss costs). One
    * `listStatus`, no job, no data read; the string is
    * children-count-sized, fine for an in-memory key. Residual caveat,
    * same as [[listInputs]] and the staleness manifest: an edit that
    * preserves a child's name+length+mtime is invisible — then the dir
    * must be re-pathed or the artifact version bumped. */
  def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val entries =
      try fs.listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      catch { case _: java.io.IOException => Array.empty[String] }
    entries.sorted.mkString("\n")
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

  /** Build the NEXT generation: stage the build, finalize its metadata,
    * then commit with ONE directory rename — the instant the rename
    * lands, new resolutions see a complete generation (`_SUCCESS`,
    * manifest, any carried `_BATCH_` markers all present), and until it
    * lands they see the prior one. Prior generations are never touched
    * here; [[gc]] reclaims them after the grace window. */
  private def commitNextGen(spark: SparkSession, fs: FileSystem, handle: Path,
                            staging: Path, inputs: Option[Map[String, Long]]): String = {
    require(fs.exists(new Path(staging, "_SUCCESS")),
      s"build did not commit to $staging")
    inputs.foreach(writeManifest(spark, staging.toString, _))
    val gen = nextGenPath(fs, handle)
    if (fs.exists(gen)) fs.delete(gen, true) // unreachable: k > every sibling
    require(fs.rename(staging, gen), s"could not commit $staging to $gen")
    requireNonEmpty(spark, gen.toString)
    ensuredThisSession.add(fs.makeQualified(gen).toString)
    gen.toString
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
                      (build: String => Unit): String = locked(spark, handlePath) {
    val handle = new Path(handlePath)
    val fs = fsOf(spark, handle)
    liveGen(fs, handle) match {
      case Some(g)
        if readManifest(spark, g.path.toString)
          .exists(m => !staleAgainst(m, current)) =>
        // fresh — serve as-is (a pre-manifest artifact reads as stale:
        // provenance unknown)
        requireNonEmpty(spark, g.path.toString)
        ensuredThisSession.add(fs.makeQualified(g.path).toString)
        g.path.toString
      case Some(_) =>
        // stale — next generation; the stale one stays readable until gc
        val staging = new Path(handlePath + EnsureStagingSuffix)
        if (fs.exists(staging)) fs.delete(staging, true)
        build(staging.toString)
        commitNextGen(spark, fs, handle, staging, Some(current))
      case None if readGen(fs, handle).isDefined =>
        // only tombstoned generations remain (an invalidate) — rebuild as
        // the next generation; the tombstoned one keeps serving readers
        // that resolved before this commit
        val staging = new Path(handlePath + EnsureStagingSuffix)
        if (fs.exists(staging)) fs.delete(staging, true)
        build(staging.toString)
        commitNextGen(spark, fs, handle, staging, Some(current))
      case None =>
        // bootstrap: generation 0 builds in place at the handle (nothing
        // can be reading an artifact that never committed)
        build(handlePath)
        writeManifest(spark, handlePath, current)
        requireNonEmpty(spark, handlePath)
        ensuredThisSession.add(fs.makeQualified(handle).toString)
        handlePath
    }
  }

  /** Incremental artifact refresh — the materialized-layout face of the
    * reference's `add_entity` (geo_manager.py:451-476): `appendBuild(path)`
    * must finish with a committed `mode("append")` write, landing the new
    * batch's rows as NEW FILES in the current generation's existing
    * layout (same schema, same partitioning). Readers then see old ∪ new
    * — an append never deletes or renames, so plans already evaluating
    * stay valid (they simply don't see the new files until re-planned).
    *
    * Exactness holds for row-local derivations (posting explode, cell
    * assignment under a FROZEN codebook): derive(corpus ∪ batch) ==
    * derive(corpus) ∪ derive(batch), so append-then-read is bit-identical
    * to rebuild-then-read (IncrementalIndexSpec pins both index kinds).
    * The trade is file-level, not row-level: appended files cluster the
    * BATCH by the layout key, so per-file min/max stats stay tight but the
    * artifact accumulates one file set per batch — at scale a periodic
    * compaction ([[compact]], now a next-generation fold) restores the
    * single-sorted-run read. */
  private[graft] def append(spark: SparkSession, kind: String, dir: String, version: Int)
                            (appendBuild: String => Unit): String = {
    val handlePath = artifactPath(spark, kind, dir, version)
    locked(spark, handlePath) {
      val handle = new Path(handlePath)
      val fs = fsOf(spark, handle)
      val g = liveGen(fs, handle).getOrElse(throw new IllegalArgumentException(
        s"append to absent artifact $handlePath — build it with ensure() first"))
      val current = listInputs(spark, dir)
      require(readManifest(spark, g.path.toString)
          .exists(m => !staleAgainst(m, current)),
        s"append to STALE artifact ${g.path} — a recorded input of $dir was " +
          "modified or removed; rebuild with ensure() first")
      appendBuild(g.path.toString)
      // future staleness checks compare against the post-append input state
      writeManifest(spark, g.path.toString, current)
      g.path.toString
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
                 version: Int): Boolean = {
    val handlePath = artifactPath(spark, kind, dir, version)
    locked(spark, handlePath) {
      val handle = new Path(handlePath)
      val fs = fsOf(spark, handle)
      liveGen(fs, handle) match {
        case None => false
        case Some(g) =>
          fs.create(new Path(g.path, TombstoneFile), true).close()
          true
      }
    }
  }

  /** Periodic compaction of an appended artifact: every [[append]] lands
    * one batch-sized file set, so reads accumulate small files and lose
    * the single-sorted-run property; `rewrite(current, tmpPath)` must
    * re-derive the CANONICAL layout (the same write [[ensure]]'s build
    * performs) from the artifact's current contents into `tmpPath`, which
    * is then committed as the NEXT GENERATION. Contents are unchanged
    * — compaction reorganizes files, it does not re-derive from source —
    * so compact-then-read == read (IncrementalIndexSpec pins it against a
    * wholesale rebuild). The prior generation's files are never touched:
    * concurrent readers mid-plan keep a complete artifact; [[gc]]
    * reclaims it after the grace window. */
  private[graft] def compact(spark: SparkSession, kind: String, dir: String, version: Int)
                             (rewrite: (DataFrame, String) => Unit): String = {
    val handlePath = artifactPath(spark, kind, dir, version)
    locked(spark, handlePath) {
      val handle = new Path(handlePath)
      val fs = fsOf(spark, handle)
      val g = liveGen(fs, handle).getOrElse(throw new IllegalArgumentException(
        s"compact of absent artifact $handlePath — build it with ensure() first"))
      val cur = g.path
      // repair BEFORE folding: a crashed appendBatch attempt leaves
      // `batch-<tag>-` data files with no `_BATCH_<tag>` marker; folding
      // them into the canonical layout would bake the partial batch in,
      // and the tag's later at-least-once replay (marker still absent)
      // would re-add the whole batch — duplicating the folded rows. The
      // partial attempt is dropped here instead, under the same safety
      // argument as appendBatch's own repair path: its writer JVM is dead.
      // membership is marker-driven (file startsWith "batch-<tag>-" for a
      // committed tag), never parsed out of the file name — an artifact
      // appended by an older build whose tags contained '-' would otherwise
      // have its COMMITTED files misread as crashed attempts and deleted
      val committedTags = fs.listStatus(cur).map(_.getPath.getName)
        .filter(_.startsWith("_BATCH_")).map(_.stripPrefix("_BATCH_")).toSet
      fs.listStatus(cur).filter { f =>
        val n = f.getPath.getName
        n.startsWith("batch-") &&
          !committedTags.exists(t => n.startsWith(s"batch-$t-"))
      }.foreach(f => fs.delete(f.getPath, false))
      val tmp = new Path(handlePath + ".compacting")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      val manifest = readManifest(spark, cur.toString)
      rewrite(Tables.parquet(spark, cur.toString), tmp.toString)
      require(fs.exists(new Path(tmp, "_SUCCESS")),
        s"rewrite did not commit to $tmp")
      // batch-append commit markers survive the file reorganization, so a
      // late at-least-once replay of an already-folded batch still
      // short-circuits in appendBatch instead of re-adding its rows
      fs.listStatus(cur).filter(_.getPath.getName.startsWith("_BATCH_"))
        .foreach(f => fs.create(new Path(tmp, f.getPath.getName), true).close())
      // compaction reorganizes files, it does not re-derive: provenance of
      // the contents (the input manifest) carries over unchanged
      commitNextGen(spark, fs, handle, tmp, manifest)
    }
  }

  /** Committed batches appended since the last canonical fold: the
    * distinct tags among `batch-<tag>-` DATA files ([[compact]] folds
    * those files into the next generation's canonical layout; the
    * `_BATCH_` markers deliberately SURVIVE compaction for replay
    * short-circuiting, so the marker count is lifetime-total, never
    * pending). Uncommitted partial attempts (data files whose marker is
    * absent) don't count — they are repair debt, not read debt that
    * compaction is scheduled against. One driver-side listing of one
    * artifact dir — bounded. */
  def pendingBatches(spark: SparkSession, kind: String, dir: String,
                     version: Int): Int = {
    val handle = new Path(artifactPath(spark, kind, dir, version))
    val fs = fsOf(spark, handle)
    readGen(fs, handle) match {
      case None => 0
      case Some(g) =>
        val names = fs.listStatus(g.path).map(_.getPath.getName)
        val committed = names.filter(_.startsWith("_BATCH_"))
          .map(_.stripPrefix("_BATCH_"))
        val data = names.filter(_.startsWith("batch-"))
        // marker-driven, like compact's repair: a tag is pending iff its
        // own data files are still unfolded (robust to legacy '-' tags)
        committed.count(t => data.exists(_.startsWith(s"batch-$t-")))
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

  /** The compact-vs-defer choice as a pure rule ([[refreshPlan]]
    * precedent, one lifecycle stage down): fold once the committed
    * pending-batch count reaches the budget. */
  def compactPlan(pending: Long, maxPending: Long = CompactPendingMax): Boolean =
    pending >= maxPending

  // ---------------------------------------------------------------- //
  // descriptor faces: the one lifecycle of every appendable kind       //
  // ---------------------------------------------------------------- //

  /** Build `a` from `input` unless a fresh generation stands (the closure
    * [[ensure]] with the descriptor's derive and build-side layout).
    * `input` is by-name: an ensure hit never constructs it. */
  def ensure(spark: SparkSession, a: Artifact, dir: String,
             input: => DataFrame): String =
    ensure(spark, a.kind, dir, a.version)(
      a.write(a.derive(input), _, "overwrite", appending = false))

  /** Land `batch`'s derived rows as new files in `a`'s append-side layout.
    * With a `batchTag` the append is the idempotent, replay-safe
    * [[appendBatch]] (at-least-once callers); without one, a plain
    * [[append]]. */
  def append(spark: SparkSession, a: Artifact, dir: String, batch: DataFrame,
             batchTag: Option[String] = None): String = {
    def write(p: String, mode: String): Unit =
      a.write(a.derive(batch), p, mode, appending = true)
    batchTag match {
      case Some(t) =>
        // appendBatch renames the staged top-level entries into the
        // generation; `cell=` directories renamed that way would no
        // longer read as partitions
        require(a.layout != Artifact.Cells,
          s"${a.kind} is cell-partitioned: batch-tagged appends are unsupported")
        appendBatch(spark, a.kind, dir, a.version, t)(write(_, "overwrite"))
      case None => append(spark, a.kind, dir, a.version)(write(_, "append"))
    }
  }

  /** Fold `a`'s current rows into the next generation in the build-side
    * layout ([[compact]]). */
  def compact(spark: SparkSession, a: Artifact, dir: String): String =
    compact(spark, a.kind, dir, a.version)((cur, tmp) =>
      a.write(a.fold(cur), tmp, "overwrite", appending = false))

  /** [[compact]] behind the dispatch: folds when [[compactPlan]] says the
    * appended file debt is due, no-ops otherwise. Returns the CURRENT
    * generation path (the new fold, or the standing generation on defer)
    * and the decision string ("compact" | "defer"), the
    * refresh-dispatcher convention — probes record the decision next to
    * the wall so a replica that dispatched wrong is visible in the line. */
  def compactIfDue(spark: SparkSession, a: Artifact, dir: String,
                   maxPending: Long = CompactPendingMax): (String, String) =
    if (compactPlan(pendingBatches(spark, a.kind, dir, a.version), maxPending))
      (compact(spark, a, dir), "compact")
    else (servingPath(spark, a.kind, dir, a.version), "defer")

  /** In-place-IDENTITY artifact refresh from its own prior contents —
    * the DELTA face of [[invalidate]]+[[ensure]]: `build(prior, tmpPath)`
    * derives the artifact's NEW contents (it may read the prior
    * generation's rows) and commits them to `tmpPath`, which is then
    * committed as the NEXT GENERATION. Unlike [[compact]], the result is
    * a RE-DERIVATION against the current inputs, so a fresh manifest is
    * recorded and staleness tracks the new provenance. The PRIOR
    * generation must itself be manifest-fresh (same check as [[append]]):
    * a delta build carries the prior's rows forward for untouched keys,
    * so refreshing over a re-published input would launder the staleness
    * into a fresh-manifested artifact that ensure() then serves forever.
    * `_BATCH_` replay markers carry forward (the prior's appended rows
    * are inside the prior the delta reads, so a late at-least-once
    * replay must keep short-circuiting). The prior generation's files
    * are never touched — concurrent readers keep a complete artifact
    * through the swap; [[gc]] reclaims it after the grace window. */
  def refreshWith(spark: SparkSession, kind: String, dir: String, version: Int)
                 (build: (DataFrame, String) => Unit): String = {
    val handlePath = artifactPath(spark, kind, dir, version)
    locked(spark, handlePath) {
      val handle = new Path(handlePath)
      val fs = fsOf(spark, handle)
      val g = liveGen(fs, handle).getOrElse(throw new IllegalArgumentException(
        s"refresh of absent artifact $handlePath — build it with ensure() first"))
      val current = listInputs(spark, dir)
      require(readManifest(spark, g.path.toString)
          .exists(m => !staleAgainst(m, current)),
        s"refresh of STALE artifact ${g.path} — a recorded input of $dir was " +
          "modified or removed, so the prior rows are not a valid delta " +
          "base; rebuild with invalidate()+ensure() instead")
      val tmp = new Path(handlePath + ".refreshing")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      build(Tables.parquet(spark, g.path.toString), tmp.toString)
      require(fs.exists(new Path(tmp, "_SUCCESS")),
        s"refresh did not commit to $tmp")
      fs.listStatus(g.path).filter(_.getPath.getName.startsWith("_BATCH_"))
        .foreach(f => fs.create(new Path(tmp, f.getPath.getName), true).close())
      commitNextGen(spark, fs, handle, tmp, Some(current))
    }
  }

  /** Idempotent, batch-keyed variant of [[append]] for AT-LEAST-ONCE
    * delivery — a Structured Streaming `foreachBatch` re-runs a
    * micro-batch after a failure, and a plain append would then hold the
    * batch's derived rows twice. A tag that COMPLETED (its `_BATCH_<tag>`
    * commit marker exists in the current generation) short-circuits to a
    * no-op: the healthy-replay path never touches a single file, so lazy
    * plans other code holds over the artifact (a verdict DataFrame, a
    * running stream's static side) stay valid through the replay. Only a
    * genuinely PARTIAL prior attempt — marker absent, tag-prefixed files
    * possibly present from a crash — takes the repair path: the batch's
    * rows are staged to a temp dir (a committed parquet write), the
    * partial attempt's files are deleted, the staged data files move in
    * under tag-prefixed names, and the marker is created LAST as the
    * commit point. The repair can itself die midway; the next replay
    * repairs again, so a tag always converges to exactly one copy of its
    * rows. Nobody can be evaluating a plan over the crashed attempt's
    * files (that JVM died), which is what makes the delete safe exactly
    * where it can happen. (Distinct tags must mean distinct batches —
    * the caller's contract, which `foreachBatch` batch ids satisfy.)
    * Same existence/staleness preconditions and manifest roll-forward as
    * [[append]]; [[compact]] folds the tag-prefixed files into the next
    * generation like any other appended file set but carries the markers
    * forward, so a late replay after a compaction still short-circuits
    * instead of re-adding its rows. */
  private[graft] def appendBatch(spark: SparkSession, kind: String, dir: String,
                                 version: Int, batchTag: String)(build: String => Unit): String = {
    // no '-' in tags: keeps `batch-<tag>-` prefixes prefix-free across
    // tags, so a committed tag's prefix can never also match another
    // tag's crashed-attempt files (the repair paths match marker-driven
    // prefixes; ambiguity would make a kept orphan possible)
    require(batchTag.matches("[A-Za-z0-9_]+"),
      s"batch tag '$batchTag' must be filesystem-safe ([A-Za-z0-9_]+)")
    val handlePath = artifactPath(spark, kind, dir, version)
    locked(spark, handlePath) {
      val handle = new Path(handlePath)
      val fs = fsOf(spark, handle)
      val g = liveGen(fs, handle).getOrElse(throw new IllegalArgumentException(
        s"append to absent artifact $handlePath — build it with ensure() first"))
      val cur = g.path
      val marker = new Path(cur, s"_BATCH_$batchTag")
      if (!fs.exists(marker)) {
        val current = listInputs(spark, dir)
        require(readManifest(spark, cur.toString)
            .exists(m => !staleAgainst(m, current)),
          s"append to STALE artifact $cur — a recorded input of $dir was " +
            "modified or removed; rebuild with ensure() first")
        val staging = new Path(handlePath + s".batch_$batchTag")
        if (fs.exists(staging)) fs.delete(staging, true)
        build(staging.toString)
        require(fs.exists(new Path(staging, "_SUCCESS")),
          s"batch build did not commit to $staging")
        val prefix = s"batch-$batchTag-"
        fs.listStatus(cur).filter(_.getPath.getName.startsWith(prefix))
          .foreach(f => fs.delete(f.getPath, false))
        fs.listStatus(staging)
          .filter { f =>
            val n = f.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          }
          .foreach(f => fs.rename(f.getPath, new Path(cur, prefix + f.getPath.getName)))
        fs.create(marker, true).close()
        fs.delete(staging, true)
        writeManifest(spark, cur.toString, current)
      }
      cur.toString
    }
  }

  /** Corpus-size floor under which a refresh dispatches to the exact
    * rebuild: below it the delta's fixed probe-plan overhead exceeds the
    * whole rebuild (measured on BOTH refreshWith families — docglobal:
    * gate 500 docs rebuild 1.3 s vs delta 3.6 s, 10× 50k docs 16.3 s vs
    * 5.9–8.2 s; champion: 10× rebuild 2.4 s vs delta 2.0 s, 100× 8.7 s
    * vs 1.8 s — SCALE.md §round-12). The floor sits inside the measured
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

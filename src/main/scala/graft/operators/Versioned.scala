package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned directory layout for multi-file artifacts (indexes,
  * compacted tables) that must stay readable while being rebuilt.
  *
  * A writer materializes everything under `path/_v=N` (N = latest+1),
  * drops a `_COMMITTED` marker inside it, then atomically renames a
  * pointer file `path/_latest.tmp` → `path/_latest` containing N.
  * Readers resolve through the pointer (falling back to the highest
  * committed version if the pointer is mid-swap), so they only ever
  * see a COMPLETE version:
  *
  *  - a crash before `_COMMITTED` leaves an orphan dir that is never
  *    resolved and is reclaimed by the next writer's [[prune]];
  *  - a crash between marker and pointer leaves the pointer stale but
  *    the fallback scan still finds the newer committed version;
  *  - concurrent readers of version N keep reading N while N+1 is
  *    written — [[prune]] keeps the previous version for exactly this
  *    window (readers slower than one full rebuild cycle need a real
  *    table format with snapshot isolation, e.g. Iceberg/Delta).
  *
  * Rename is atomic on local filesystems and HDFS; object stores
  * without atomic rename get last-writer-wins on the tiny pointer,
  * which still never exposes a partial version (the pointed-to dir is
  * complete before the pointer moves).
  */
object Versioned {
  private val Marker = "_COMMITTED"
  private val Pointer = "_latest"
  private val Lock = "_LOCK"

  /** How long a `_LOCK` left by a crashed writer blocks the next one
    * before being stolen. Mutations are maintenance-cadence (rebuild,
    * append, compaction), so an hour of conservatism costs nothing;
    * stealing too eagerly would let a slow-but-alive writer be
    * overlapped — the corruption the lock exists to prevent.
    */
  private[operators] val LockTtlMs: Long = 60L * 60 * 1000

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(name: String): Option[Int] =
    if (name.startsWith("_v=")) name.stripPrefix("_v=").toIntOption else None

  private def committedVersions(f: FileSystem, root: Path): Seq[Int] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(s => versionOf(s.getPath.getName))
      .filter(v => f.exists(new Path(root, s"_v=$v/$Marker")))

  private def pointerVersion(f: FileSystem, root: Path): Option[Int] = {
    val p = new Path(root, Pointer)
    // open unconditionally and treat a missing file as None: an
    // exists() pre-check would race commitNew's delete+rename swap and
    // crash a concurrent reader — the exact failure this layout exists
    // to prevent (resolve() then falls back to the committed-dir scan)
    try {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim.toIntOption
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The current committed version's directory, if any. Trusts the
    * pointer when it names a committed version; otherwise falls back
    * to the highest committed version on disk.
    */
  def resolve(spark: SparkSession, path: String): Option[String] = {
    val root = new Path(path)
    val f = fs(spark, root)
    val ptr = pointerVersion(f, root)
      .filter(v => f.exists(new Path(root, s"_v=$v/$Marker")))
    ptr.orElse(committedVersions(f, root).maxOption)
      .map(v => new Path(root, s"_v=$v").toString)
  }

  /** [[resolve]], or the one failure every reader, appender and
    * compactor of a versioned artifact raises when nothing is
    * committed at `path`: an `IllegalStateException` naming the path
    * and `what` — the artifact and the writer that builds it, e.g.
    * `"semdedup index (Semdedup.writeIndex)"`.
    */
  def committed(spark: SparkSession, path: String, what: String): String =
    resolve(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed $what at $path"))

  /** EXACT same-process mutual exclusion, keyed by canonical root: the
    * `_LOCK` file below is NOT atomic on every FileSystem —
    * RawLocalFileSystem's create(path, overwrite=false) is a
    * check-then-act (exists? then open), so two threads of one driver
    * hitting it simultaneously can BOTH "create" the lock and both
    * enter the critical section (observed: both computed delta_1 and
    * collided in the tmp dir). Same-process writers — the dominant
    * case: one Spark driver, many streams/threads — therefore
    * serialize on this monitor FIRST; the file lock only has to fence
    * cross-process writers, where a human or scheduler already spaces
    * them out.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def jvmLockFor(f: FileSystem, root: Path): Object =
    jvmLocks.computeIfAbsent(f.makeQualified(root).toString, _ => new Object)

  /** Best-effort writer mutual exclusion: create-exclusive `_LOCK`
    * under the root so two mutators (a rebuild overlapping an append,
    * two appends) fail fast instead of computing the same next version
    * and silently mixing their files. A lock older than [[LockTtlMs]]
    * is presumed abandoned by a crashed writer and stolen. Best-effort
    * by design: object stores without atomic create-exclusive degrade
    * to advisory — the layout is still single-writer BY CONTRACT, the
    * lock just turns a contract violation into a loud error on
    * filesystems that can. Same-process exactness comes from
    * [[jvmLockFor]], which callers MUST hold around acquire→release.
    */
  private def acquireLock(f: FileSystem, root: Path): Path = {
    val lock = new Path(root, Lock)
    def tryCreate(): Boolean =
      try { f.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val age = try System.currentTimeMillis() - f.getFileStatus(lock).getModificationTime
                catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age < LockTtlMs)
        throw new java.io.IOException(
          s"$root is locked by another writer ($lock, ${age / 1000}s old); " +
            "Versioned artifacts are single-writer — serialize mutations, " +
            "or delete the stale lock if its writer is known dead")
      f.delete(lock, false) // expired: presumed crashed writer
      if (!tryCreate())
        throw new java.io.IOException(s"lost race re-acquiring expired lock $lock")
    }
    lock
  }

  /** Write a new version: `write` receives the fresh `path/_v=N` dir
    * to fill; on success the version is marked committed and the
    * pointer swaps to it. Returns the committed version dir. Old
    * versions beyond the previous one are pruned (never the one a
    * concurrent reader just resolved). Writers are serialized by the
    * best-effort `_LOCK` (see [[acquireLock]]); readers never look at
    * the lock.
    */
  def commitNew(spark: SparkSession, path: String)(write: String => Unit): String = {
    val root = new Path(path)
    val f = fs(spark, root)
    f.mkdirs(root)
    jvmLockFor(f, root).synchronized {
    val lock = acquireLock(f, root)
    try {
      val next = (pointerVersion(f, root).toSeq ++ committedVersions(f, root))
        .maxOption.getOrElse(0) + 1
      val vdir = new Path(root, s"_v=$next")
      // a half-written orphan from a crashed previous attempt at this N
      // would otherwise merge with ours
      if (f.exists(vdir)) f.delete(vdir, true)
      write(vdir.toString)
      f.create(new Path(vdir, Marker), true).close()
      val tmp = new Path(root, Pointer + ".tmp")
      val out = f.create(tmp, true)
      out.write(next.toString.getBytes("UTF-8"))
      out.close()
      f.delete(new Path(root, Pointer), false)
      f.rename(tmp, new Path(root, Pointer))
      prune(spark, path, keep = 2)
      vdir.toString
    } finally f.delete(lock, false)
    }
  }

  /** Atomic APPEND inside a committed version: `write` fills a hidden
    * tmp dir which is then renamed to `versionDir/delta_N` in one
    * atomic step — readers either see the whole delta or none of it.
    *
    * This is the O(batch) counterpart of [[commitNew]]: a new version
    * is the unit of atomic REPLACE (rebuild/compaction — pays a full
    * rewrite by definition), a delta is the unit of atomic APPEND (pays
    * only the new rows). Deltas deliberately live INSIDE the current
    * version rather than as a new version: a delta-only version would
    * either have to rewrite the base to stay self-contained (O(index)
    * per append — the defect this exists to fix) or chain to its
    * predecessor, and then [[prune]] deleting an old version would
    * sever every later version's base. Readers resolve the version
    * once and scan base + renamed deltas ([[readTable]]); [[prune]]'s
    * keep-2 window covers them across a compaction exactly as before.
    *
    * Takes the same root `_LOCK` as [[commitNew]], AND re-resolves the
    * root under that lock requiring `versionDir` to still be the
    * current version — so an append racing a rebuild/compaction fails
    * fast even when the caller resolved (and computed its delta
    * against) `versionDir` before the lock was taken. Without the
    * re-check a compaction landing in that window leaves `versionDir`
    * committed-but-superseded (prune's keep-2 retains it for readers)
    * and the delta's rows would silently vanish from every subsequent
    * read.
    */
  def commitDelta(spark: SparkSession, root: String, versionDir: String)
                 (write: String => Unit): String =
    commitDeltaIf(spark, root, versionDir)(true)(write)
      .getOrElse(sys.error("unreachable: unconditional delta commit skipped"))

  /** [[commitDelta]] with a precondition evaluated UNDER the writer
    * `_LOCK` (after the superseded re-check): the commit proceeds only
    * if `guard` is true, else nothing is written and None returns.
    *
    * This closes check-then-act races a caller-side pre-check cannot:
    * e.g. a duplicate-batch-tag test run before the lock lets two
    * concurrent appends carrying the same tag both pass and both
    * commit — for non-idempotent content (sketch merges) that silently
    * double-counts. Re-evaluating the guard here serializes the check
    * with every other locked commit.
    */
  def commitDeltaIf(spark: SparkSession, root: String, versionDir: String)
                   (guard: => Boolean)
                   (write: String => Unit): Option[String] = {
    val rootP = new Path(root)
    val vdir = new Path(versionDir)
    val f = fs(spark, vdir)
    require(f.exists(new Path(vdir, Marker)),
      s"$versionDir is not a committed version — deltas append to committed versions only")
    jvmLockFor(f, rootP).synchronized {
    val lock = acquireLock(f, rootP)
    try {
      // re-resolve under the lock: the caller resolved versionDir (and
      // typically computed its delta against it) BEFORE we serialized,
      // so a rebuild/compaction landing in that window would leave
      // versionDir committed-but-superseded (prune keeps it for
      // readers) — appending there silently drops the rows from every
      // subsequent read. The _COMMITTED check above can't see this;
      // only comparing against the CURRENT pointer can.
      // compare CANONICAL paths: the caller may hold a scheme-qualified
      // versionDir (file:/... from a FileStatus/listing) while resolve()
      // returns the unqualified string form — raw Path equality would
      // spuriously throw 'superseded' for the genuinely-current version
      val current = resolve(spark, root)
      if (!current.map(p => f.makeQualified(new Path(p)))
            .contains(f.makeQualified(vdir)))
        throw new java.io.IOException(
          s"$versionDir was superseded (current: ${current.getOrElse("none")}) " +
            "while this append was being prepared — re-resolve the index and retry")
      if (!guard) None
      else {
        // reclaim tmp dirs abandoned by crashed appends (hidden names —
        // never visible to readers, but they accumulate)
        f.listStatus(vdir).foreach { s =>
          if (s.getPath.getName.startsWith(".delta_tmp_")) f.delete(s.getPath, true)
        }
        val next = listDeltas(spark, versionDir)
          .flatMap(d => new Path(d).getName.stripPrefix("delta_").toIntOption)
          .maxOption.getOrElse(0) + 1
        val tmp = new Path(vdir, s".delta_tmp_$next")
        write(tmp.toString)
        val target = new Path(vdir, s"delta_$next")
        if (!f.rename(tmp, target))
          throw new java.io.IOException(s"delta commit rename $tmp -> $target failed")
        Some(target.toString)
      }
    } finally f.delete(lock, false)
    }
  }

  /** The committed deltas of a version dir, in commit order. Only
    * fully-renamed `delta_N` dirs appear — a crashed append's hidden
    * tmp dir is invisible here and reclaimed by the next append.
    */
  def listDeltas(spark: SparkSession, versionDir: String): Seq[String] = {
    val vdir = new Path(versionDir)
    val f = fs(spark, vdir)
    if (!f.exists(vdir)) Nil
    else f.listStatus(vdir).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("delta_")) n.stripPrefix("delta_").toIntOption.map(i => (i, s.getPath.toString))
        else None
      }
      .sortBy(_._1).map(_._2)
  }

  /** Whether delta dir `delta` carries the `_TAG_<tag>` marker a
    * streaming writer drops to record its (query, batch) identity.
    */
  private def carriesTag(f: FileSystem, delta: String, tag: String): Boolean =
    f.exists(new Path(delta, s"_TAG_$tag"))

  /** The committed deltas of a version dir minus those tagged
    * `excludeTag`. A streaming replay must score against the
    * PRE-append view of an index: deltas committed by an earlier run
    * of the SAME micro-batch are left out, so a crash between an
    * append and the checkpoint commit re-scores identically instead
    * of matching the batch's own rows.
    */
  def liveDeltas(spark: SparkSession, versionDir: String,
                 excludeTag: Option[String] = None): Seq[String] = {
    val all = listDeltas(spark, versionDir)
    excludeTag.fold(all) { t =>
      val f = fs(spark, new Path(versionDir))
      all.filterNot(carriesTag(f, _, t))
    }
  }

  /** The committed delta of `versionDir` carrying `tag`, if any. As
    * a guard ("no live delta carries this batch's tag") it protects an
    * append derived from a tag-excluded read — pass it to
    * [[commitDeltaIf]] so it is evaluated under the writer lock.
    */
  def taggedDelta(spark: SparkSession, versionDir: String, tag: String): Option[String] = {
    val f = fs(spark, new Path(versionDir))
    listDeltas(spark, versionDir).find(carriesTag(f, _, tag))
  }

  /** Table `sub` of a committed version — the base plus every live
    * delta (see [[liveDeltas]]) — as ONE parquet scan ([[scan]]): no
    * job runs at read time, and the plan keeps one file-scan leaf
    * whatever the delta count, so its shape (and its generated code)
    * stays the same from one micro-batch to the next.
    */
  def readTable(spark: SparkSession, versionDir: String, sub: String,
                excludeTag: Option[String] = None,
                schema: Option[StructType] = None): DataFrame =
    scan(spark, (versionDir +: liveDeltas(spark, versionDir, excludeTag))
      .map(d => s"$d/$sub"), schema)

  /** One `spark.read.schema(s).parquet(dirs: _*)` scan over parquet
    * dirs of one table. `schema` is the caller's when the type is
    * fixed (flat tables only); otherwise it comes from ONE parquet
    * footer read on the driver (the first data file found, in `dirs`
    * order), never from Spark's inference job. Files are read by
    * column NAME, so a dir written with another column order still
    * lines up. Listing stays on the driver while `dirs` is at most
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) —
    * compaction keeps delta counts under it.
    *
    * A PARTITIONED table (`col=value` subdirs) cannot be one scan:
    * Spark's partition discovery needs a single base path, and each
    * dir is its own. It reads as a union of per-dir scans of the
    * footer schema — still no job at read time. Dirs with no data
    * file at all fall back to plain inference (which fails as before
    * on an all-empty table).
    */
  def scan(spark: SparkSession, dirs: Seq[String],
           schema: Option[StructType] = None): DataFrame = {
    def read(s: StructType, ds: Seq[String]) = spark.read.schema(s).parquet(ds: _*)
    schema match {
      case Some(s) => read(s, dirs)
      case None => firstDataFile(spark, dirs) match {
        case None => spark.read.parquet(dirs: _*)
        case Some((file, partitioned)) =>
          val s = footerSchema(spark, file)
          if (!partitioned) read(s, dirs)
          else dirs.map(d => read(s, Seq(d))).reduce(_ unionByName _)
      }
    }
  }

  /** The first parquet data file under `dirs` (recursively, hidden
    * names skipped), and whether it sits in a `col=value` partition
    * dir.
    */
  private def firstDataFile(spark: SparkSession,
                            dirs: Seq[String]): Option[(Path, Boolean)] = {
    val conf = spark.sessionState.newHadoopConf()
    // Spark's hidden-path rule (InMemoryFileIndex): `_x=v` partition
    // dirs stay visible
    def visible(p: Path): Boolean = {
      val n = p.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    }
    dirs.iterator.map(new Path(_)).flatMap { d =>
      val f = d.getFileSystem(conf)
      val root = f.makeQualified(d)
      if (!f.exists(root)) Iterator.empty
      else {
        val it = f.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).flatMap { st =>
          val below = Iterator.iterate(st.getPath)(_.getParent)
            .takeWhile(q => q != null && q != root).toSeq
          if (below.forall(visible))
            Some((st.getPath, below.tail.exists(_.getName.contains("="))))
          else None
        }
      }
    }.nextOption()
  }

  /** The Spark schema stored in one parquet file's footer. */
  private def footerSchema(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    import org.apache.spark.sql.execution.datasources.parquet._
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Delete all but the newest `keep` committed versions plus any
    * uncommitted orphans older than the newest committed one.
    */
  def prune(spark: SparkSession, path: String, keep: Int = 2): Unit = {
    val root = new Path(path)
    val f = fs(spark, root)
    if (!f.exists(root)) return
    val committed = committedVersions(f, root).sorted
    val keepSet = committed.takeRight(keep).toSet
    val newest = committed.maxOption.getOrElse(Int.MaxValue)
    f.listStatus(root).foreach { s =>
      versionOf(s.getPath.getName).foreach { v =>
        val isCommitted = committed.contains(v)
        if ((isCommitted && !keepSet(v)) || (!isCommitted && v < newest))
          f.delete(s.getPath, true)
      }
    }
  }
}
